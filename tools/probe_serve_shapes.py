"""Where a WAND serve should switch shape: the same calls, each shape forced
in turn, in one Spark session.

``wand_topk`` picks one of three shapes from the planner's byte counts
(``wand.SERVE_TASK_BYTES``, ``wand.SERVE_SCAN_BYTES``):

* ``one``  — scan, kernels and merge in one task (no exchange);
* ``fed``  — the scan in its own tasks, one exchange into the one serve
  task (no window);
* ``many`` — a (q_id, serve_shard) exchange over ``defaultParallelism``
  tasks and a merge window.

Each round runs every arm once (the order reverses every other round) and
appends one JSON record per call: arm, wall seconds, and the planner's
``bytes_scanned`` / ``bytes_gathered``. Parts:

* ``bulk REPS ROUNDS`` — 8 mixed rare+head queries repeated REPS times
  (comma-separated list) on a cached 100k-doc crawl-order index, k=10:
  the gather crossover;
* ``scan DOCS ROUNDS`` — one query, a rare term plus 5/10/20/40 head
  terms, on an uncached DOCS-doc crawl-order index: the scan crossover;
* ``serve SEED`` / ``batch SEED`` — perfbench's serve requests and batch
  calls (its corpus and queries for SEED).

Usage: python tools/probe_serve_shapes.py OUT.jsonl PART ARGS...
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.update({"SPARK_GRAFT_CPUS": "4", "SPARK_DRIVER_MEM": "2g", "PYTHONPATH": REPO})

from sparkforward import wand  # noqa: E402
from sparkforward.session import get_spark  # noqa: E402

BIG = 1 << 62
#: arm -> (SERVE_TASK_BYTES, SERVE_SCAN_BYTES) forcing that shape
ARMS = {"one": (BIG, BIG), "fed": (BIG, 0), "many": (0, BIG)}
QUERIES = [
    "tail500 query join", "tail200 tail500 the", "tail1000 spark data",
    "tail300 filter stream", "tail150 tail700 merge", "tail2000 table hash",
    "tail450 scan column", "tail900 big value",
]


def main(out: str, part: str, args: list[str]) -> None:
    work = tempfile.mkdtemp(prefix=f"sfwd_probe_{part}_")
    rule = (wand.SERVE_TASK_BYTES, wand.SERVE_SCAN_BYTES)
    topk = wand.wand_topk
    arm, last = {"v": None}, {}

    def forced(*a, **kw):
        io: dict = {}
        wand.SERVE_TASK_BYTES, wand.SERVE_SCAN_BYTES = ARMS.get(arm["v"], rule)
        df = topk(*a, io_stats=io, **kw)
        last.update(io)
        return df

    wand.wand_topk = forced  # perfbench's workloads import it per call
    spark = get_spark()

    def run_arms(label, arms, call, rounds):
        for i in range(rounds):
            for a in arms if i % 2 == 0 else arms[::-1]:
                arm["v"] = a
                t0 = time.perf_counter()
                call()
                rec = {"part": label, "round": i, "arm": a,
                       "wall": round(time.perf_counter() - t0, 4),
                       "scanned": last.get("bytes_scanned"),
                       "gathered": last.get("bytes_gathered")}
                with open(out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
                print(rec, flush=True)
        arm["v"] = None

    if part in ("serve", "batch"):
        from perfbench import spans
        from perfbench.workloads import Batch, Serve

        w = (Serve if part == "serve" else Batch)(int(args[0]), work, spans.Spans())
        w.make_inputs()
        w.setup(spark)
        if part == "serve":
            run_arms("serve", ["one", "fed", "many"], lambda: w.request(spark), 60)
        else:
            run_arms("batch", ["one", "many"], lambda: w.call(spark), 18)
    else:
        from sparkforward.postings import PostingIndex, build_inverted_index
        from sparkforward.webtext import VOCAB, synthesize_webpages, webpages_as_documents

        docs = 100_000 if part == "bulk" else int(args[0])
        corpus = os.path.join(work, "corpus")
        webpages_as_documents(
            synthesize_webpages(spark, docs, num_partitions=32, locality=True)
        ).write.parquet(corpus)
        path = os.path.join(work, "index")
        build_inverted_index(spark.read.parquet(corpus), path,
                             salt_threshold=docs // 10, n_salt=16, num_partitions=32)
        index = PostingIndex.load(spark, path)
        if part == "bulk":
            index = index.cache()
            index.postings.count()
            sets = {f"bulk{8 * int(r)}": QUERIES * int(r) for r in args[0].split(",")}
        else:
            sets = {f"scan{n}": ["tail500 " + " ".join(VOCAB[:n])] for n in (5, 10, 20, 40)}
        for label, texts in sets.items():
            qdf = spark.createDataFrame(
                [(f"b{i}", q) for i, q in enumerate(texts)], "q_id string, query string"
            )
            wand.wand_topk(index, qdf, k=10).count()  # warm-up
            arms = ["one", "many"] if part == "bulk" else ["one", "fed", "many"]
            run_arms(label, arms, lambda qdf=qdf: wand.wand_topk(index, qdf, k=10).count(),
                     int(args[1]))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
