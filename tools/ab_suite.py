"""One drift-A/B leg timing the FULL 12-entry bench suite from a snapshot.

Same methodology/order as bench.py's suite section (warmup, the 10 headline
queries through the noop sink, the 100k index build, best-of-6 wand serve),
but parameterized by --repo so interleaved legs compare two snapshots in the
same drift window. Prints one JSON line.

    python tools/ab_suite.py --repo /root/repo
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

BENCH_QUERIES = [
    "bm25_topk",
    "interpolate_rerank",
    "rr_fusion",
    "mode_maxp",
    "mode_passage",
    "similarity_topk",
    "token_count",
    "text_quality",
    "dedup_exact",
    "early_stopping",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--build-docs", type=int, default=100_000)
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get("PYTHONPATH", "")

    from sparkforward.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="ab-suite", cores=args.cores)
    qs = entrymod.queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, schema="x int"
    ).collect()

    out: dict = {"repo": repo}
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)

    from sparkforward.postings import build_inverted_index
    from sparkforward.webtext import synthesize_webpages, webpages_as_documents

    corpus_path = tempfile.mkdtemp(prefix="ab_corpus_")
    webpages_as_documents(
        synthesize_webpages(spark, args.build_docs, num_partitions=args.cores * 2)
    ).write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    build_path = tempfile.mkdtemp(prefix="ab_idx_")
    t0 = time.perf_counter()
    build_inverted_index(
        docs, build_path, salt_threshold=args.build_docs // 10, n_salt=16,
        num_partitions=args.cores * 2,
    )
    out["index_build_100k"] = round(time.perf_counter() - t0, 3)

    from sparkforward.queries import QUERY_SET
    from sparkforward.wand import PostingIndex, wand_topk

    index = PostingIndex.load(spark, build_path).cache()
    qdf = spark.createDataFrame(QUERY_SET, "q_id string, query string")
    lat = []
    for _ in range(6):
        t0 = time.perf_counter()
        wand_topk(index, qdf, k=10).collect()
        lat.append(time.perf_counter() - t0)
    out["wand_serve_8q"] = round(min(lat), 3)
    out["suite"] = round(sum(v for k, v in out.items() if k != "repo"), 3)
    print(json.dumps(out), flush=True)
    spark.stop()

    import shutil

    shutil.rmtree(corpus_path, ignore_errors=True)
    shutil.rmtree(build_path, ignore_errors=True)


if __name__ == "__main__":
    main()
