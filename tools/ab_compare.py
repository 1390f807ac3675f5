"""Drift-controlled A/B of key metrics between two repo snapshots.

The VM's throughput drifts up to ±50% across minutes, so cross-round
comparisons use interleaved adjacent pairs on the same box with a fresh
JVM per leg (the round-3/4 methodology). This runner executes ONE leg:

    python tools/ab_compare.py --repo /path/to/snapshot [--sf ...] [--cores 32]

It inserts --repo at the head of sys.path (so `sparkforward` and
`__spark_entry__` come from the snapshot), runs the comparable metrics,
and prints one JSON line:

    {"repo": ..., "bm25_topk": s, "interpolate_rerank": s,
     "early_stopping": s, "index_build_100k": s, "wand_serve_8q": s}

Drive it alternately (A, B, A, B) from a shell loop; compare per-pair.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time


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

    spark = get_spark(app_name="ab-compare", cores=args.cores)
    qs = entrymod.queries()
    # JVM + Arrow worker warmup (bench.py methodology)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, schema="x int"
    ).collect()

    out: dict = {"repo": repo}
    for name in ("bm25_topk", "interpolate_rerank", "early_stopping"):
        t0 = time.perf_counter()
        qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)

    from sparkforward.postings import PostingIndex, build_inverted_index
    from sparkforward.wand import wand_topk
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

    index = PostingIndex.load(spark, build_path).cache()
    qdf = spark.createDataFrame(QUERY_SET, "q_id string, query string")
    lat = []
    for _ in range(6):
        t0 = time.perf_counter()
        wand_topk(index, qdf, k=10).collect()
        lat.append(time.perf_counter() - t0)
    out["wand_serve_8q"] = round(min(lat), 3)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
