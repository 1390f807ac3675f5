"""The serve-planning catalog (postings.PlanningCatalog) reads on the
driver, with pyarrow, exactly the metadata the Spark compose of
``PostingIndex.load`` yields: dictionary rows, composed block rows and
(term, salt) aggregates, on every on-disk layout."""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkforward.postings import BLOCK_META_COLS, PostingIndex, load_deletes

LAYOUTS = ["plain", "deleted", "lsm", "terms_dir"]


def _stats(path):
    with open(os.path.join(path, "stats.json")) as fh:
        return json.load(fh)


def test_variants_cover_the_composed_layouts(index_variants):
    s = {k: _stats(p) for k, p in index_variants.items()}
    assert not s["plain"].get("segments") and "terms_dir" not in s["plain"]
    assert s["deleted"]["data_avgdl"] != s["deleted"]["avgdl"]
    assert s["deleted"]["terms_dir"] and s["deleted"]["deletes_dir"]
    assert len(s["lsm"]["segments"]) == 3
    assert s["lsm"]["terms_layout"] == "additive"
    # the lsm appends reshard head terms, so the compose drops tombstoned
    # rows from older segments
    p = index_variants["lsm"]
    tombs = [pq.read_table(os.path.join(p, seg["tombstones"])).num_rows
             for seg in s["lsm"]["segments"][1:]]
    assert len(tombs) == 2 and all(n > 0 for n in tombs), tombs
    assert s["terms_dir"]["terms_layout"] == "additive" and s["terms_dir"]["terms_dir"]


@pytest.mark.parametrize("layout", LAYOUTS)
def test_catalog_equals_spark_compose(spark, index_variants, layout):
    """Per-term (idf, n_shards), the block rows (renumbered block_no,
    ratio-scaled bounds, tombstoned terms dropped) and the coarse
    aggregates equal what the composed DataFrames return."""
    idx = PostingIndex.load(spark, index_variants[layout])
    vocab = sorted(r["term"] for r in idx.terms.select("term").collect())
    terms = vocab + ["notaterm"]
    assert idx.catalog.term_meta(terms) == {
        r["term"]: (r["idf"], r["n_shards"])
        for r in idx.terms.select("term", "idf", "n_shards").collect()
    }

    cols = ["term", *BLOCK_META_COLS]
    post = idx.postings.filter(F.col("term").isin(terms))
    want = sorted(tuple(r) for r in post.select(*cols).collect())
    fine, coarse = idx.catalog.block_plan(terms, 1 << 30)
    assert coarse == {}
    assert sorted(zip(*(fine[c].to_pylist() for c in cols))) == want
    assert fine.to_pylist() == sorted(
        fine.to_pylist(), key=lambda r: (r["term"], r["salt"], r["block_no"])
    )

    counts = {r["term"]: r["count"] for r in post.groupBy("term").count().collect()}
    cap = min(counts.values())
    over = {t for t, c in counts.items() if c > cap}
    assert over and len(over) < len(counts)
    fine, coarse = idx.catalog.block_plan(terms, cap)
    assert sorted(zip(*(fine[c].to_pylist() for c in cols))) == [
        r for r in want if r[0] not in over
    ]
    aggs = (
        post.filter(F.col("term").isin(sorted(over)))
        .groupBy("term", "salt")
        .agg(F.count("*"), F.max("max_z"), F.sum("n_bytes"), F.sum("n"))
        .collect()
    )
    assert {t: sorted(v) for t, v in coarse.items()} == {
        t: sorted(tuple(r)[1:] for r in aggs if r[0] == t) for t in over
    }


def test_load_deletes_equals_spark_read(spark, index_variants):
    path = index_variants["deleted"]
    stats = _stats(path)
    got = load_deletes(path, stats)
    rows = spark.read.parquet(os.path.join(path, stats["deletes_dir"], "deletes"))
    want = np.sort(np.asarray([r["doc_id"] for r in rows.collect()], dtype=np.int64))
    assert got.dtype == np.int64 and len(got) > 0
    np.testing.assert_array_equal(got, want)
    assert len(load_deletes(index_variants["plain"], _stats(index_variants["plain"]))) == 0
