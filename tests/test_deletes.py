"""Doc-granular deletion (append.delete_docs): tombstone-sidecar serve
equivalence with a scratch build over the survivors, exact stats/df
adjustment, the missing/duplicate-id contract, and physical drop at
compaction.

The reference index has no delete operation (``index/disk.py`` grows
only); this completes the maintenance story a takedown/GDPR pipeline
needs. Serve-side contract: kernels skip tombstoned ids at decode, θ0
coverage counts subtract range-tombstones, stale bounds ratio-adjust —
all sound, so results equal exhaustive BM25 over the surviving corpus.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkforward.append import append_to_index, compact_index, delete_docs
from sparkforward.postings import build_inverted_index
from sparkforward.wand import wand_topk
from tools.soak_append import index_signature

SF_DIR = "/root/testdata/sf0.001"

CFG = dict(salt_threshold=300, n_salt=8, block_size=32, num_partitions=4,
           target_shard_postings=80)

QUERIES = [("q1", "the web pages"), ("q2", "content terms"), ("q3", "page")]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _serve(spark, index, k=10, **kw):
    qdf = spark.createDataFrame(QUERIES, "q_id string, query string")
    return (
        wand_topk(index, qdf, k=k, **kw)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )


def _del_ids(docs, mod=7, res=3):
    d = F.col("doc_id").cast("long")
    return docs.filter(d % mod == res).select(d.alias("doc_id"))


def test_delete_serves_like_scratch_on_survivors(spark, docs, tmp_path):
    build_inverted_index(docs, str(tmp_path / "a"), **CFG)
    post_files = sorted(
        p.name for p in (tmp_path / "a" / "postings").rglob("*.parquet")
    )
    idx = delete_docs(spark, str(tmp_path / "a"), _del_ids(docs))
    d = F.col("doc_id").cast("long")
    survivors = docs.filter(d % 7 != 3)
    scratch = build_inverted_index(survivors, str(tmp_path / "b"), **CFG)

    # postings untouched on disk — the whole point of the tombstone design
    assert sorted(
        p.name for p in (tmp_path / "a" / "postings").rglob("*.parquet")
    ) == post_files

    # stats adjusted EXACTLY: equal to a scratch build over the survivors
    with open(tmp_path / "a" / "stats.json") as fh:
        st = json.load(fh)
    with open(tmp_path / "b" / "stats.json") as fh:
        st_b = json.load(fh)
    assert st["n_docs"] == st_b["n_docs"]
    assert st["sum_dl"] == st_b["sum_dl"]
    assert st["avgdl"] == st_b["avgdl"]

    # dictionary: same (term, df, idf) as scratch (n_shards may differ —
    # deletes never re-shard in place, like Lucene)
    a = {(r["term"], r["df"], r["idf"]) for r in idx.terms.collect()}
    b = {(r["term"], r["df"], r["idf"]) for r in scratch.terms.collect()}
    assert a == b

    # serving: default dispatch, forced WAND kernel, forced TAAT — all
    # equal the scratch-on-survivors index
    for kw in ({}, {"taat_max_postings": 0}, {"taat_max_postings": -1}):
        assert _serve(spark, idx, **kw).equals(_serve(spark, scratch, **kw)), kw


def test_delete_rejects_missing_and_duplicate(spark, docs, tmp_path):
    build_inverted_index(docs.filter(F.col("doc_id") < 400),
                         str(tmp_path / "a"), **CFG)
    with pytest.raises(RuntimeError, match="not found"):
        delete_docs(spark, str(tmp_path / "a"), [5, 10, 999_999])
    delete_docs(spark, str(tmp_path / "a"), [5, 10])
    with pytest.raises(RuntimeError, match="already deleted"):
        delete_docs(spark, str(tmp_path / "a"), [10, 20])


def test_delete_twice_then_compact_drops_physically(spark, docs, tmp_path):
    """Cumulative deletes compose; compaction physically drops tombstoned
    postings and lands byte-identical to a scratch build of the survivors
    (head map re-derived from surviving dfs, like a scratch build's)."""
    build_inverted_index(docs, str(tmp_path / "a"), **CFG)
    delete_docs(spark, str(tmp_path / "a"), _del_ids(docs, 7, 3))
    idx = delete_docs(spark, str(tmp_path / "a"), _del_ids(docs, 7, 5))
    d = F.col("doc_id").cast("long")
    survivors = docs.filter((d % 7 != 3) & (d % 7 != 5))
    scratch = build_inverted_index(survivors, str(tmp_path / "b"), **CFG)
    assert _serve(spark, idx).equals(_serve(spark, scratch))

    compact_index(spark, str(tmp_path / "a"))
    assert index_signature(str(tmp_path / "a")) == index_signature(
        str(tmp_path / "b")
    )
    with open(tmp_path / "a" / "stats.json") as fh:
        st = json.load(fh)
    assert "deletes_dir" not in st and "terms_dir" not in st
    assert "data_avgdl" not in st


def test_append_after_delete_is_exact(spark, docs, tmp_path):
    """Maintenance ops compose: delete a slice, append new docs, serve —
    equals a scratch build over (survivors + delta)."""
    d = F.col("doc_id").cast("long")
    base = docs.filter(d < 400)
    delta = docs.filter(d >= 400)
    build_inverted_index(base, str(tmp_path / "a"), **CFG)
    delete_docs(spark, str(tmp_path / "a"), _del_ids(base, 7, 3))
    for i, kw in enumerate(({"max_segments": 1}, {})):
        import shutil

        shutil.copytree(tmp_path / "a", tmp_path / f"m_{i}")
        idx = append_to_index(
            spark, str(tmp_path / f"m_{i}"), delta, num_partitions=4, **kw
        )
        union = base.filter(d % 7 != 3).unionByName(delta)
        scratch = build_inverted_index(union, str(tmp_path / f"s_{i}"), **CFG)
        assert _serve(spark, idx).equals(_serve(spark, scratch)), kw


def test_delete_on_lsm_stack_raises(spark, docs, tmp_path):
    """An lsm segment stack refuses a delete (its additive per-segment
    dictionary cannot absorb a full-union rewrite) without writing
    anything; once compacted, the delete serves == a scratch build of the
    survivors, and a second compaction physically drops the tombstones."""
    d = F.col("doc_id").cast("long")
    path = str(tmp_path / "a")
    build_inverted_index(docs.filter(d < 400), path, **CFG)
    append_to_index(
        spark, path, docs.filter(d >= 400), num_partitions=4, mode="lsm",
    )
    def state():
        with open(os.path.join(path, "stats.json")) as fh:
            return sorted(os.listdir(path)), fh.read()

    before = state()
    with pytest.raises(ValueError, match="compact_index first"):
        delete_docs(spark, path, _del_ids(docs, 7, 3))
    assert state() == before

    compact_index(spark, path)
    idx = delete_docs(spark, path, _del_ids(docs, 7, 3))
    survivors = docs.filter(d % 7 != 3)
    scratch = build_inverted_index(survivors, str(tmp_path / "b"), **CFG)
    assert _serve(spark, idx).equals(_serve(spark, scratch))
    assert _serve(spark, idx, taat_max_postings=0).equals(
        _serve(spark, scratch, taat_max_postings=0)
    )
    compact_index(spark, path)
    assert index_signature(path) == index_signature(str(tmp_path / "b"))


def test_delete_entire_term_then_compact(spark, tmp_path):
    """Deleting every doc that carries a term drops it from the
    dictionary (idf/df exactness over survivors), serving skips it, and
    compaction's merge kernel handles the fully-emptied (term, salt)
    group (the empty-after-drop guard) — byte-identical to a scratch
    build of the survivors."""
    rows = [
        (i, "common words here " + ("rareterm only docs " if i < 3 else "filler text "))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = dict(salt_threshold=10, n_salt=4, block_size=8, num_partitions=3,
               target_shard_postings=20)
    build_inverted_index(docs, str(tmp_path / "a"), **cfg)
    idx = delete_docs(spark, str(tmp_path / "a"), [0, 1, 2])
    assert idx.terms.filter(F.col("term") == "rareterm").count() == 0

    survivors = docs.filter(F.col("doc_id") >= 3)
    scratch = build_inverted_index(survivors, str(tmp_path / "b"), **cfg)
    qdf = spark.createDataFrame(
        [("q1", "rareterm"), ("q2", "common filler")], "q_id string, query string"
    )
    a = wand_topk(idx, qdf, k=5).toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    b = wand_topk(scratch, qdf, k=5).toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)

    compact_index(spark, str(tmp_path / "a"))
    assert index_signature(str(tmp_path / "a")) == index_signature(str(tmp_path / "b"))


def test_delete_empty_is_noop(spark, docs, tmp_path):
    build_inverted_index(docs.filter(F.col("doc_id") < 400),
                         str(tmp_path / "a"), **CFG)
    before = index_signature(str(tmp_path / "a"))
    delete_docs(spark, str(tmp_path / "a"), [])
    assert index_signature(str(tmp_path / "a")) == before


def test_delete_tombstones_ship_as_one_broadcast(spark, docs, tmp_path):
    """Repeated serves of a deleted index reuse ONE broadcast of the
    tombstone array (per loaded generation) instead of re-shipping it in
    every serve's task closure — and results are unchanged."""
    build_inverted_index(docs, str(tmp_path / "a"), **CFG)
    idx = delete_docs(spark, str(tmp_path / "a"), _del_ids(docs))
    first = _serve(spark, idx)
    bc1 = idx.deletes_broadcast(spark)
    assert bc1 is not None
    second = _serve(spark, idx)
    bc2 = idx.deletes_broadcast(spark)
    assert bc2 is bc1  # same broadcast object across serves
    assert bc1.value.tolist() == sorted(
        r["doc_id"] for r in _del_ids(docs).collect()
    )
    assert first.equals(second)
