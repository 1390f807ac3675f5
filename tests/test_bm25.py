"""BM25 rank-identity: Spark engine vs a single-node NumPy/pandas oracle
(SURVEY §5 plan / FIXTURES.md §6), plus partitioning invariance."""

import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from sparkforward.bm25 import B, K1, SCORE_DECIMALS, bm25_topk
from sparkforward.tokenize import tokenize

SF_DIR = "/root/testdata/sf0.001"
QUERIES = [("q1", "spark query join"), ("q2", "filter window stream"),
           ("q3", "big small value vector batch")]


def numpy_bm25_topk(docs: pd.DataFrame, queries, k):
    """Independent oracle: float64, per-(q,d) sum over sorted terms."""
    tf_rows = []
    for _, r in docs.iterrows():
        toks = tokenize(r["text"] or "")
        if not toks:
            continue
        for t, n in Counter(toks).items():
            tf_rows.append((int(r["doc_id"]), t, n, len(toks)))
    tf = pd.DataFrame(tf_rows, columns=["doc_id", "term", "tf", "dl"])
    dl = tf.groupby("doc_id")["dl"].first()
    n_docs, avgdl = float(len(dl)), float(dl.mean())
    dfreq = tf.groupby("term")["doc_id"].count()
    out = []
    for q_id, text in queries:
        scores = {}
        for t in sorted(set(text.split())):
            if t not in dfreq.index:
                continue
            idf = math.log(1 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            for _, r in tf[tf["term"] == t].iterrows():
                s = idf * (r["tf"] * (K1 + 1)) / (
                    r["tf"] + K1 * (1 - B + B * r["dl"] / avgdl)
                )
                scores[r["doc_id"]] = scores.get(r["doc_id"], 0.0) + s
        items = sorted(
            ((round(s, SCORE_DECIMALS), d) for d, s in scores.items()),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        for rank, (s, d) in enumerate(items, 1):
            out.append((q_id, str(d), rank, s))
    return pd.DataFrame(out, columns=["q_id", "id", "rank", "score"])


@pytest.fixture(scope="module")
def docs_pd():
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def test_rank_identity_vs_numpy_oracle(spark, docs_pd):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qdf = spark.createDataFrame(QUERIES, "q_id string, query string")
    got = (
        bm25_topk(docs, qdf, k=10)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    want = numpy_bm25_topk(docs_pd, QUERIES, 10)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_partitioning_invariance(spark):
    """Same result at 1 partition and 16 partitions (scale hazard §7.4-1)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qdf = spark.createDataFrame(QUERIES, "q_id string, query string")
    a = bm25_topk(docs.coalesce(1), qdf, k=10).toPandas()
    b = bm25_topk(docs.repartition(16), qdf, k=10).toPandas()
    key = ["q_id", "rank"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )


def test_empty_and_unknown_query_terms(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    qdf = spark.createDataFrame(
        [("qe", "???"), ("qu", "zzzunknownterm"), ("qm", "spark zzzunknown")],
        "q_id string, query string",
    )
    got = bm25_topk(docs, qdf, k=5).toPandas()
    assert set(got["q_id"]) == {"qm"}  # only the query with a known term scores


def test_rm3_expands_and_changes_ranking(spark):
    """RM3 sanity (round 5): the feedback expansion must actually add
    non-query terms and move at least one ranking relative to plain BM25
    (the fixture's head terms co-occur, so feedback terms carry signal);
    with exp_weight=0 the output must equal plain bm25_topk exactly."""
    from sparkforward.bm25 import bm25_rm3_topk, bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qdf = spark.createDataFrame(
        [("q1", "spark query join"), ("q2", "filter window stream")],
        "q_id string, query string",
    )
    plain = {(r["q_id"], r["id"], r["rank"]) for r in bm25_topk(docs, qdf, k=10).collect()}
    rm3 = {(r["q_id"], r["id"], r["rank"]) for r in
           bm25_rm3_topk(docs, qdf, k=10).collect()}
    assert rm3 != plain  # expansion changed something
    zero = {(r["q_id"], r["id"], r["rank"]) for r in
            bm25_rm3_topk(docs, qdf, k=10, exp_weight=0.0).collect()}
    assert zero == plain  # weight 0 degenerates to plain BM25


def test_tf_cache_key_fallback_is_narrow(spark, monkeypatch):
    """An unsupported ``semanticHash`` serves uncached; any other error
    while keying the tf cache raises instead of silently going uncached."""
    from sparkforward import bm25
    from sparkforward.session import SESSION_CACHE

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def unsupported():
        raise NotImplementedError("semanticHash")

    monkeypatch.setattr(docs, "semanticHash", unsupported)
    n_cached, n_missed = len(SESSION_CACHE), SESSION_CACHE.misses["tf"]
    bm25._tf_persisted(docs, "doc_id", "text").unpersist()
    assert len(SESSION_CACHE) == n_cached
    assert SESSION_CACHE.misses["tf"] == n_missed

    def broken():
        raise RuntimeError("boom")

    monkeypatch.setattr(docs, "semanticHash", broken)
    with pytest.raises(RuntimeError, match="boom"):
        bm25._tf_persisted(docs, "doc_id", "text")


def test_tf_cache_hash_collision_keeps_corpora_apart(spark, monkeypatch):
    """``semanticHash`` is a 32-bit int: two different corpora whose hashes
    collide must still get their own term frequencies."""
    from sparkforward import bm25

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    for frame in (a, b):
        monkeypatch.setattr(frame, "semanticHash", lambda: 12345)

    def ids(tf):  # doc ids of the real rows (corpus-stats rows have none)
        return {r["doc_id"] for r in tf.select("doc_id").distinct().collect()} - {None}

    tf_a = bm25._tf_persisted(a, "doc_id", "text")
    assert {int(d) % 2 for d in ids(tf_a)} == {0}
    tf_b = bm25._tf_persisted(b, "doc_id", "text")
    assert tf_b is not tf_a
    assert {int(d) % 2 for d in ids(tf_b)} == {1}
    # an equal plan still hits
    same_b = docs.filter("doc_id % 2 = 1")
    monkeypatch.setattr(same_b, "semanticHash", lambda: 12345)
    assert bm25._tf_persisted(same_b, "doc_id", "text") is tf_b
    tf_b.unpersist()


def test_spread_small_input_fallback_is_narrow(spark, monkeypatch):
    """A layout that cannot be read (a file gone mid-stat) keeps the input
    as-is; an unexpected error raises instead of silently skipping the
    spread."""
    from sparkforward.tokenize import spread_small_input

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    monkeypatch.setattr(docs, "inputFiles", lambda: ["file:/nonexistent/x.parquet"])
    assert spread_small_input(docs) is docs

    def broken():
        raise RuntimeError("boom")

    monkeypatch.setattr(docs, "inputFiles", broken)
    with pytest.raises(RuntimeError, match="boom"):
        spread_small_input(docs)
