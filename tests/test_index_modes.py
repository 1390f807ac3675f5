"""Mode-aggregation golden tests + error contracts, ported from the
reference's tests/test_index.py (fixtures at :19-47, expectations :131-200,
error paths :202-271)."""

import numpy as np
import pytest

from sparkforward.encoders import LambdaEncoder
from sparkforward.index import Mode, VectorIndex
from sparkforward.ranking import Ranking
from sparkforward.score import ff_score

QUERIES = {"q1": "query 1", "q2": "query 2"}
DOC_IDS = ["d0", "d0", "d1", "d2", "d3"]
PSG_IDS = ["p0", "p1", "p2", "p3", "p4"]
VECTORS = np.array(
    [
        [1, 0, 0, 0, 0],
        [1, 1, 0, 0, 0],
        [1, 1, 1, 0, 0],
        [1, 1, 1, 1, 0],
        [1, 1, 1, 1, 1],
    ],
    dtype=np.float32,
)
DOC_RUN = {
    "q1": {"d0": 100, "d1": 2, "d2": 3, "d3": 200},
    "q2": {"d0": 400, "d1": 5, "d2": 6, "d3": 800},
}
PSG_RUN = {
    "q1": {"p0": 100, "p1": 2, "p2": 3, "p3": 4, "p4": 5},
    "q2": {"p0": 500, "p1": 6, "p2": 7, "p3": 8, "p4": 9},
}
ENCODER = LambdaEncoder(lambda _: np.array([1, 1, 1, 1, 1], dtype=np.float32))


@pytest.fixture(scope="module")
def doc_psg_index(spark):
    return VectorIndex.empty(spark).add(VECTORS, doc_ids=DOC_IDS, psg_ids=PSG_IDS)


@pytest.fixture(scope="module")
def partial_ids_index(spark):
    """Mixed rows: some doc-only, some psg-only (ref test_index.py:58-69)."""
    idx = VectorIndex.empty(spark).add(
        VECTORS, doc_ids=[None, None] + DOC_IDS[2:], psg_ids=PSG_IDS[:-2] + [None, None]
    )
    idx = idx.add(VECTORS[:2], doc_ids=DOC_IDS[:2])
    return idx.add(VECTORS[-2:], psg_ids=PSG_IDS[-2:])


@pytest.fixture(scope="module")
def doc_ranking(spark):
    return Ranking.from_run(spark, DOC_RUN, queries=QUERIES)


@pytest.fixture(scope="module")
def psg_ranking(spark):
    return Ranking.from_run(spark, PSG_RUN, queries=QUERIES)


def test_properties(doc_psg_index, partial_ids_index):
    assert doc_psg_index.doc_ids == set(DOC_IDS)
    assert doc_psg_index.psg_ids == set(PSG_IDS)
    assert len(doc_psg_index) == 5
    assert doc_psg_index.dim == 5
    assert partial_ids_index.doc_ids == set(DOC_IDS)
    assert partial_ids_index.psg_ids == set(PSG_IDS)
    assert len(partial_ids_index) == 9


def test_queries_attached(spark, doc_psg_index, doc_ranking):
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP).has_queries


def test_maxp(spark, doc_psg_index, doc_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"d0": 2, "d1": 3, "d2": 4, "d3": 5},
         "q2": {"d0": 2, "d1": 3, "d2": 4, "d3": 5}},
    )
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP) == expected


def test_firstp(spark, doc_psg_index, partial_ids_index, doc_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"d0": 1, "d1": 3, "d2": 4, "d3": 5},
         "q2": {"d0": 1, "d1": 3, "d2": 4, "d3": 5}},
    )
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.FIRSTP) == expected
    assert ff_score(doc_ranking, partial_ids_index, encoder=ENCODER, mode=Mode.FIRSTP) == expected


def test_avep(spark, doc_psg_index, partial_ids_index, doc_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"d0": 1.5, "d1": 3, "d2": 4, "d3": 5},
         "q2": {"d0": 1.5, "d1": 3, "d2": 4, "d3": 5}},
    )
    assert ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.AVEP) == expected
    assert ff_score(doc_ranking, partial_ids_index, encoder=ENCODER, mode=Mode.AVEP) == expected


def test_passage(spark, doc_psg_index, partial_ids_index, psg_ranking):
    expected = Ranking.from_run(
        spark,
        {"q1": {"p0": 1, "p1": 2, "p2": 3, "p3": 4, "p4": 5},
         "q2": {"p0": 1, "p1": 2, "p2": 3, "p3": 4, "p4": 5}},
    )
    assert ff_score(psg_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.PASSAGE) == expected
    assert ff_score(psg_ranking, partial_ids_index, encoder=ENCODER, mode=Mode.PASSAGE) == expected


def test_add_errors(spark):
    idx = VectorIndex.empty(spark)
    with pytest.raises(ValueError):
        idx.add(VECTORS, doc_ids=None, psg_ids=None)
    with pytest.raises(ValueError):
        idx.add(VECTORS, doc_ids=DOC_IDS[:-2])
    with pytest.raises(ValueError):
        idx.add(VECTORS, psg_ids=PSG_IDS[:-2])
    with pytest.raises(ValueError):
        idx.add(VECTORS, doc_ids=[None] + DOC_IDS[1:], psg_ids=[None] + PSG_IDS[1:])
    # duplicate passage IDs (ref index/memory.py:92-94)
    idx2 = VectorIndex.empty(spark).add(VECTORS[:1], psg_ids=PSG_IDS[:1])
    with pytest.raises(RuntimeError):
        idx2.add(VECTORS[:1], psg_ids=PSG_IDS[:1])
    # wrong dimension
    idx3 = VectorIndex.empty(spark).add(np.array([[0, 0], [1, 1]]), doc_ids=["d1", "d2"])
    with pytest.raises(ValueError):
        idx3.add(np.array([[0, 0, 0], [1, 1, 1]]), doc_ids=["d3", "d4"])


def test_scoring_errors(spark, doc_psg_index):
    # ranking without queries and no precomputed vectors
    r = Ranking.from_run(spark, DOC_RUN)
    with pytest.raises(ValueError):
        ff_score(r, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP)
    # missing index ID -> IndexError (ref index/util.py:38-39)
    r_missing = Ranking.from_run(spark, {"q1": {"d0": 100, "dx": 2}}, queries=QUERIES)
    with pytest.raises(IndexError):
        ff_score(r_missing, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP)


def test_index_save_load(spark, doc_psg_index, doc_ranking, tmp_path):
    path = str(tmp_path / "idx")
    reloaded = doc_psg_index.write(path)
    loaded = VectorIndex.load(spark, path)
    expected = ff_score(doc_ranking, doc_psg_index, encoder=ENCODER, mode=Mode.MAXP)
    assert ff_score(doc_ranking, loaded, encoder=ENCODER, mode=Mode.MAXP) == expected
    assert ff_score(doc_ranking, reloaded, encoder=ENCODER, mode=Mode.MAXP) == expected


def test_write_bucketed_layout_prunes_id_gathers(spark, tmp_path, doc_psg_index):
    """write(num_buckets=N) hash-partitions by doc_id and sorts each file
    by (doc_id, psg_id): N part files, identical data, and an id-filtered
    scan carries the pushed filter the sorted row groups can prune on."""
    import glob

    path = str(tmp_path / "bucketed")
    reloaded = doc_psg_index.write(path, num_buckets=3)
    parts = glob.glob(f"{path}/vectors/part-*.parquet")
    assert len(parts) == 3

    import pandas as pd

    a = doc_psg_index.df.toPandas().sort_values(["vec_idx"]).reset_index(drop=True)
    b = reloaded.df.toPandas().sort_values(["vec_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["vec_idx", "doc_id", "psg_id"]], b[["vec_idx", "doc_id", "psg_id"]]
    )

    from pyspark.sql import functions as F

    scan = reloaded.df.filter(F.col("doc_id").isin(["d0"]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "doc_id" in plan.split("PushedFilters")[1][:120]


def test_delete_ids_tombstone_semantics(spark, doc_psg_index, doc_ranking, tmp_path):
    """Dense-side doc deletion (round 7, maintenance symmetry with
    append.delete_docs): tombstone sidecar — vectors parquet untouched;
    loaded index excludes deleted docs; missing ids raise KeyError (the
    reference's S3 missing-ID contract); deletes are cumulative; scoring
    a run that still references a deleted doc raises like any unknown id."""
    import glob

    path = str(tmp_path / "idx")
    idx = doc_psg_index.write(path)
    vec_files = sorted(glob.glob(f"{path}/vectors/*.parquet"))

    with pytest.raises(KeyError, match="not in the index"):
        idx.delete_ids(["d1", "nope"])

    idx2 = idx.delete_ids(["d1"])
    assert idx2.doc_ids == {"d0", "d2", "d3"}
    # vectors parquet untouched — the whole point of the tombstone design
    assert sorted(glob.glob(f"{path}/vectors/*.parquet")) == vec_files
    # a reload sees the committed tombstones
    assert VectorIndex.load(spark, path).doc_ids == {"d0", "d2", "d3"}

    # cumulative second delete; re-deleting a gone id raises
    with pytest.raises(KeyError):
        idx2.delete_ids(["d1"])
    idx3 = idx2.delete_ids(["d3"])
    assert idx3.doc_ids == {"d0", "d2"}
    assert VectorIndex.load(spark, path).doc_ids == {"d0", "d2"}

    # gathering a run that references deleted docs raises the missing-ID
    # error exactly like never-indexed ids (S3 contract)
    with pytest.raises(Exception, match="not found|[Mm]issing"):
        ff_score(doc_ranking, idx3, encoder=ENCODER, mode=Mode.MAXP)

    # in-memory (pathless) index: pure filtered view
    mem = VectorIndex.empty(spark).add(VECTORS, doc_ids=DOC_IDS, psg_ids=PSG_IDS)
    assert mem.delete_ids(["d0"]).doc_ids == {"d1", "d2", "d3"}


# ------------------------------------------- single-reference re-ranking #
#: precomputed query vectors; MISSING_Q2 omits q2 on purpose
QVECS = {"q1": [1.0, 0.0, 2.0, 0.0, 1.0], "q2": [0.5, 1.0, 0.0, 1.0, 3.0]}
MISSING_Q2 = {"q1": QVECS["q1"]}


def _rows(ranking: Ranking) -> tuple[list[str], list[tuple]]:
    df = ranking.df
    return df.columns, sorted(tuple(r) for r in df.collect())


def _reference_rerank(sparse, index, alpha, query_vectors, mode, k=None):
    """The composition interpolated_rerank replaces: ff_score, then a
    full-outer Ranking.interpolate, then cut."""
    dense = ff_score(sparse, index, query_vectors=query_vectors, mode=mode,
                     check_missing=False)
    out = sparse.interpolate(dense, alpha)
    return out.cut(k) if k is not None else out


@pytest.mark.parametrize("mode", [Mode.MAXP, Mode.AVEP, Mode.FIRSTP, Mode.PASSAGE])
@pytest.mark.parametrize("with_queries", [True, False])
def test_interpolated_rerank_matches_composition(spark, doc_psg_index, mode, with_queries):
    """interpolated_rerank reads the ranking once, yet returns exactly the
    rows of ff_score + Ranking.interpolate: a candidate with no vector
    ("x") and every candidate of a query with no vector (q2, when the
    mapping omits it) score alpha*sparse, and the query column survives."""
    from sparkforward.score import interpolated_rerank

    base = PSG_RUN if mode == Mode.PASSAGE else DOC_RUN
    run = {q: {**ids, "x": 7} for q, ids in base.items()}
    sparse = Ranking.from_run(spark, run, queries=QUERIES if with_queries else None)
    qvecs = QVECS if with_queries else MISSING_Q2
    for k in (None, 3):
        got = interpolated_rerank(sparse, doc_psg_index, 0.3, query_vectors=qvecs,
                                  mode=mode, k=k)
        want = _reference_rerank(sparse, doc_psg_index, 0.3, qvecs, mode, k)
        assert _rows(got) == _rows(want)
        assert got.has_queries == with_queries
    scores = interpolated_rerank(sparse, doc_psg_index, 0.3, query_vectors=qvecs,
                                 mode=mode)
    assert scores["q1"]["x"] == np.float32(0.3 * 7)
    if not with_queries:
        assert scores["q2"] == {
            i: np.float32(0.3 * s) for i, s in run["q2"].items()
        }


def test_ff_score_transform_keeps_raw_sparse_score(spark, doc_psg_index):
    """ff_score_transform carries score_0 through the gather: rows equal
    the ff_score output joined back to the run, and score_0 keeps the
    run's own (double) type."""
    from pyspark.sql import functions as F

    from sparkforward.pipeline import ff_score_transform

    run = spark.createDataFrame(
        [(q, QUERIES[q], d, s + 0.1) for q, ids in DOC_RUN.items()
         for d, s in ids.items()] + [("q1", QUERIES["q1"], "x", 9.0)],
        "qid string, query string, docno string, score double",
    )
    got = ff_score_transform(run, doc_psg_index, encoder=ENCODER, mode=Mode.AVEP)
    internal = run.withColumnRenamed("qid", "q_id").withColumnRenamed("docno", "id")
    scored = ff_score(Ranking(internal), doc_psg_index, encoder=ENCODER,
                      mode=Mode.AVEP, check_missing=False)
    want = scored.df.join(
        internal.select("q_id", "id", F.col("score").alias("score_0")), ["q_id", "id"]
    )
    want = want.withColumnRenamed("q_id", "qid").withColumnRenamed("id", "docno")
    assert got.columns[:-1] == want.columns
    assert dict(got.dtypes)["score_0"] == "double"
    assert sorted(tuple(r)[:-1] for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )
