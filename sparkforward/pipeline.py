"""Pipeline transform surface — the reference's PyTerrier integration shape.

``FFScore`` / ``FFInterpolate`` (ref ``util/pyterrier.py:26-83``) are
DataFrame -> DataFrame transforms over the PyTerrier column contract
``(qid, query, docno, score)``. Here they are plain functions over Spark
DataFrames, so the reference's flagship pipeline

    bm25 % 5000 >> FFScore(index) >> FFInterpolate(alpha=0.2)

becomes

    ff_interpolate(ff_score_transform(bm25_df, index, encoder), alpha=0.2)

with the sparse score preserved in ``score_0`` (ref pyterrier.py:41-46) and
ranks re-assigned per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkforward.index import Mode, VectorIndex
from sparkforward.ranking import Ranking, add_ranks


def _to_internal(df: DataFrame) -> DataFrame:
    """(qid, docno, ...) -> (q_id, id, ...) (ref pyterrier.py:34-36)."""
    mapping = {"qid": "q_id", "docno": "id"}
    for old, new in mapping.items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def _to_pyterrier(df: DataFrame) -> DataFrame:
    for old, new in (("q_id", "qid"), ("id", "docno")):
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    return df


def ff_score_transform(
    run: DataFrame,
    index: VectorIndex,
    encoder=None,
    query_vectors=None,
    mode: Mode | None = None,
) -> DataFrame:
    """FFScore.transform (ref pyterrier.py:26-48): replace ``score`` with the
    dense score, keep the sparse score as ``score_0``, re-rank per query.
    The sparse score rides through the gather, so the run is read once."""
    from sparkforward.score import _query_vectors_df, compute_scores

    internal = _to_internal(run)
    ranking = Ranking(internal)
    qvec_df = _query_vectors_df(run.sparkSession, ranking, encoder, query_vectors)
    cand = internal.dropna(subset=["q_id", "id", "score"]).select(
        *(F.col(c).cast("string").alias(c) for c in ("q_id", "id")),
        *(["query"] if ranking.has_queries else []), F.col("score").alias("score_0"),
    )
    scored = compute_scores(cand, index, qvec_df, mode=mode, check_missing=False)
    out = scored.withColumnRenamed("ff_score", "score").dropna(subset=["score"])
    return _to_pyterrier(add_ranks(out).withColumn("rank", F.col("rank") - 1))


def ff_interpolate(run: DataFrame, alpha: float) -> DataFrame:
    """FFInterpolate.transform (ref pyterrier.py:75-83):
    ``score = alpha * score_0 + (1 - alpha) * score``, re-rank."""
    internal = _to_internal(run)
    out = internal.withColumn(
        "score",
        (
            F.lit(float(alpha)) * F.col("score_0")
            + F.lit(1.0 - float(alpha)) * F.col("score")
        ).cast("float"),
    ).drop("score_0")
    return _to_pyterrier(add_ranks(out).withColumn("rank", F.col("rank") - 1))
