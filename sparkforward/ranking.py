"""Ranking algebra as lazy DataFrame transforms.

Re-expresses the reference's ``Ranking`` (pandas, ``/root/reference/src/
fast_forward/ranking.py``) as a thin wrapper over a Spark DataFrame with
columns ``q_id:string, id:string, score:float[, query:string]``.

Key semantic decisions (mirroring the reference, cited file:line):

* construction drops NaN rows and rejects duplicate ``(q_id, id)`` pairs
  (``ranking.py:95-103``),
* scores are float32 end-to-end (``ranking.py:72,107-113``),
* missing scores are **zero** in addition/interpolation — full outer join +
  ``coalesce(.., 0)`` (``ranking.py:196-200,312-319``),
* min-max normalization is **global**, not per-query (``ranking.py:45-61``),
* ``cut``/ranks are per-query top-k (``ranking.py:279-291``) — implemented as
  a ``row_number`` window so Spark can apply ``WindowGroupLimit`` instead of
  any global sort.

Unlike the reference, the frame is never physically sorted: rank order is
virtual (a window over ``partitionBy(q_id)``), which is the only strategy
that survives 10^9 queries x 10^3 candidates. Tie-break is deterministic:
``(score desc, id asc)`` — the reference relies on pandas stable-sort
insertion order (``ranking.py:116``), which has no distributed equivalent;
our rule is applied consistently in engine, oracle, and tests.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkforward.session import local_frame

if TYPE_CHECKING:
    from pathlib import Path

#: Run in nested-dict form: q_id -> {doc_id -> score}. API edge only.
Run = Mapping[str, Mapping[str, float]]

def rank_window():
    """The canonical per-query order: (score desc, id asc)."""
    return Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("id"))


def add_ranks(df: DataFrame, col_name: str = "rank") -> DataFrame:
    """Per-query rank (1-based) by (score desc, id asc). Ref: ranking.py:31-42."""
    return df.withColumn(col_name, F.row_number().over(rank_window()))


def minmax_normalize(df: DataFrame) -> DataFrame:
    """GLOBAL min-max normalization of ``score``; all-equal -> 0.

    Ref: ranking.py:45-61. The global extrema are computed with a partial
    (map-side) aggregate and joined back via a 1-row broadcast cross join —
    no global sort, no driver collect in the plan.
    """
    extrema = df.agg(
        F.min("score").alias("_min_s"), F.max("score").alias("_max_s")
    )
    return (
        df.crossJoin(F.broadcast(extrema))
        .withColumn(
            "score",
            F.when(F.col("_min_s") == F.col("_max_s"), F.lit(0.0)).otherwise(
                (F.col("score") - F.col("_min_s"))
                / (F.col("_max_s") - F.col("_min_s"))
            ).cast("float"),
        )
        .drop("_min_s", "_max_s")
    )


class Ranking:
    """A ranking of documents/passages per query, backed by a DataFrame.

    All operators are lazy transforms; only explicit validation
    (duplicate-pair / query-completeness checks) runs eager jobs.
    """

    def __init__(
        self,
        df: DataFrame,
        name: str | None = None,
        queries: DataFrame | Mapping[str, str] | None = None,
        validate: bool = False,
    ) -> None:
        """Wrap ``df`` (columns q_id, id, score[, query]) as a Ranking.

        :param validate: when True, eagerly check the no-duplicate-pair
            invariant (ref ranking.py:95-98) — one cheap aggregate job.
        """
        self.name = name
        cols = ["q_id", "id", "score"] + (["query"] if "query" in df.columns else [])
        df = (
            df.select(*cols)
            .dropna(subset=["q_id", "id", "score"])
            .withColumn("q_id", F.col("q_id").cast("string"))
            .withColumn("id", F.col("id").cast("string"))
            .withColumn("score", F.col("score").cast("float"))
        )
        self._df = df
        if validate:
            dup = (
                df.groupBy("q_id", "id").count().filter(F.col("count") > 1).limit(1)
            )
            if dup.count() > 0:
                raise ValueError(
                    "Only one score per query-document/passage pair is allowed."
                )
        if queries is not None:
            self._df = self._attach_queries(queries)

    # ------------------------------------------------------------------ #
    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def has_queries(self) -> bool:
        return "query" in self._df.columns

    def q_ids(self) -> set[str]:
        """Distinct query IDs (driver collect — API edge only)."""
        return {r["q_id"] for r in self._df.select("q_id").distinct().collect()}

    def release(self) -> None:
        """Free any executor storage this ranking owns (e.g. the batch
        early-stopping result checkpoint, whose storage a plain
        ``DataFrame.unpersist()`` cannot reach). Idempotent; after release
        the DataFrame is no longer guaranteed consumable."""
        ids = getattr(self, "_owned_rdd_ids", None)
        if ids:
            from sparkforward.score import _release_persistent_rdds

            _release_persistent_rdds(self._df.sparkSession, set(ids))
            self._owned_rdd_ids = set()

    def _attach_queries(self, queries: DataFrame | Mapping[str, str]) -> DataFrame:
        """Broadcast-join queries; raise if incomplete. Ref: ranking.py:16-28."""
        df = self._df.drop("query") if "query" in self._df.columns else self._df
        if isinstance(queries, Mapping):
            spark = SparkSession.getActiveSession()
            qdf = local_frame(
                spark, list(queries.items()),
                T.StructType(
                    [
                        T.StructField("q_id", T.StringType()),
                        T.StructField("query", T.StringType()),
                    ]
                ),
            )
        else:
            qdf = queries.select("q_id", "query")
        missing = (
            df.select("q_id").distinct().join(F.broadcast(qdf), "q_id", "left_anti")
        )
        if missing.limit(1).count() > 0:
            raise ValueError("Queries are incomplete.")
        return df.join(F.broadcast(qdf), "q_id", "left")

    def attach_queries(self, queries: DataFrame | Mapping[str, str]) -> "Ranking":
        return Ranking(self._attach_queries(queries), name=self.name)

    # ---------------------------- algebra ----------------------------- #
    def __add__(self, o: "Ranking | float") -> "Ranking":
        """Fusion: outer join on (q_id, id), missing scores are zero.

        Ref: ranking.py:188-217.
        """
        if isinstance(o, Ranking):
            left = self._df.select("q_id", "id", F.col("score").alias("_s1"))
            right = o._df.select("q_id", "id", F.col("score").alias("_s2"))
            new_df = (
                left.join(right, ["q_id", "id"], "outer")
                .select(
                    "q_id",
                    "id",
                    (
                        F.coalesce(F.col("_s1"), F.lit(0.0))
                        + F.coalesce(F.col("_s2"), F.lit(0.0))
                    ).alias("score"),
                )
            )
            out = Ranking(new_df, name=self.name)
            return out._copy_query_col_from(self, o)
        if isinstance(o, (int, float)):
            return Ranking(
                self._df.withColumn("score", (F.col("score") + F.lit(float(o))).cast("float")),
                name=self.name,
            )
        return NotImplemented

    __radd__ = __add__

    def __mul__(self, o: float) -> "Ranking":
        """Scale scores by a constant. Ref: ranking.py:219-239."""
        if not isinstance(o, (int, float)):
            return NotImplemented
        return Ranking(
            self._df.withColumn("score", (F.col("score") * F.lit(float(o))).cast("float")),
            name=self.name,
        )

    __rmul__ = __mul__

    def _copy_query_col_from(self, *sources: "Ranking") -> "Ranking":
        """Re-attach the query column after a join that dropped it."""
        for src in sources:
            if src.has_queries:
                qdf = src._df.select("q_id", "query").dropDuplicates(["q_id"])
                self._df = self._df.join(F.broadcast(qdf), "q_id", "left")
                return self
        return self

    def interpolate(
        self, other: "Ranking", alpha: float, normalize: bool = False
    ) -> "Ranking":
        """``alpha * self.score + (1 - alpha) * other.score``; missing -> 0.

        The reference's signature operator (ranking.py:293-326). One full
        outer shuffle join on (q_id, id). Spark runs each side's plan on its
        own, so an ``other`` derived from ``self`` re-runs ``self``'s lineage.
        """
        d1 = minmax_normalize(self._df) if normalize else self._df
        d2 = minmax_normalize(other._df) if normalize else other._df
        left = d1.select("q_id", "id", F.col("score").alias("_s1"))
        right = d2.select("q_id", "id", F.col("score").alias("_s2"))
        new_df = left.join(right, ["q_id", "id"], "outer").select(
            "q_id",
            "id",
            (
                F.lit(float(alpha)) * F.coalesce(F.col("_s1"), F.lit(0.0))
                + F.lit(1.0 - float(alpha)) * F.coalesce(F.col("_s2"), F.lit(0.0))
            ).cast("float").alias("score"),
        )
        out = Ranking(new_df, name=self.name)
        return out._copy_query_col_from(self, other)

    def rr_scores(self, k: int = 60) -> "Ranking":
        """Reciprocal-rank re-scoring ``1 / (rank + k)``. Ref: ranking.py:328-346."""
        new_df = add_ranks(self._df).withColumn(
            "score", (F.lit(1.0) / (F.col("rank") + F.lit(int(k)))).cast("float")
        ).drop("rank")
        return Ranking(new_df, name=self.name)

    def cut(self, cutoff: int) -> "Ranking":
        """Keep the per-query top-``cutoff`` rows. Ref: ranking.py:279-291.

        ``row_number`` window + filter — Spark rewrites this to a
        WindowGroupLimit (per-partition top-k, no global sort).
        """
        new_df = (
            add_ranks(self._df, "_rank")
            .filter(F.col("_rank") <= int(cutoff))
            .drop("_rank")
        )
        return Ranking(new_df, name=self.name)

    def normalize(self) -> "Ranking":
        """Global min-max normalize. Ref: ranking.py:264-277."""
        return Ranking(minmax_normalize(self._df), name=self.name)

    # ----------------------------- compare ---------------------------- #
    def __eq__(self, o: object) -> bool:
        """Exact (q_id, id, score) set equality. Ref: ranking.py:171-186.

        Symmetric ``exceptAll`` — order-insensitive, eager (API edge).
        """
        if not isinstance(o, Ranking):
            return False
        cols = ["q_id", "id", "score"]
        d1, d2 = self._df.select(cols), o._df.select(cols)
        return d1.exceptAll(d2).isEmpty() and d2.exceptAll(d1).isEmpty()

    def __getitem__(self, q_id: str) -> dict[str, float]:
        """Per-query dict lookup (driver collect — API edge). Ref: ranking.py:141-147."""
        rows = self._df.filter(F.col("q_id") == q_id).select("id", "score").collect()
        return {r["id"]: r["score"] for r in rows}

    # ------------------------------ I/O -------------------------------- #
    def save(self, target: "Path | str", single_file: bool = True) -> None:
        """Write a TREC runfile. Ref: ranking.py:348-366."""
        from sparkforward.io import write_trec_run

        write_trec_run(self, str(target), single_file=single_file)

    @classmethod
    def from_file(
        cls, spark: SparkSession, f: "Path | str", queries: Mapping[str, str] | None = None
    ) -> "Ranking":
        from sparkforward.io import read_trec_run

        return read_trec_run(spark, str(f), queries=queries)

    @classmethod
    def from_run(
        cls,
        spark: SparkSession,
        run: Run,
        name: str | None = None,
        queries: Mapping[str, str] | None = None,
    ) -> "Ranking":
        """Create from a nested dict (API edge). Ref: ranking.py:368-386."""
        rows = [
            (q_id, doc_id, float(score))
            for q_id, docs in run.items()
            for doc_id, score in docs.items()
        ]
        schema = T.StructType(
            [
                T.StructField("q_id", T.StringType()),
                T.StructField("id", T.StringType()),
                T.StructField("score", T.FloatType()),
            ]
        )
        return cls(local_frame(spark, rows, schema), name=name, queries=queries)

    def to_ir_measures(self) -> DataFrame:
        """Project to ir-measures column names. Ref: util/__init__.py:29-37."""
        return self._df.select(
            F.col("q_id").alias("query_id"), F.col("id").alias("doc_id"), "score"
        )

    def to_pandas(self):
        """Collect sorted by (q_id, score desc, id asc) — tests/API edge."""
        return (
            add_ranks(self._df)
            .orderBy("q_id", "rank")
            .toPandas()
        )
