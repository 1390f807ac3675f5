"""BM25 scoring and top-k retrieval — exhaustive DataFrame path.

The reference delegates first-stage BM25 to PyTerrier
(``docs/pyterrier.md:6-10``); here it is native. This module is the
*declarative* scorer: Catalyst sees plain joins/aggregates/windows, so
predicate pushdown, partial aggregation, broadcast of the (tiny) query-term
and term-statistics tables, and WindowGroupLimit top-k all come for free.
The compressed posting-list / block-max WAND serving path lives in
``sparkforward.postings`` / ``sparkforward.wand``; both paths must return
identical rankings (tested).

Formula (Robertson/Lucene variant, same as the DuckDB oracle):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(q, d) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

with k1 = 1.2, b = 0.75, computed in float64.

Scale notes (the plan that must survive 100 TB):
* ``tf`` rows are produced map-side (see ``tokenize.term_frequencies``).
* The scorer **broadcast-joins** the query-term list first — only postings of
  query terms survive the scan (semi-join pruning before any shuffle).
* The only shuffle is the final ``groupBy(q_id, doc_id)`` sum, whose input is
  |matched postings|, not |corpus|; partial aggregation applies.
* Zipfian head terms make that shuffle skewed across doc-partitions only,
  not across (q,d) pairs; AQE skew-join handles the join side, and the
  posting-list build (postings.py) additionally salts head terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkforward.ranking import Ranking
from sparkforward.tokenize import term_frequencies

K1 = 1.2
B = 0.75
#: scores are rounded to this many decimals *before* ranking so that
#: rank order (tie-break: id asc) is reproducible across engines, partition
#: counts and summation orders. 1e-4 is far above float64 noise (~1e-12).
SCORE_DECIMALS = 4


def bm25_score_expr(tf="tf", df="df", dl="dl", n_docs="n_docs", avgdl="avgdl"):
    """The per-(term, doc) BM25 contribution as a Column (float64).

    Arguments may be column names or Columns (literals included) — the
    expression tree and result are identical either way."""
    from pyspark.sql import Column

    def _c(x):
        return x if isinstance(x, Column) else F.col(x)

    idf = F.log(
        F.lit(1.0) + (_c(n_docs) - _c(df) + F.lit(0.5)) / (_c(df) + F.lit(0.5))
    )
    tf_d = _c(tf).cast("double")
    tf_norm = (tf_d * F.lit(K1 + 1.0)) / (
        tf_d + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * _c(dl) / _c(avgdl))
    )
    return idf * tf_norm


def score_terms(
    tf: DataFrame,
    df_stats: DataFrame,
    global_stats: DataFrame,
    qterms: DataFrame,
) -> DataFrame:
    """(q_id, doc_id, term, contrib) — per-term BM25 contributions.

    ``qterms`` and ``df_stats`` are broadcast (queries are small; df_stats is
    vocabulary-sized after partial agg); ``global_stats`` is a 1-row
    broadcast cross join.
    """
    return (
        tf.join(F.broadcast(qterms), "term")  # semi-join pruning: only query terms
        .join(F.broadcast(df_stats), "term")
        .crossJoin(F.broadcast(global_stats))
        .select(
            "q_id",
            "doc_id",
            "term",
            bm25_score_expr().alias("contrib"),
        )
    )


def _scores_for_pairs(
    tf: DataFrame, pair_rows: list[tuple[str, str]], term_list: list[str]
) -> DataFrame:
    """(q_id, doc_id, score) for a (q_id, term) pair list — ONE action.

    Statistics ride the scoring plan as tiny broadcast subtrees instead of
    a separate driver collect: df comes from a query-terms-sized aggregate
    over the term-pruned tf cache, N/avgdl from the map-side STATS_TERM
    pseudo-rows (``corpus_globals`` — still no corpus-wide shuffle,
    guide §2.3). A drift-controlled in-process A/B (7 alternating cold
    reps, sf0.1) had the mid-round separate-collect shape at median
    2.36 s vs 2.04 s for this one-action shape — the extra broadcast
    exchanges are cheaper than serializing a second action per cold
    query, and at scale both subtrees stay kilobyte-sized. Scores are
    bit-identical (same JVM expression; columns vs literals both float64).
    """
    from sparkforward.tokenize import corpus_globals

    spark = tf.sparkSession
    qt = local_frame(spark, pair_rows, "q_id string, term string")
    tf_q = tf.filter(F.col("term").isin(term_list))
    df_stats = tf_q.groupBy("term").agg(F.count("*").alias("df"))
    contribs = (
        tf_q.join(F.broadcast(qt), "term")
        .join(F.broadcast(df_stats), "term")
        .crossJoin(F.broadcast(corpus_globals(tf)))
        .select("q_id", "doc_id", bm25_score_expr().alias("contrib"))
    )
    return contribs.groupBy("q_id", "doc_id").agg(F.sum("contrib").alias("score"))


#: The tokenize pass is persisted in :data:`session.SESSION_CACHE` under
#: ``("tf", corpus plan hash, cols)``. Two purposes: (a) within one query,
#: tf feeds three subtrees (scores, df-stats, N/avgdl) and Catalyst does NOT
#: dedupe identical subplans — persist gives one tokenize pass, not three
#: (verified via .explain); (b) across queries over the same corpus, reusing
#: the one persisted DF instead of re-persisting an identical plan avoids
#: both a redundant corpus scan and the CacheManager "already cached" leak.
#: ``semanticHash`` is a 32-bit Java int, so the entry keeps its source plan
#: and a hit also needs ``sameSemantics``: two corpora whose hashes collide
#: never share term frequencies.
from sparkforward.session import SESSION_CACHE, local_frame, unpersist  # noqa: E402


def _tf_persisted(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # spread a too-few-splits corpus before the Python tokenize pass so the
    # per-doc Counter kernel fans across cores (no-op for real multi-file
    # corpora); keyed on the UNspread plan so cache hits are layout-free
    from sparkforward.tokenize import spread_small_input

    def build():
        return term_frequencies(
            spread_small_input(docs), id_col=id_col, text_col=text_col
        ).persist()

    try:
        key = ("tf", docs.semanticHash(), id_col, text_col)
    except NotImplementedError:  # hashing unsupported: serve uncached
        return build()
    _src, tf = SESSION_CACHE.get_or_build(
        docs.sparkSession, key, lambda: (docs, build()),
        release=lambda entry, live: unpersist(entry[1], live),
        accept=lambda entry: entry[0].sameSemantics(docs),
    )
    return tf


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(q_id, doc_id, score) — exhaustive BM25 over a corpus DataFrame.

    Summation per (q, d) uses float64; determinism across partitionings is
    guaranteed at SCORE_DECIMALS granularity (see module docstring).
    """
    tf = _tf_persisted(docs, id_col, text_col)
    # The query set is tiny: tokenize it driver-side with the canonical rule
    # (identical semantics to tokenize.query_terms, minus one explode+
    # dropDuplicates shuffle job per call) and rebuild (q_id, term) as a
    # local relation for the broadcast join.
    from sparkforward.tokenize import tokenize

    pairs = []
    for r in queries.select("q_id", "query").collect():
        seen = set()
        for t in tokenize(r["query"] or ""):
            if t not in seen:
                seen.add(t)
                pairs.append((r["q_id"], t))
    # Prune tf to QUERY terms before any statistics work: df is only
    # needed for terms that can contribute — at web scale the difference
    # between aggregating kilobytes and gigabytes. (N and avgdl still
    # come from the FULL corpus via the map-side stats rows.)
    term_list = sorted({t for _, t in pairs})
    return _scores_for_pairs(tf, pairs, term_list)


def topk(scores: DataFrame, k: int, decimals: int = SCORE_DECIMALS) -> DataFrame:
    """(q_id, id, rank, score) — per-query top-k with deterministic ties.

    Rounds *before* ranking; orders by (score desc, doc_id asc) with doc_id
    compared numerically when castable so engine and oracle agree.
    """
    from pyspark.sql import Window

    rounded = scores.withColumn("score", F.round(F.col("score"), decimals))
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc(F.col("doc_id").cast("bigint")), F.asc("doc_id")
    )
    return (
        # rank as BIGINT: every top-k surface in the engine (wand_topk,
        # queries.py entries, oracles' row_number) emits 64-bit ranks
        rounded.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= int(k))
        .select("q_id", F.col("doc_id").cast("string").alias("id"), "rank", "score")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end first stage: corpus + (q_id, query) -> per-query top-k."""
    return topk(bm25_scores(docs, queries, id_col=id_col, text_col=text_col), k)


def bm25_ranking(
    docs: DataFrame, queries: DataFrame, k: int = 1000, **kw
) -> Ranking:
    """First-stage retrieval as a :class:`Ranking` (query column attached)."""
    scored = bm25_topk(docs, queries, k=k, **kw)
    r = Ranking(scored.select("q_id", "id", F.col("score").cast("float").alias("score")), name="bm25")
    return r.attach_queries(queries.select("q_id", "query"))


def bm25_rm3_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_fb: int = 10,
    n_exp: int = 5,
    exp_weight: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(q_id, id, rank, score) — RM3-style pseudo-relevance-feedback
    retrieval: run BM25, take each query's top ``k_fb`` documents, expand
    the query with the ``n_exp`` most frequent non-query terms of those
    documents (total term frequency in the feedback set — an integer
    weight, so expansion selection is summation-order-exact), then score
    ``round(base, 4) + exp_weight * round(expansion_bm25, 4)`` and rank
    (score desc, id asc). Cf. Lavrenko & Croft relevance models / the
    RM3 variant every Anserini/PyTerrier stack ships.

    Plans like two chained bm25_scores calls: the tokenize pass is shared
    (one persisted tf frame feeds both stages and the feedback
    aggregation), expansion terms prune tf with a pushed In-filter before
    any statistics shuffle, and the feedback aggregate is
    |feedback docs x their terms| with map-side combine. The only driver
    materialization is the expansion term list (|queries| x n_exp rows).
    """
    from pyspark.sql import Window

    from sparkforward.tokenize import tokenize

    spark = queries.sparkSession
    tf = _tf_persisted(docs, id_col, text_col)

    pairs = []
    for r in queries.select("q_id", "query").collect():
        seen = set()
        for t in tokenize(r["query"] or ""):
            if t not in seen:
                seen.add(t)
                pairs.append((r["q_id"], t))
    qt = local_frame(spark, pairs, "q_id string, term string")

    def score_pairs(pair_rows: list[tuple[str, str]], term_list: list[str]) -> DataFrame:
        # statistics as embedded broadcast subtrees — one action per
        # scoring pass, same restructure as bm25_scores
        return _scores_for_pairs(tf, pair_rows, term_list)

    base = score_pairs(pairs, sorted({t for _, t in pairs}))
    w_fb = Window.partitionBy("q_id").orderBy(
        F.desc(F.round("score", SCORE_DECIMALS)),
        F.asc(F.col("doc_id").cast("bigint")),
        F.asc("doc_id"),
    )
    fb = (
        base.withColumn("rank", F.row_number().over(w_fb))
        .filter(F.col("rank") <= int(k_fb))
        .select("q_id", "doc_id")
    )
    fbw = (
        tf.select("doc_id", "term", "tf")
        .join(F.broadcast(fb), "doc_id")
        .join(qt, ["q_id", "term"], "left_anti")
        .groupBy("q_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("w"))
    )
    w_exp = Window.partitionBy("q_id").orderBy(F.desc("w"), F.asc("term"))
    exp_rows = [
        (r["q_id"], r["term"])
        for r in fbw.withColumn("rn", F.row_number().over(w_exp))
        .filter(F.col("rn") <= int(n_exp))
        .select("q_id", "term")
        .collect()
    ]
    base_r = base.select(
        "q_id", "doc_id", F.round("score", SCORE_DECIMALS).alias("b")
    )
    if exp_rows:
        exp_sc = score_pairs(exp_rows, sorted({t for _, t in exp_rows})).select(
            "q_id", "doc_id", F.round("score", SCORE_DECIMALS).alias("e")
        )
        merged = base_r.join(exp_sc, ["q_id", "doc_id"], "full_outer").select(
            "q_id",
            "doc_id",
            (
                F.coalesce("b", F.lit(0.0))
                + F.lit(float(exp_weight)) * F.coalesce("e", F.lit(0.0))
            ).alias("score"),
        )
    else:
        merged = base_r.select("q_id", "doc_id", F.col("b").alias("score"))
    return topk(merged, k)
