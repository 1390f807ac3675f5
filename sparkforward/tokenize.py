"""Tokenization + corpus statistics for the inverted-index build.

This is stage one of the native BM25 engine (the piece the reference
delegates to PyTerrier — ``docs/pyterrier.md:6-10``). Design for 100 TB:

* **Term frequencies are computed map-side, with no shuffle**: a document's
  tokens all live in its own row, so ``(doc_id, term, tf)`` + doc length come
  out of one ``mapInPandas`` pass (Arrow-batched ``Counter`` per doc). The
  naive alternative — ``explode`` then ``groupBy(doc_id, term)`` — shuffles
  every token.
* Document-frequency / avgdl / N statistics are tiny (vocabulary-sized after
  partial aggregation) and are **broadcast** to the scorers.
* The tokenizer is a fixed, engine-defining rule — ``lower`` then maximal
  runs of ``[a-z0-9]`` — chosen because it has bit-identical semantics in
  Java regex (Spark), Python ``re`` and RE2 (DuckDB oracle).
"""

from __future__ import annotations

import os
import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: token = maximal run of ASCII lowercase alphanumerics, after lower()
TOKEN_RE = re.compile(r"[a-z0-9]+")
#: the same rule as a split pattern (Spark SQL / DuckDB oracle side)
SPLIT_PATTERN = "[^a-z0-9]+"

#: reserved pseudo-term for map-side corpus-stats rows riding in the tf
#: frame — "\x00" is unreachable for the tokenizer ([a-z0-9]+ only), so it
#: can never collide with a real term (same convention as postings.py)
STATS_TERM = "\x00stats"
#: flush a stats row before a chunk's token sum could overflow int32
_STATS_MAX_DL = 1 << 30

def _tf_schema(id_type: T.DataType) -> T.StructType:
    """tf schema preserving the corpus id type (integral ids stay integral —
    a 26M-row shuffle of long ids is far cheaper than strings)."""
    return T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.IntegerType()),
            T.StructField("dl", T.IntegerType()),
        ]
    )


def tokenize(text: str) -> list[str]:
    """The canonical tokenizer (single text) — shared with oracles/tests."""
    return TOKEN_RE.findall(text.lower())


#: below this many input bytes the spread is skipped. The bytes are the
#: input files' compressed on-disk size (``os.stat``), not raw text: at
#: snappy's ~3-4x on text the floor is ~12-16 MB of text. Under it the
#: round-robin exchange + per-task scheduling cost more than the single
#: Python task they would split (drift-controlled A/B, round 8, on
#: fixtures of at most 594 KB on disk: the exchange made BM25 ~10%
#: slower; a data-size floor, not a core-count constant)
SPREAD_MIN_BYTES = 4 << 20


def spread_small_input(docs: DataFrame) -> DataFrame:
    """Round-robin-spread a corpus whose scan would yield far fewer tasks
    than the cluster has cores (e.g. one LARGE single parquet file), so
    per-row text kernels parallelize instead of running on one task.

    The decision reads ONLY the local file layout (``inputFiles`` + stat) —
    no ``.rdd`` conversion, no job. A no-op whenever the scan already
    splits to at least half the core count, for inputs under
    :data:`SPREAD_MIN_BYTES`, for non-file-backed plans, and for remote
    storage — at real scale the input always splits enough, so no shuffle
    is ever added there (guide §2.5, input-side parallelism)."""
    try:
        from urllib.parse import unquote, urlparse

        sess = docs.sparkSession
        cores = sess.sparkContext.defaultParallelism
        if cores <= 1:
            return docs
        files = docs.inputFiles()
        if not files or len(files) * 2 >= cores:
            return docs
        total = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                return docs  # remote storage: let the scan split
            total += os.stat(unquote(p.path)).st_size
        if total < SPREAD_MIN_BYTES:
            return docs
        raw = sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        s = raw.strip().lower().removesuffix("b")
        units = {"k": 10, "m": 20, "g": 30, "t": 40}
        max_split = (
            int(s[:-1]) << units[s[-1]] if s and s[-1] in units else int(s)
        )
        n_splits = max(len(files), -(-total // max_split))
        if n_splits * 2 <= cores:
            return docs.repartition(cores)
    except (OSError, ValueError):  # file gone mid-stat, unparsable split size
        pass
    return docs


def term_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf, dl) — one shuffle-free mapInPandas pass.

    ``dl`` (document length in tokens) is replicated on every term row of the
    doc so downstream BM25 needs no extra join. Documents with zero tokens
    produce no rows (consistently excluded from N/avgdl). The id column's
    type is preserved (integral ids shuffle much cheaper than strings).

    Each Arrow batch additionally emits one pseudo-row
    ``(doc_id=NULL, term=STATS_TERM, tf=<docs in chunk>, dl=<token sum>)``
    so corpus-level N/avgdl aggregate from a handful of stats rows instead
    of a corpus-wide ``groupBy(doc_id)`` shuffle (guide §2.3: aggregate
    map-side before shuffling). Real-term consumers never see the rows —
    the pseudo-term cannot match any tokenized term, and its NULL doc_id
    drops out of every doc-keyed join; :func:`doc_lengths` filters it.
    """
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    schema = _tf_schema(src.schema["doc_id"].dataType)

    def tf_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list = []
            terms: list[str] = []
            tfs: list[int] = []
            dls: list[int] = []
            n_docs = 0
            sum_dl = 0
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = tokenize(text or "")
                if not toks:
                    continue
                counts = Counter(toks)
                dl = len(toks)
                if sum_dl + dl >= _STATS_MAX_DL:
                    ids.append(None)
                    terms.append(STATS_TERM)
                    tfs.append(n_docs)
                    dls.append(sum_dl)
                    n_docs = 0
                    sum_dl = 0
                n_docs += 1
                sum_dl += dl
                ids.extend([doc_id] * len(counts))
                terms.extend(counts.keys())
                tfs.extend(counts.values())
                dls.extend([dl] * len(counts))
            if n_docs:
                ids.append(None)
                terms.append(STATS_TERM)
                tfs.append(n_docs)
                dls.append(sum_dl)
            yield pd.DataFrame(
                {"doc_id": ids, "term": terms, "tf": tfs, "dl": dls}
            )

    return src.mapInPandas(tf_batches, schema=schema)


def corpus_globals(tf: DataFrame) -> DataFrame:
    """One-row (n_docs, avgdl) from the map-side stats pseudo-rows.

    Exact: chunk doc counts and token sums are integers, so the aggregate
    equals the old ``doc_lengths(tf).agg(count, avg)`` bit-for-bit (Spark's
    integral avg is the same exact-long-sum / count double division) —
    without shuffling one row per document.
    """
    return tf.filter(F.col("term") == STATS_TERM).agg(
        F.sum("tf").cast("double").alias("n_docs"),
        (F.sum(F.col("dl").cast("bigint")).cast("double")
         / F.sum("tf").cast("double")).alias("avgdl"),
    )


def doc_lengths(tf: DataFrame) -> DataFrame:
    """(doc_id, dl) from a term-frequency frame (no extra scan of the corpus)."""
    return (
        tf.filter(F.col("term") != STATS_TERM)
        .groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
    )


def corpus_stats(tf: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Returns (df_stats, global_stats).

    * ``df_stats``: (term, df) — document frequency per term. Partial
      aggregation makes this vocabulary-sized; it is broadcast by scorers.
    * ``global_stats``: single row (n_docs, avgdl) — derived from distinct
      docs in the tf frame.
    """
    df_stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    global_stats = doc_lengths(tf).agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    return df_stats, global_stats


def query_terms(queries: DataFrame, dedupe: bool = True) -> DataFrame:
    """(q_id, term) from a (q_id, query) frame — JVM-side split/explode.

    Engine semantics: BM25 sums over *unique* query terms (``dedupe=True``).
    """
    qt = (
        queries.select(
            "q_id",
            F.explode(F.split(F.lower(F.col("query")), SPLIT_PATTERN)).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    return qt.dropDuplicates(["q_id", "term"]) if dedupe else qt
