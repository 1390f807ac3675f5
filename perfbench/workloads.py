"""The benchmark's workloads, each a closed loop with one client thread.

A workload makes its inputs (untimed), sets the program up (timed as
``setup_s``: session start, index build and load, warm-up), runs timed
operations until the deadline, then checks the outputs it collected
against the NumPy oracles (untimed). Each failed operation or failed
check counts in ``failed``.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import gen, oracle

QUERY_SCHEMA = "q_id string, query string"


def median(xs):
    return float(statistics.median(xs)) if xs else float("nan")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Workload:
    name = ""
    warmups = 0
    check_sample = 8
    n_delta = 1_000
    #: queries read back from the stack, after compaction and after the
    #: delete, on the write path of a traced serve or batch run
    write_reads = 2

    def __init__(self, seed: int, work: str, spans):
        self.seed = seed
        self.work = work
        self.spans = spans
        self.attempted = 0
        self.failed_ops: set = set()
        self.errors: list[str] = []
        self.op_s: list[float] = []
        self.op_queries: list[int] = []
        self.stack_reads: list = []  # (stack depth, op, query, rows)

    # -- helpers ---------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def fail(self, op, what: str) -> None:
        """Mark operation ``op`` failed (an op fails at most once)."""
        self.failed_ops.add(op)
        if len(self.errors) < 20:
            self.errors.append(what)

    def build_postings(self, spark, corpus_file: str, index_dir: str):
        from sparkforward.postings import build_inverted_index

        with self.spans.span("postings.build_inverted_index"):
            build_inverted_index(spark.read.parquet(corpus_file), index_dir)

    def load_postings(self, spark, index_dir: str, cache: bool):
        from sparkforward.postings import PostingIndex

        with self.spans.span("index.load_cache" if cache else "index.load"):
            index = PostingIndex.load(spark, index_dir)
            if cache:
                index = index.cache()
                index.postings.count()
                index.terms.count()
        return index

    def serve_one(self, spark, index, q: tuple[str, str], k: int, execute: str):
        """One query through ``wand_topk``: [(doc id, score)] by rank."""
        from sparkforward.wand import wand_topk

        qdf = spark.createDataFrame([q], QUERY_SCHEMA)
        with self.spans.span("wand.wand_topk"):
            df = wand_topk(index, qdf, k=k)
        with self.spans.span(execute):
            rows = df.collect()
        rows.sort(key=lambda r: r["rank"])
        return [(int(r["id"]), float(r["score"])) for r in rows]

    def make_deltas(self, first: int, count: int) -> None:
        """``count`` seeded corpora of ``n_delta`` docs, ids from ``first``."""
        self.deltas, self.delta_files = [], []
        for j in range(count):
            c = gen.make_corpus(gen.seeded(self.seed, f"delta{j}"), first, self.n_delta)
            self.deltas.append(c)
            self.delta_files.append(gen.write_corpus(c, self.path(f"delta{j}.parquet")))
            first += self.n_delta

    def visible(self, depth: int) -> list:
        """The corpora a read sees after ``depth`` appends."""
        return [self.base] + self.deltas[:depth]

    def read_once(self, spark, execute: str, query=None):
        """Open the committed index afresh and serve one query; the time
        includes the open, which composes the stack's segments."""
        if query is None:
            query = self.queries[self.next_q]
            self.next_q += 1
        t0 = time.perf_counter()
        index = self.load_postings(spark, self.index_dir, cache=False)
        rows = self.serve_one(spark, index, query, self.k, execute)
        return query, rows, time.perf_counter() - t0

    def append_delta(self, spark, j: int) -> float:
        from sparkforward.append import append_to_index

        t0 = time.perf_counter()
        with self.spans.span("append.append_to_index"):
            append_to_index(
                spark, self.index_dir, spark.read.parquet(self.delta_files[j]), mode="lsm"
            )
        self.appended = j + 1
        return time.perf_counter() - t0

    def write_path(self, spark) -> None:
        """The maintenance calls on the workload's own index, after the
        timed window and the pruning probe: one lsm append of a fresh
        delta, reads of the stack, then compaction and a delete, each
        followed by the same reads. Only traced runs take this path, so
        untraced figures never include it."""
        queries = self.probe_queries()[: self.write_reads]
        before = dir_bytes(self.index_dir)
        self.attempted += 1
        self.append_s = [self.append_delta(spark, 0)]
        self.written = dir_bytes(self.index_dir) - before
        for q in queries:
            _, rows, _ = self.read_once(spark, "wand.execute_stacked", q)
            self.stack_reads.append((1, "append", q, rows))
        self.compact_and_delete(spark)

    def compact_and_delete(self, spark) -> None:
        """Compaction, then a delete, each followed by the deepest stack's
        queries again (timed on their own, outside the loop)."""
        from sparkforward.append import compact_index, delete_docs

        last = [(q, rows) for depth, _, q, rows in self.stack_reads if depth == self.appended]
        self.attempted += 2  # the compaction and the delete, checked below
        t0 = time.perf_counter()
        with self.spans.span("append.compact_index"):
            compact_index(spark, self.index_dir)
        self.compact_s = time.perf_counter() - t0
        self.index_bytes = dir_bytes(self.index_dir)
        self.compacted = [(q, rows, self.read_once(spark, "wand.execute", q)[1])
                          for q, rows in last]
        # delete some returned docs, so the delete changes what reads see
        n_docs = sum(c.n for c in self.visible(self.appended))
        rng = gen.seeded(self.seed, "deletes")
        hit = sorted({d for _, rows in last for d, _ in rows[:3]})
        rest = np.setdiff1d(rng.choice(n_docs, self.n_deleted, replace=False), hit)
        self.deleted = np.concatenate([hit, rest])[: self.n_deleted].astype(np.int64)
        t0 = time.perf_counter()
        with self.spans.span("append.delete_docs"):
            delete_docs(spark, self.index_dir, self.deleted.tolist())
        self.delete_s = time.perf_counter() - t0
        self.after_delete = [(q, self.read_once(spark, "wand.execute", q)[1])
                             for q, _ in last]

    def check_stack(self) -> None:
        """Stack reads match the oracle over the docs visible at their
        depth; compacted reads equal the deepest stack's; after the
        delete, no deleted id comes back and the rows match the oracle
        over the survivors."""
        tol = oracle.SCORE_TOL
        for depth in sorted({d for d, _, _, _ in self.stack_reads}):
            bm25 = oracle.BM25(self.visible(depth))
            for d, op, (_, text), rows in self.stack_reads:
                if d == depth and not oracle.same_ranking(rows, bm25.topk(text, self.k), tol):
                    self.fail(op, f"{self.name}: stack read differs from the oracle for {text!r}")
        for (_, text), stack, compacted in self.compacted:
            if stack != compacted:
                self.fail("compact", f"{self.name}: read differs after compaction for {text!r}")
        survivors = oracle.BM25(self.visible(self.appended), deleted=self.deleted)
        dead = set(self.deleted.tolist())
        for (_, text), rows in self.after_delete:
            if dead & {d for d, _ in rows}:
                self.fail("delete", f"{self.name}: deleted doc returned for {text!r}")
            elif not oracle.same_ranking(rows, survivors.topk(text, self.k), tol):
                self.fail("delete", f"{self.name}: post-delete read differs from the oracle for {text!r}")

    def write_figures(self) -> dict[str, tuple[float, str]]:
        """Write-path figures, once appends have run."""
        delta_text = sum(c.text_bytes() for c in self.deltas[: self.appended])
        union_text = sum(c.text_bytes() for c in self.visible(self.appended))
        return {
            "append_p50_s": (median(self.append_s), "s"),
            "compact_s": (self.compact_s, "s"),
            "delete_s": (self.delete_s, "s"),
            "index_bytes_per_text_byte": (self.index_bytes / union_text, "ratio"),
            "append_bytes_per_text_byte": (self.written / delta_text, "ratio"),
        }

    def timed(self, fn, deadline: float, min_ops: int = 3) -> None:
        """Run ``fn(i)`` (returning its query count) until ``deadline``,
        and at least ``min_ops`` times."""
        i = 0
        while i < min_ops or time.perf_counter() < deadline:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                n = fn(i)
            except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
                self.fail(i, f"op {i}: {type(e).__name__}: {e}"[:300])
            else:
                self.op_s.append(time.perf_counter() - t0)
                self.op_queries.append(n)
            i += 1

    # -- interface -------------------------------------------------------
    def make_inputs(self) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, seconds: float) -> None:
        raise NotImplementedError

    def finish(self, spark) -> None:
        """Untimed-loop work after the deadline, before the checks."""

    def check(self) -> None:
        raise NotImplementedError

    def pruning_probe(self, spark) -> dict:
        """WAND pruning counters over the checked queries, taken through
        ``wand_topk``'s opt-in ``io_stats``/``block_stats`` arguments. They
        bypass the serve-plan memo, so the probe runs apart from the
        traced calls, after the timed window."""
        from sparkforward.postings import PostingIndex
        from sparkforward.wand import wand_topk

        index = getattr(self, "index", None) or PostingIndex.load(spark, self.index_dir)
        sc = spark.sparkContext
        decoded, gathered = sc.accumulator(0), sc.accumulator(0)
        out = {"queries": 0, "bytes_total": 0, "bytes_gathered": 0}
        for q in self.probe_queries():
            io: dict = {}
            wand_topk(
                index, spark.createDataFrame([q], QUERY_SCHEMA), k=self.k,
                block_stats=(decoded, gathered), io_stats=io,
            ).collect()
            out["queries"] += 1
            out["bytes_total"] += int(io.get("bytes_total", 0))
            out["bytes_gathered"] += int(io.get("bytes_gathered", 0))
        out["blocks_decoded"] = int(decoded.value)
        out["blocks_gathered"] = int(gathered.value)
        return out

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures: name -> (value, unit)."""
        raise NotImplementedError


class Serve(Workload):
    """Cached index, one distinct single query per request (k=10)."""

    name = "serve"
    n_docs = 20_000
    n_queries = 600
    n_deleted = 16
    #: the first requests took 3.8, 2.5 and 1.6 s, requests 4-8 1.4-2.2 s,
    #: later ones 1.2-1.8 s (loaded host); the timed window starts after 8
    warmups = 8
    k = 10

    def make_inputs(self) -> dict:
        self.corpus = self.base = gen.make_corpus(
            gen.seeded(self.seed, "corpus"), 0, self.n_docs
        )
        self.corpus_file = gen.write_corpus(self.corpus, self.path("corpus.parquet"))
        self.make_deltas(self.n_docs, 1)
        self.queries = gen.make_queries(
            gen.seeded(self.seed, "queries"), self.corpus, self.n_queries, "q"
        )
        self.text_bytes = self.corpus.text_bytes()
        return {"docs": self.n_docs, "text_bytes": self.text_bytes,
                "query_pool": self.n_queries, "k": self.k,
                "traced_delta_docs": self.n_delta, "traced_deleted_docs": self.n_deleted}

    def setup(self, spark) -> None:
        self.index_dir = self.path("index")
        self.build_postings(spark, self.corpus_file, self.index_dir)
        self.index = self.load_postings(spark, self.index_dir, cache=True)
        self.next_q = 0
        for _ in range(self.warmups):
            self.request(spark)

    def request(self, spark):
        q = self.queries[self.next_q]
        self.next_q += 1
        return q, self.serve_one(spark, self.index, q, self.k, "wand.execute")

    def run(self, spark, seconds: float) -> None:
        self.got = []

        def op(_):
            self.got.append(self.request(spark))
            return 1

        self.timed(op, time.perf_counter() + seconds)

    def check(self) -> None:
        bm25 = oracle.BM25([self.corpus])
        for i, ((_, text), rows) in enumerate(self.got[: self.check_sample]):
            if not oracle.same_ranking(rows, bm25.topk(text, self.k), oracle.SCORE_TOL):
                self.fail(i, f"serve rows differ from the BM25 oracle for {text!r}")
        if self.stack_reads:
            self.check_stack()

    def probe_queries(self):
        return [q for q, _ in self.got[: self.check_sample]]

    def metrics(self) -> dict:
        lat = self.op_s
        out = self.write_figures() if self.stack_reads else {}
        out |= {
            "request_p50_s": (median(lat), "s"),
            "queries_per_s": (sum(self.op_queries) / sum(lat), "1/s"),
        }
        # a p90 needs at least ten samples beyond it
        if len(lat) >= 100:
            out["request_p90_s"] = (float(np.quantile(lat, 0.9)), "s")
        return out


class Batch(Workload):
    """The paper's pipeline on a whole query set per call: BM25 top-100 by
    WAND, Fast-Forward MAXP re-ranking, interpolation, top-10."""

    name = "batch"
    n_docs = 20_000
    batch = 32
    n_ops = 40
    n_deleted = 16
    #: calls took 8.2, 5.3, 4.7, 4.5, 4.1 s on a loaded host (3.9, 2.7,
    #: 2.3, 2.2, 2.2 s idle); from the fourth on, consecutive calls agree
    #: within about a tenth
    warmups = 3
    depth = 100
    k = 10
    alpha = 0.2

    def make_inputs(self) -> dict:
        from perfbench.gen import PASSAGES_PER_DOC

        self.corpus = self.base = gen.make_corpus(
            gen.seeded(self.seed, "corpus"), 0, self.n_docs
        )
        self.corpus_file = gen.write_corpus(self.corpus, self.path("corpus.parquet"))
        self.make_deltas(self.n_docs, 1)
        self.passages = gen.passage_vectors(gen.seeded(self.seed, "passages"), self.corpus)
        self.vectors_file = gen.write_vectors(
            self.corpus, self.passages, self.path("vectors.parquet")
        )
        n = self.batch
        qs = gen.make_queries(
            gen.seeded(self.seed, "queries"), self.corpus, n * self.n_ops, "q"
        )
        qv = gen.make_vectors(gen.seeded(self.seed, "query-vectors"), len(qs))
        self.ops = [(qs[i:i + n], qv[i:i + n]) for i in range(0, len(qs), n)]
        return {"docs": self.n_docs, "passages": self.n_docs * PASSAGES_PER_DOC,
                "dim": gen.DIM, "text_bytes": self.corpus.text_bytes(),
                "queries_per_call": self.batch, "depth": self.depth, "k": self.k,
                "alpha": self.alpha, "traced_delta_docs": self.n_delta,
                "traced_deleted_docs": self.n_deleted}

    def setup(self, spark) -> None:
        from sparkforward.index import Mode, VectorIndex

        self.index_dir = self.path("index")
        self.build_postings(spark, self.corpus_file, self.index_dir)
        self.index = self.load_postings(spark, self.index_dir, cache=True)
        with self.spans.span("index.write"):
            VectorIndex(spark.read.parquet(self.vectors_file), mode=Mode.MAXP).write(
                self.path("vectors")
            )
        with self.spans.span("index.load_cache"):
            self.vectors = VectorIndex.load(spark, self.path("vectors")).cache()
            self.vectors.df.count()
        self.next_op = 0
        for _ in range(self.warmups):
            self.call(spark)

    def call(self, spark):
        from sparkforward.index import Mode
        from sparkforward.ranking import Ranking
        from sparkforward.score import interpolated_rerank
        from sparkforward.wand import wand_topk

        qs, qv = self.ops[self.next_op]
        self.next_op += 1
        qdf = spark.createDataFrame(qs, QUERY_SCHEMA)
        vecs = {q: v.tolist() for (q, _), v in zip(qs, qv)}
        with self.spans.span("wand.wand_topk"):
            cand = wand_topk(self.index, qdf, k=self.depth)
        with self.spans.span("score.interpolated_rerank"):
            ranked = interpolated_rerank(
                Ranking(cand), self.vectors, alpha=self.alpha,
                query_vectors=vecs, mode=Mode.MAXP, k=self.k,
            )
        with self.spans.span("score.execute"):
            rows = ranked.df.collect()
        return qs, qv, rows

    def run(self, spark, seconds: float) -> None:
        self.got = []

        def op(_):
            self.got.append(self.call(spark))
            return self.batch

        self.timed(op, time.perf_counter() + seconds, min_ops=2)

    def check(self) -> None:
        bm25 = oracle.BM25([self.corpus])
        qs, qv, rows = self.got[0]
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["q_id"], []).append((r["id"], float(r["score"])))
        for (q_id, text), vec in list(zip(qs, qv))[: self.check_sample]:
            got = sorted(by_q.get(q_id, []), key=lambda x: (-x[1], x[0]))
            want = oracle.rerank(
                bm25, text, vec, self.passages, self.alpha, self.depth, self.k
            )
            tol = oracle.rerank_tol(self.alpha, want[0][1] if want else 1.0)
            if not oracle.same_ranking(got, want, tol):
                self.fail(0, f"batch scores differ from the NumPy re-rank for {text!r}")
        if self.stack_reads:
            self.check_stack()

    def probe_queries(self):
        return self.got[0][0][: self.check_sample]

    def metrics(self) -> dict:
        out = self.write_figures() if self.stack_reads else {}
        return out | {
            "request_p50_s": (median(self.op_s), "s"),
            "queries_per_s": (sum(self.op_queries) / sum(self.op_s), "1/s"),
        }


class Ingest(Workload):
    """One writer: lsm appends, each followed by single-query reads from a
    freshly loaded (uncached) stack; then compaction, deletes and reads."""

    name = "ingest"
    n_base = 10_000
    n_deltas = 12
    reads_per_append = 2
    n_deleted = 64
    k = 10

    def make_inputs(self) -> dict:
        self.base = gen.make_corpus(gen.seeded(self.seed, "corpus"), 0, self.n_base)
        self.base_file = gen.write_corpus(self.base, self.path("base.parquet"))
        self.make_deltas(self.n_base, self.n_deltas)
        self.queries = gen.make_queries(
            gen.seeded(self.seed, "queries"), self.base, 400, "q"
        )
        return {"base_docs": self.n_base, "delta_docs": self.n_delta,
                "reads_per_append": self.reads_per_append,
                "deleted_docs": self.n_deleted, "k": self.k}

    def setup(self, spark) -> None:
        self.index_dir = self.path("index")
        self.build_postings(spark, self.base_file, self.index_dir)
        self.next_q = 0
        self.appended = 0
        self.append_s: list[float] = []
        self.read_s: list[float] = []
        self.read_once(spark, "wand.execute")

    def run(self, spark, seconds: float) -> None:
        before = dir_bytes(self.index_dir)

        def op(i):
            if i >= len(self.delta_files):
                raise RuntimeError("ingest: out of generated deltas; lower --seconds")
            self.append_s.append(self.append_delta(spark, i))
            for _ in range(self.reads_per_append):
                q, rows, dt = self.read_once(spark, "wand.execute_stacked")
                self.read_s.append(dt)
                self.stack_reads.append((self.appended, i, q, rows))
            return self.reads_per_append

        self.timed(op, time.perf_counter() + seconds, min_ops=2)
        self.written = dir_bytes(self.index_dir) - before

    def finish(self, spark) -> None:
        self.compact_and_delete(spark)

    def probe_queries(self):
        return [q for q, _ in self.after_delete]

    def check(self) -> None:
        self.check_stack()

    def metrics(self) -> dict:
        return self.write_figures() | {
            "docs_per_s": (self.appended * self.n_delta / sum(self.append_s), "1/s"),
            "read_p50_s": (median(self.read_s), "s"),
        }


WORKLOADS = {w.name: w for w in (Serve, Batch, Ingest)}
