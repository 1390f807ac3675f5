"""Gate-hardening tests (judge round-2 items #2 and #8).

Round 2 shipped three driver hash-fails that the local gate missed because
it compared with ``np.allclose`` (hides ``-0.0``) and float-cast integers
(hides DuckDB HUGEINT leakage). These tests pin the hardened gate
(`tools/check_correctness._compare_exact`) against exactly those bug
classes, and pin the event-analytics outputs as timezone-insensitive
epoch integers.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
#: the repository root: subprocess sessions import the package from here
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compare(s, o):
    import tools.check_correctness as gate

    cols = sorted(s.columns)
    return gate._compare_exact(
        s[cols].sort_values(cols).reset_index(drop=True),
        o[cols].sort_values(cols).reset_index(drop=True),
        cols,
    )


def test_gate_catches_hugeint_int_vs_float_typing():
    """DuckDB HUGEINT arrives in pandas as float64; against Spark's int64
    the values round-trip equal but the driver's typed hash differs. The
    gate must fail on dtype kind, not value."""
    s = pd.DataFrame({"k": pd.array([1, 2], dtype="int64")})
    o = pd.DataFrame({"k": pd.array([1.0, 2.0], dtype="float64")})
    bad = _compare(s, o)
    assert bad is not None and bad[0] == "k" and "dtype kind" in bad[1]


def test_gate_catches_negative_zero():
    s = pd.DataFrame({"score": np.array([0.0, 1.5])})
    o = pd.DataFrame({"score": np.array([-0.0, 1.5])})
    bad = _compare(s, o)
    assert bad is not None and bad[0] == "score"


def test_gate_catches_sub_allclose_ulp_difference():
    a = 0.1
    b = np.nextafter(a, 1.0)  # 1 ulp apart — allclose(atol=1e-12) passes
    bad = _compare(pd.DataFrame({"x": [a]}), pd.DataFrame({"x": [b]}))
    assert bad is not None


def test_gate_passes_exact_match_and_int32_vs_int64():
    s = pd.DataFrame({"n": pd.array([1, 2], dtype="int32"), "x": [0.25, -0.5]})
    o = pd.DataFrame({"n": pd.array([1, 2], dtype="int64"), "x": [0.25, -0.5]})
    assert _compare(s, o) is None


@pytest.mark.parametrize("qname", ["event_window", "user_sessions"])
def test_event_outputs_are_timezone_insensitive(spark, qname):
    """The driver-gate entries emit epoch-microsecond BIGINTs, never raw
    timestamps, so the value hash cannot depend on the session timezone
    (judge r2 'timestamp-output hardening')."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[qname]
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "UTC")
        utc = fn(spark, SF_DIR).toPandas()
        spark.conf.set(key, "America/New_York")
        nyc = fn(spark, SF_DIR).toPandas()
    finally:
        spark.conf.set(key, prev)

    # no timestamp-typed column survives to the gate surface
    for df in (utc, nyc):
        assert not any(
            pd.api.types.is_datetime64_any_dtype(df[c]) for c in df.columns
        ), df.dtypes
    cols = sorted(utc.columns)
    u = utc[cols].sort_values(cols).reset_index(drop=True)
    n = nyc[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(u, n)


def test_oracle_sql_yields_no_hugeint_typing():
    """Every oracle's integer outputs must reach pandas as integer dtypes
    (HUGEINT → float64 leakage is a driver typed-hash fail even when the
    values are equal). Checks the two windowed-sum oracles that regressed
    in round 2."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    oracles = entrymod.oracle_sql()
    for name, col in [("event_window", "sum_k"), ("user_sessions", "session_no")]:
        df = con.execute(oracles[name]).fetchdf()
        assert df[col].dtype.kind in "iu", (name, col, df[col].dtype)
        for tcol in ("window_start", "session_start", "session_end"):
            if tcol in df.columns:
                assert df[tcol].dtype.kind in "iu", (name, tcol, df[tcol].dtype)


# --------------------------------------------------- cache lifecycle (#6) #
class _StubSession:
    """Mimics the session.sparkContext._jsc.sc().isStopped() chain."""

    class _JSC:
        def __init__(self, owner):
            self._owner = owner

        def sc(self):
            return self

        def isStopped(self):
            return self._owner.stopped

    def __init__(self):
        self.stopped = False
        self.sparkContext = type("SC", (), {})()
        self.sparkContext._jsc = self._JSC(self)


class _StubDF:
    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


def test_session_cache_sweeps_dead_sessions_on_access(tmp_path):
    """Entries owned by a stopped session are evicted on the next cache
    access — no explicit release_caches() call required. Eviction of a dead
    session's entry makes no Spark call (nothing unpersisted) but still
    removes its disk state; hits and misses are counted per namespace."""
    from sparkforward.session import SessionScopedCache, remove_dir, unpersist

    cache = SessionScopedCache()
    live, dying = _StubSession(), _StubSession()
    df_live, df_dying = _StubDF(), _StubDF()
    dir_dying = tmp_path / "dying"
    dir_dying.mkdir()
    assert cache.get_or_build(live, ("a", 1), lambda: df_live, unpersist) is df_live
    cache.get_or_build(dying, ("b", 1), lambda: df_dying, unpersist)
    cache.get_or_build(dying, ("c", 1), lambda: str(dir_dying), remove_dir)
    assert len(cache) == 3
    assert cache.get_or_build(live, ("a", 1), _StubDF, unpersist) is df_live

    dying.stopped = True
    assert cache.get_or_build(live, ("a", 1), _StubDF, unpersist) is df_live
    assert len(cache) == 1  # the access swept both dead entries
    assert not df_dying.unpersisted and not dir_dying.exists()
    assert dict(cache.hits) == {"a": 2}
    assert dict(cache.misses) == {"a": 1, "b": 1, "c": 1}

    cache.release()
    assert len(cache) == 0 and df_live.unpersisted


def test_session_cache_accept_rejects_and_rebuilds():
    """A cached value that fails ``accept`` counts as a miss: it is
    released and rebuilt under the same key."""
    from sparkforward.session import SessionScopedCache, unpersist

    cache = SessionScopedCache()
    s = _StubSession()
    first, second = _StubDF(), _StubDF()
    cache.get_or_build(s, ("k",), lambda: first, unpersist)
    got = cache.get_or_build(
        s, ("k",), lambda: second, unpersist, accept=lambda v: v is second
    )
    assert got is second and first.unpersisted and len(cache) == 1
    assert cache.misses["k"] == 2 and cache.hits["k"] == 0


def test_session_cache_release_raises_unless_the_session_stopped():
    """A failing release is swallowed only when the session stopped during
    it; on a live session it raises."""
    from sparkforward.session import SessionScopedCache

    s = _StubSession()

    def boom(_value, _live):
        raise RuntimeError("boom")

    def stop_then_fail(_value, _live):
        s.stopped = True
        raise RuntimeError("context gone")

    cache = SessionScopedCache()
    cache.get_or_build(s, ("k",), object, boom)
    with pytest.raises(RuntimeError, match="boom"):
        cache.release()
    cache.get_or_build(s, ("k",), object, stop_then_fail)
    cache.release()
    assert len(cache) == 0


def test_wand_index_cache_builds_once_and_release_removes_dir(spark):
    """The WAND gate entries share ONE index build per (session, corpus),
    and release_caches() unpersists it and removes its temp directory."""
    import os

    from sparkforward import queries
    from sparkforward.session import SESSION_CACHE, release_caches

    release_caches()
    sf_dir = SF_DIR
    misses, hits = SESSION_CACHE.misses["wand"], SESSION_CACHE.hits["wand"]
    idx1 = queries._gate_index(spark, sf_dir, "wand")
    idx2 = queries._gate_index(spark, sf_dir, "wand")
    assert idx1 is idx2  # second call is a cache hit, not a rebuild
    # the gate entries themselves go through the cache
    queries.q_bm25_wand_topk(spark, sf_dir).count()
    assert SESSION_CACHE.misses["wand"] == misses + 1
    assert SESSION_CACHE.hits["wand"] == hits + 2
    path = idx1.path
    assert os.path.exists(os.path.join(path, "stats.json"))
    assert idx1.postings.is_cached

    release_caches()
    assert len(SESSION_CACHE) == 0
    assert not os.path.exists(path)
    assert not idx1.postings.is_cached and not idx1.terms.is_cached


def test_release_caches_removes_ivfpq_dirs_and_persisted_rdds(monkeypatch):
    """release_caches() removes the persisted and the appended IVF-PQ
    entries' temp dirs and leaves no persisted RDD (a fresh session in a
    subprocess, so no other test's frames are counted)."""
    import subprocess
    import sys

    monkeypatch.setenv("SPARKFORWARD_ORACLE_SF", SF_DIR)
    script = r"""
import glob, os, tempfile
from sparkforward.session import get_spark, release_caches
from sparkforward import queries

sf = os.environ["SPARKFORWARD_ORACLE_SF"]
spark = get_spark(app_name="cache-release", cores=2, shuffle_partitions=2)
pattern = os.path.join(tempfile.gettempdir(), "sfwd_ivfpq*")
before = set(glob.glob(pattern))
queries.q_similarity_ivfpq_persisted(spark, sf).count()
queries.q_similarity_ivfpq_appended(spark, sf).count()
queries.q_interpolate_rerank(spark, sf).count()  # persists cached frames
made = set(glob.glob(pattern)) - before
assert len(made) == 2, made
assert len(dict(spark.sparkContext._jsc.getPersistentRDDs())) > 0
release_caches()
assert not any(os.path.exists(d) for d in made), made
assert len(dict(spark.sparkContext._jsc.getPersistentRDDs())) == 0
spark.stop()
print("RELEASE_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd=REPO,
    )
    assert "RELEASE_OK" in out.stdout, out.stderr[-2000:]


def test_qvec_read_falls_back_only_for_missing_files(spark, tmp_path, monkeypatch):
    """The driver-side query-vector read falls back to a Spark scan when the
    embeddings file is missing, but a vec_id type mismatch (string ids,
    integer mapping) raises instead of silently switching paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkforward import queries

    scans = []

    def spark_scan(spark_, sf_dir):
        scans.append(sf_dir)
        return spark_.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id bigint, embedding array<float>"
        )

    monkeypatch.setattr(queries, "load_embeddings", spark_scan)
    missing = str(tmp_path / "missing")
    assert queries._collect_qvecs(spark, missing, {"q1": 1}) == {"q1": [1.0, 2.0]}
    assert scans == [missing]

    pq.write_table(pa.table({
        "vec_id": pa.array(["1", "2"]),
        "embedding": pa.array([[1.0, 2.0], [3.0, 4.0]], pa.list_(pa.float32())),
    }), str(tmp_path / "embeddings.parquet"))
    with pytest.raises(TypeError):
        queries._collect_qvecs(spark, str(tmp_path), {"q1": 1})
    assert scans == [missing]


def test_caches_auto_expire_across_real_session_stop(tmp_path):
    """Integration: populate the session cache, stop the session, start a
    new one — the first access evicts the dead entries and the new context
    has nothing persisted, without anyone calling release_caches()."""
    import subprocess
    import sys

    script = r"""
import sys
from sparkforward.session import SESSION_CACHE, get_spark
from sparkforward import queries

sf = sys.argv[1]
s1 = get_spark(app_name="cache-life-1", cores=2, shuffle_partitions=2)
queries._bm25_ranked(s1, sf).count()
assert len(SESSION_CACHE) == 3, len(SESSION_CACHE)  # queries_df, tf, ranked
assert dict(SESSION_CACHE.misses) == {"queries_df": 1, "tf": 1, "ranked": 1}
s1.stop()

s2 = get_spark(app_name="cache-life-2", cores=2, shuffle_partitions=2)
queries.queries_df(s2)  # first access after the stop sweeps the dead entries
assert len(SESSION_CACHE) == 1
assert SESSION_CACHE.misses["queries_df"] == 2
assert len(dict(s2.sparkContext._jsc.getPersistentRDDs())) == 0
s2.stop()
print("CACHE_LIFECYCLE_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script, SF_DIR], capture_output=True, text=True,
        timeout=300, cwd=REPO,
    )
    assert "CACHE_LIFECYCLE_OK" in out.stdout, out.stderr[-2000:]
