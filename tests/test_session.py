"""Session helpers: the Arrow local-relation builder, the driver heap
default, the Python-worker daemon's zip-archive guard, and the session
cache's clean-up at exit."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest

from sparkforward.session import default_driver_memory, local_frame

CASES = [
    ("s string", [("a",), ("",), ("éß",)]),
    ("i int", [(0,), (-(2**31),), (2**31 - 1,)]),
    ("n long", [(0,), (-(2**63),), (2**63 - 1,)]),
    ("d double", [(0.1,), (float("-inf"),), (1e308,)]),
    ("v array<float>", [([0.1, 1.0 / 3.0],), ([],), ([1e-46, 3.4e38],)]),
    ("v array<double>", [([0.1, 1.0 / 3.0],), ([],), ([1e-300],)]),
    (
        "s string, i int, n long, d double, v array<float>",
        [(None, None, None, None, None), ("a", 1, 2, 3.0, [None, 1.5])],
    ),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("ddl,rows", CASES)
def test_local_frame_matches_list_path(spark, ddl, rows):
    """Same schema and rows as ``spark.createDataFrame(<list>, ddl)``, for
    each column type the engine builds driver-side, nulls and zero rows."""
    for r in (rows, []):
        got, want = local_frame(spark, r, ddl), spark.createDataFrame(r, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


def test_local_frame_rounds_doubles_to_float32_like_list_path(spark):
    """1,000 Python doubles into ``array<float>`` round exactly as the list
    path rounds them (and as NumPy's float64 -> float32 cast does)."""
    xs = np.random.default_rng(0).standard_normal(1000) * 1e3
    rows = [("q", [float(x) for x in xs])]
    ddl = "q_id string, v array<float>"
    got = local_frame(spark, rows, ddl).collect()[0]["v"]
    want = spark.createDataFrame(rows, ddl).collect()[0]["v"]
    assert got == want
    assert got == [float(x) for x in xs.astype(np.float32)]
    # a NumPy row converts the same as the Python list it replaces
    arr = local_frame(spark, [("q", xs)], ddl).collect()[0]["v"]
    assert arr == want


def test_local_frame_plans_a_local_table_scan(spark):
    """The frame is a JVM local relation: no Python RDD behind it."""
    df = local_frame(spark, [(str(i), i) for i in range(300)], "q_id string, n int")
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_local_frame_rejects_bad_rows(spark):
    """A value that does not fit its type, or a row of the wrong width,
    raises instead of being truncated or dropped."""
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [("a", 2**31)], "q_id string, n int")
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1, 2)], "q_id string, n int")
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1), ("b",)], "q_id string, n int")


def test_default_driver_memory_is_a_third_of_physical():
    """The driver heap defaults to a third of physical memory, never above
    it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("m")
    mib = int(mem[:-1])
    assert 0 < mib * 2**20 <= phys / 3
    assert mib == phys // 3 // 2**20


OLD_PYTHON = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13"
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


@pytest.fixture
def guarded_archive(tmp_path, monkeypatch):
    """A zip archive holding module ``sfwd_guard_probe``, imported from
    ``sys.path``, with the daemon's guard installed (undone afterwards).
    Yields ``(archive, reads)``: ``reads`` lists the archive paths
    ``zipimport._read_directory`` is called with."""
    from sparkforward import worker_daemon

    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("sfwd_guard_probe.py", "VALUE = 1\n")
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    try:
        import sfwd_guard_probe

        assert sfwd_guard_probe.VALUE == 1
        assert worker_daemon.install()
        yield archive, reads
    finally:
        sys.modules.pop("sfwd_guard_probe", None)
        sys.path_importer_cache.pop(archive, None)


@OLD_PYTHON
def test_guard_skips_an_unchanged_archive(guarded_archive, monkeypatch):
    """Once stamped, an unchanged archive is not re-read by
    ``importlib.invalidate_caches()``; without the guard every call
    re-reads it."""
    archive, reads = guarded_archive
    importlib.invalidate_caches()  # first guarded call stamps the importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    from sparkforward import worker_daemon

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._read_archive
    )
    importlib.invalidate_caches()
    assert archive in reads


@OLD_PYTHON
def test_guard_rereads_a_rewritten_archive(guarded_archive):
    """An archive rewritten with new content (and a new size) is re-read,
    and the new module content imports after ``invalidate_caches()``."""
    archive, reads = guarded_archive
    importlib.invalidate_caches()
    reads.clear()
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("sfwd_guard_probe.py", "VALUE = 22222  # rewritten\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    sys.modules.pop("sfwd_guard_probe")
    import sfwd_guard_probe

    assert sfwd_guard_probe.VALUE == 22222


def _guard_reporter():
    """A mapInPandas body reporting whether its worker runs the guarded
    ``invalidate_caches`` and how many of its zip importers are stamped
    (a nested function, so it pickles by value)."""

    def report(it):
        import sys
        import zipimport

        import pandas as pd

        guarded = zipimport.zipimporter.invalidate_caches.__module__
        stamped = sum(
            hasattr(f, "_sfwd_stamp") for f in list(sys.path_importer_cache.values())
        )
        for _ in it:
            pass
        yield pd.DataFrame({"guard": [guarded], "stamped": [stamped]})

    return report


@OLD_PYTHON
def test_session_workers_run_the_guard(spark):
    """A one-partition Python stage of a ``get_spark`` session runs in a
    worker forked by the engine's daemon: the guard is installed and has
    stamped the worker's zip importers (a conf that silently did not take
    effect would report pyspark's own method)."""
    row = (
        spark.range(0, 1, 1, 1)
        .mapInPandas(_guard_reporter(), "guard string, stamped long")
        .collect()[0]
    )
    assert row["guard"] == "sparkforward.worker_daemon"
    assert row["stamped"] > 0


def _run_session(tmp_path, extra_conf: dict) -> subprocess.CompletedProcess:
    """Start a one-core ``get_spark`` session in a fresh interpreter whose
    working directory is outside the repository and whose environment has
    no PYTHONPATH (only the driver puts the repo on ``sys.path``), then run
    one Python stage."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from sparkforward.session import get_spark
        spark = get_spark(cores=1, shuffle_partitions=1, extra_conf={extra_conf!r})
        from tests.test_session import _guard_reporter
        row = spark.range(0, 1, 1, 1).mapInPandas(
            _guard_reporter(), "guard string, stamped long").collect()[0]
        print("GUARD", row["guard"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    return subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )


def test_session_started_outside_the_repo_runs_python_stages(tmp_path):
    """Workers find the daemon module whatever the driver's working
    directory: a session started elsewhere runs a Python stage."""
    out = _run_session(tmp_path, {})
    assert out.returncode == 0, out.stderr[-3000:]
    want = "sparkforward.worker_daemon" if sys.version_info < (3, 13) else "zipimport"
    assert f"GUARD {want}" in out.stdout, out.stdout[-2000:]


def test_unimportable_worker_daemon_fails_loudly(tmp_path):
    """A daemon module the workers cannot import fails session creation
    with an error naming the module and the workers' PYTHONPATH, instead
    of an opaque end-of-stream error in a later Python stage."""
    out = _run_session(
        tmp_path, {"spark.python.daemon.module": "sparkforward.no_such_daemon"}
    )
    assert out.returncode != 0
    assert "RuntimeError: Python workers failed to start" in out.stderr, out.stderr[-3000:]
    assert "'sparkforward.no_such_daemon'" in out.stderr
    assert f"workers' PYTHONPATH '{REPO}" in out.stderr


def test_shipped_package_zip_holds_this_tree(spark):
    """The executor package zip comes from the current tree: a stale zip
    left at the fixed path earlier code wrote does not get shipped, and
    shipping twice in one context raises nothing."""
    import tempfile

    from pyspark import SparkFiles

    import __spark_entry__ as entrymod

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stale = os.path.join(tempfile.gettempdir(), "sparkforward_pkg.zip")
    planted = not os.path.exists(stale)
    if planted:
        with zipfile.ZipFile(stale, "w") as zf:
            zf.writestr("sparkforward/wand.py", "# a stale tree\n")
    sc = spark.sparkContext
    was_shipped = getattr(sc, "_sparkforward_shipped", False)
    try:
        for _ in range(2):
            sc._sparkforward_shipped = False
            entrymod._ensure_pkg_on_executors(spark)
        shipped = [f for f in sc._python_includes if f.startswith("sparkforward_pkg")]
        assert shipped and all(f != "sparkforward_pkg.zip" for f in shipped)
        with open(os.path.join(repo, "sparkforward", "wand.py"), "rb") as fh:
            want = fh.read()
        with zipfile.ZipFile(SparkFiles.get(shipped[-1])) as zf:
            assert zf.read("sparkforward/wand.py") == want
    finally:
        sc._sparkforward_shipped = was_shipped
        if planted:
            os.remove(stale)


def test_cache_entries_held_at_exit_leave_no_temp_dir(tmp_path):
    """A process that builds a gate index and exits without
    ``release_caches()`` still removes the index's temp dir: the session
    cache drops the disk state of every entry it holds at exit."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from sparkforward import queries
        from sparkforward.session import get_spark
        spark = get_spark(cores=1, shuffle_partitions=1)
        print("INDEX", queries._gate_index(spark, {SF!r}, "wand").path)
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    path = out.stdout.split("INDEX ")[-1].strip()
    assert os.path.basename(path).startswith("sfwd_wand_"), out.stdout[-2000:]
    assert os.path.dirname(path) == str(tmp_path)
    assert not os.path.exists(path)
