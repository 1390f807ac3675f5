"""Session helpers: the Arrow local-relation builder and the driver heap
default."""

import os

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
