"""Dump .explain("formatted") for queries() entries to a directory.

Usage: python tools/dump_plans.py OUTDIR [suffix] [names...]

Writes OUTDIR/<name>_<suffix>.txt for each entry (default suffix "after";
default names = every queries() key). Used for the plans/r08 deliverable:
run once from the round-start worktree with suffix "before" and once from
the working tree with suffix "after".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    names = sys.argv[3:] or None
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entrymod
    from sparkforward.session import get_spark

    spark = get_spark(app_name="plan-dump", cores=8, shuffle_partitions=16)
    qs = entrymod.queries()
    for name, fn in qs.items():
        if names is not None and name not in names:
            continue
        try:
            df = fn(spark, SF_DIR)
            txt = explain_str(df)
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            txt = f"EXPLAIN FAILED: {e!r}"
        # plans quote string literals verbatim, and a NUL byte (e.g. the
        # BM25 "\x00stats" marker) would make the dump a binary file
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt.replace("\x00", "\\x00") + "\n")
        print(f"dumped {name}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
