"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|batch|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The run writes everything under
``.perfbench_tmp/`` in that root and removes it at the end. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also writes an
uncompressed Spark event log and reports per-layer numbers instead. The
line before it is a JSON detail record (settings, input sizes, every
workload-specific figure, per-span numbers when tracing).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: pinned session shape, whatever the host: local[4] and a 2 GiB driver
#: heap. The heap is far above what 20k documents need; at 4 GiB the
#: JVM's peak RSS followed GC timing (1.7-2.2 GB over five serve runs), at
#: 2 GiB it stayed within 1.4-1.7 GB
CORES = "4"
HEAP = "2g"
#: workloads listed in BENCHMARK.json, and their end-to-end metrics
GATED = ("serve", "batch")
END_TO_END = ("setup_s", "request_p50_s")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_ref_s() -> float:
    """Median time of a fixed single-thread NumPy sort: a host-speed
    reference recorded with every result, so that a run on a slowed-down
    host can be told apart from a slower program."""
    x = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.sort(x, kind="stable")
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> list[int]:
    """The host's aggregate ``cpu`` line of /proc/stat (empty elsewhere)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_share(t0: list[int], t1: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(t0) < 8 or len(t1) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d[:8]))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
            raise


#: span fields reported per layer in the result line
LAYER_FIELDS = (
    "wall_s", "driver_s", "executor_run_s", "gc_s", "python_s", "jobs", "stages",
    "arrow_bytes", "shuffle_write_bytes", "input_bytes",
)


#: spans of the write path a traced serve or batch run takes after its
#: timed window
WRITE_SPANS = (
    "append.append_to_index", "wand.execute_stacked", "append.compact_index",
    "append.delete_docs",
)


def per_layer(layers: dict, timed: dict, op: dict, figures: dict) -> dict:
    """The per-layer metrics named in BENCHMARK.json; each exists on every
    gated workload. Set-up spans are totals; the request path is per call
    (``wand.wand_topk``) or per timed operation (``op.*``); the write path
    is per call."""
    from perfbench.spans import unit

    build = layers["postings.build_inverted_index"]
    plan = timed["wand.wand_topk"]
    out = {
        "session.get_spark.wall_s": (layers["session.get_spark"]["wall_s"], "s"),
        "index.load_cache.wall_s": (layers["index.load_cache"]["wall_s"], "s"),
        "wand.plan_memo_hits": (plan["calls_without_jobs"], "count"),
    }
    for f in LAYER_FIELDS:
        out[f"postings.build_inverted_index.{f}"] = (build[f], unit(f))
        out[f"op.{f}"] = (op[f], unit(f))
    for f in ("wall_s", "driver_s", "jobs"):
        out[f"wand.wand_topk.{f}"] = (plan[f] / plan["calls"], unit(f))
    for name in WRITE_SPANS:
        for f in ("wall_s", "jobs"):
            out[f"{name}.{f}"] = (layers[name][f] / layers[name]["calls"], unit(f))
    out["append.bytes_written_per_text_byte"] = figures["append_bytes_per_text_byte"]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparkforward")):
        print(f"perfbench: no sparkforward package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import spans as sp
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": CORES,
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    spark = None
    try:
        spans = sp.Spans()
        w = WORKLOADS[args.workload](args.seed, work, spans)
        sizes = w.make_inputs()
        ref = [host_ref_s()]
        ticks = cpu_ticks()

        from sparkforward.session import get_spark

        # keep the JVM's scratch files (native libraries it unpacks, Spark
        # temp dirs) inside the run directory, and skip its /tmp perf file
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if args.trace:
            conf |= sp.event_log_conf(os.path.join(work, "eventlog"))
        t0 = time.perf_counter()
        with spans.span("session.get_spark"):
            spark = get_spark(extra_conf=conf)
        if args.trace:
            spans.sc = spark.sparkContext
        w.setup(spark)
        setup_s = time.perf_counter() - t0
        setup_n = len(spans.records)

        w.run(spark, args.seconds)
        timed_end = len(spans.records)
        rss = vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()) + vm_hwm_mb("self")
        w.finish(spark)
        probe = None
        if args.trace:
            probe = w.pruning_probe(spark)
            if args.workload in GATED:
                w.write_path(spark)
        stop_spark(spark)
        spark = None
        steal = steal_share(ticks, cpu_ticks())
        ref.append(host_ref_s())
        w.check()

        figures = w.metrics()
        figures["setup_s"] = (setup_s, "s")
        figures["peak_rss_mb"] = (rss, "MB")
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": int(CORES), "heap": HEAP,
            "warmups": w.warmups, "timed_ops": len(w.op_s), "inputs": sizes,
            "host": {"ref_sort_s": ref, "steal_share": steal},
            "failed_fraction": w.failed / max(1, w.attempted),
            "errors": w.errors,
            "span_walls": {n: [round(x, 3) for x in spans.wall(n)]
                           for n in dict.fromkeys(r[0] for r in spans.records)},
            "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
        }
        if args.trace:
            events = sp.read_event_log(os.path.join(work, "eventlog"))
            layers = sp.layer_report(spans.records, events)
            timed = sp.layer_report(spans.records[setup_n:timed_end], events)
            op = sp.per_op(timed, len(w.op_s))
            detail.update(layers=layers, timed_layers=timed, per_op=op, pruning_probe=probe)
            metrics = (
                per_layer(layers, timed, op, figures) if args.workload in GATED
                else {f"{n}.{f}": (v, sp.unit(f) if f in sp.FIELDS else "count")
                      for n, r in layers.items() for f, v in r.items()}
            )
        else:
            metrics = {k: figures[k] for k in END_TO_END} if args.workload in GATED else figures
        print(json.dumps(detail, sort_keys=True))
        print(json.dumps({
            "correct": w.failed == 0,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
