"""Run-to-run spread of every end-to-end metric on every workload, in two
interleaved sets.

    python3 perfbench/spread.py [--runs 10] [--seeds 1,101] [workload ...]

Run from the repository root. Reads BENCHMARK.json and runs its command,
untraced for ``run_seconds``, ``--runs`` times per workload and set. Set
``j`` uses seeds ``seeds[j], seeds[j] + 1, ...``. The runs alternate
between the sets (A-serve, A-batch, B-serve, B-batch, A-serve, ...), so
both sets see the same host load. It writes
``perfbench/results/spread.json``: per set and workload every value, the
median, and the spread (distance between the first and third quartile of
``statistics.quantiles(values, n=4)``, as a share of the median), with
the host-speed reference of every run. A metric whose spread exceeds its
bound, or a third of it, is named in ``over_bound`` / ``over_third``.
``agreement`` gives, per workload and metric, how much worse the second
set's median is than the first's, as a share of the first; a metric whose
two medians differ by more than its bound is named in ``disagree``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_share(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``
    (negative when it is better)."""
    change = (second - first) / first
    return change if better == "lower" else -change


def run_once(bench: dict, workload: str, seed: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    ).stdout.strip().splitlines()
    wall = time.perf_counter() - t0
    detail, res = json.loads(out[-2]), json.loads(out[-1])
    if not res["correct"] or res["failed"]:
        raise RuntimeError(f"{workload} seed {seed}: failed output checks: {detail['errors']}")
    return detail, res, wall


def summarize(runs: list[dict], metrics: dict) -> dict:
    values = {m: [r["metrics"][m] for r in runs] for m in metrics}
    stats = {
        m: {"values": v, "median": statistics.median(v), "spread": spread(v),
            "bound": metrics[m]["bound"]}
        for m, v in values.items()
    }
    return {
        "seeds": [r["seed"] for r in runs],
        "run_wall_s": [r["wall_s"] for r in runs],
        "host": [r["host"] for r in runs],
        "metrics": stats,
        "over_bound": [m for m, r in stats.items() if r["spread"] > r["bound"]],
        "over_third": [m for m, r in stats.items() if r["spread"] > r["bound"] / 3],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("workloads", nargs="*")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seeds", default="1,101",
                   help="first seed of each set, comma-separated")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    firsts = [int(s) for s in args.seeds.split(",")]
    runs: dict[tuple[int, str], list[dict]] = {(j, w): [] for j in range(len(firsts)) for w in names}
    for i in range(args.runs):
        for j, first in enumerate(firsts):
            for w in names:
                detail, res, wall = run_once(bench, w, first + i)
                runs[j, w].append({
                    "seed": first + i, "wall_s": wall, "host": detail["host"],
                    "metrics": {m: res["metrics"][m]["value"] for m in metrics},
                })
                print(f"set {j} {w} seed {first + i}: {wall:.1f} s "
                      + " ".join(f"{m}={v:.4g}" for m, v in runs[j, w][-1]["metrics"].items())
                      + f" ref={detail['host']['ref_sort_s'][0]:.3f}", flush=True)
    sets = [{w: summarize(runs[j, w], metrics) for w in names} for j in range(len(firsts))]
    record = {"run_seconds": bench["run_seconds"], "runs": args.runs,
              "first_seeds": firsts, "interleaved": True, "sets": sets}
    if len(sets) >= 2:
        agreement = {}
        for w in names:
            a, b = sets[0][w]["metrics"], sets[1][w]["metrics"]
            shares = {m: worse_share(a[m]["median"], b[m]["median"], metrics[m]["better"])
                      for m in metrics}
            agreement[w] = {
                "second_worse_by": shares,
                "disagree": [m for m, s in shares.items() if abs(s) > metrics[m]["bound"]],
            }
        record["agreement"] = agreement
    for j, s in enumerate(sets):
        for w, r in s.items():
            print(f"set {j} {w}: " + " ".join(
                f"{m} median {x['median']:.4g} spread {x['spread']:.3f}/{x['bound']}"
                for m, x in r["metrics"].items()), flush=True)
    if "agreement" in record:
        print("agreement: " + json.dumps(record["agreement"]), flush=True)
    with open(os.path.join(HERE, "results", "spread.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
