"""Per-layer report: traced and untraced runs of each workload, in pairs.

    python3 perfbench/trace_report.py [--seed N] [--seconds S] [--pairs P] [workload ...]

Run from the repository root. For each workload (default: serve, batch,
ingest) it runs ``perfbench/run.py`` ``P`` times with ``--trace 0`` and
``P`` times with ``--trace 1``, in pairs on seeds ``N, N+1, ...``,
alternating which side runs first. It writes
``perfbench/results/layers_<workload>.json`` with, per span, the fields
of :data:`perfbench.spans.FIELDS` summed over the whole run and over the
timed window (from the first traced run), the WAND pruning probe, and
the tracing overhead: traced minus untraced end-to-end figures, per pair
and their median. End-to-end numbers always come from untraced runs; the
traced run only explains them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run the benchmark once; return its detail record (the line before
    the result line)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    ).stdout.strip().splitlines()
    detail, result = json.loads(out[-2]), json.loads(out[-1])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: output checks failed: {detail['errors']}")
    return detail


def report(workload: str, seed: int, seconds: float, pairs: int) -> dict:
    plain, traced = [], []
    for i in range(pairs):
        sides = (0, 1) if i % 2 == 0 else (1, 0)
        got = {t: run(workload, seed + i, seconds, t) for t in sides}
        plain.append(got[0])
        traced.append(got[1])
    first = traced[0]
    fig1 = first["figures"]
    counts = {}
    if "wand.wand_topk" in first["timed_layers"]:
        counts["wand.plan_memo_hits"] = first["timed_layers"]["wand.wand_topk"]["calls_without_jobs"]
    if "append_bytes_per_text_byte" in fig1:
        counts["append.bytes_written_per_text_byte"] = fig1["append_bytes_per_text_byte"]["value"]
    probe = first["pruning_probe"] or {}
    if probe.get("bytes_total"):
        probe["bytes_fraction"] = probe["bytes_gathered"] / probe["bytes_total"]
    if probe.get("blocks_gathered"):
        probe["decode_fraction"] = probe["blocks_decoded"] / probe["blocks_gathered"]
    overhead = {}
    for k, f in plain[0]["figures"].items():
        diffs = [t["figures"][k]["value"] - p["figures"][k]["value"]
                 for p, t in zip(plain, traced)]
        shares = [t["figures"][k]["value"] / p["figures"][k]["value"] - 1.0
                  for p, t in zip(plain, traced)]
        overhead[k] = {"unit": f["unit"], "per_pair": diffs,
                       "median": statistics.median(diffs),
                       "median_share": statistics.median(shares)}
    return {
        "workload": workload,
        "seeds": [seed + i for i in range(pairs)],
        "seconds": seconds,
        "settings": {k: first[k] for k in ("cores", "heap", "warmups", "inputs")},
        "spans": first["layers"],
        "timed_spans": first["timed_layers"],
        "per_timed_op": first["per_op"],
        "timed_ops": first["timed_ops"],
        "counts": counts,
        "pruning_probe": probe,
        "untraced": [p["figures"] for p in plain],
        "tracing_overhead": overhead,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("workloads", nargs="*", default=["serve", "batch", "ingest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--pairs", type=int, default=3)
    args = p.parse_args(argv)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in args.workloads:
        rep = report(w, args.seed, args.seconds, args.pairs)
        path = os.path.join(HERE, "results", f"layers_{w}.json")
        with open(path, "w") as fh:
            json.dump(rep, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{w}: wrote {os.path.relpath(path, ROOT)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
