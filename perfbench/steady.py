"""Steadiness and trace checks for the benchmark.

    python3 perfbench/steady.py [--runs 10] [--workloads stream_drops ...]
    python3 perfbench/steady.py --trace-check [--runs 3] [--workloads ...]

The default mode runs each workload in two sets of ``--runs`` runs, each
run with its own seed, and prints for every end-to-end metric in
BENCHMARK.json its spread within each set (quartile distance as a share
of the median) and how much worse the second set's median is than the
first's, each against the metric's bound.  A metric is steady when both
are within its bound, and has margin when both are within a third of
it (the margin the benchmark is tuned towards); ``setup_s`` is judged on
the median change only.

``--trace-check`` runs each workload untraced and traced on the same
seeds and prints ``trace.overhead_ratio`` (traced op latency over
untraced) and ``trace.unattributed_s``: the untraced op latency minus the
sum of the traced layer times, with the tolerance it must stay within.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import quartile_spread, worse_by  # noqa: E402

# Layers whose per-op medians add up to an op, per workload; the last
# one of each list is the remainder the others leave.
OP_LAYERS = {
    "incr_append": [
        "catalog.commit_s", "incremental.local_delta_s", "incremental.ri_fold_s",
        "derive.in_op_s", "job.residual_s",
    ],
    "stream_drops": ["streaming.query_overhead_s", "derive.in_op_s", "job.residual_s"],
}
# |untraced op latency - sum of traced layers| may be this share of the
# untraced op latency.
TRACE_TOLERANCE = 0.15


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"{' '.join(cmd)}: incorrect result {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def steadiness(spec: dict, workloads: list[str], runs: int) -> bool:
    steady = True
    for w in workloads:
        sets = []
        for s in range(2):
            seeds = [1000 * (s + 1) + i for i in range(runs)]
            sets.append([run_once(spec, w, seed, 0) for seed in seeds])
            for seed, r in zip(seeds, sets[-1]):
                print(f"{w} set={s + 1} seed={seed} " + " ".join(f"{k}={v:.4f}" for k, v in r.items()), flush=True)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a = [r[name] for r in sets[0]]
            b = [r[name] for r in sets[1]]
            spreads = [quartile_spread(a), quartile_spread(b)]
            spread_all = quartile_spread(a + b)
            change = worse_by(a, b, m["better"])
            spread = 0.0 if name == "setup_s" else max(spreads)
            ok = change <= bound and spread <= bound
            margin = change <= bound / 3 and spread <= bound / 3
            steady &= ok
            print(
                f"{w} {name}: median {statistics.median(a):.4f} / {statistics.median(b):.4f} {m['unit']}, "
                f"spread {spreads[0]:.3f} / {spreads[1]:.3f} (all runs {spread_all:.3f}), "
                f"second set worse by {change:+.3f}, "
                f"bound {bound} -> {'steady' if ok else 'NOT steady'}"
                f"{', within a third of the bound' if margin else ''}",
                flush=True,
            )
    return steady


def trace_check(spec: dict, workloads: list[str], runs: int) -> bool:
    ok = True
    for w in workloads:
        plain = [run_once(spec, w, 2000 + i, 0) for i in range(runs)]
        traced = [run_once(spec, w, 2000 + i, 1) for i in range(runs)]
        untraced = statistics.median(r["op_latency_s"] for r in plain)
        traced_op = statistics.median(r["trace.op_latency_s"] for r in traced)
        layers = {k: statistics.median(r[k] for r in traced) for k in OP_LAYERS[w]}
        unattributed = untraced - sum(layers.values())
        within = abs(unattributed) <= TRACE_TOLERANCE * untraced
        ok &= within
        print(f"{w} untraced op_latency_s={untraced:.3f} traced={traced_op:.3f} "
              f"trace.overhead_ratio={traced_op / untraced:.3f}")
        print(f"{w} layers " + " ".join(f"{k}={v:.3f}" for k, v in layers.items()))
        print(f"{w} trace.unattributed_s={unattributed:.3f} "
              f"(tolerance {TRACE_TOLERANCE:.0%} of the untraced op: {'ok' if within else 'EXCEEDED'})")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description="benchmark steadiness and trace checks")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="*", default=None)
    p.add_argument("--trace-check", action="store_true")
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    check = trace_check if args.trace_check else steadiness
    return 0 if check(spec, workloads, args.runs) else 1


if __name__ == "__main__":
    sys.exit(main())
