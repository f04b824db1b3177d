"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_drops --seed 1 --seconds 12 --trace 0

Set-up (session start, corpus, baseline and warm-up ops) is timed as
``setup_s``.  Then ops run back to back, one client, until ``--seconds``
have passed; each op's wall time is a sample, and the run reports their
median.  The correctness gate runs after the timed window and is never
timed.  With ``--trace 1`` the run also records Spark's event log and
spans around each layer call, and prints per-layer metrics instead of
the end-to-end ones.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "gwv_spark").is_dir():
        print(f"no gwv_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import env, report
    from perfbench.trace import Spans
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    sess = env.Session(args.workload, event_log=bool(args.trace))
    try:
        spark = sess.start()
        spans = Spans(spark.sparkContext if args.trace else None)
        if args.trace:
            report.wrap_layer_calls(spans)
        w = WORKLOADS[args.workload](sess, args.seed, spans)
        failed = attempted = 0
        w.setup()
        for _ in range(w.warmup_ops):
            attempted += 1
            failed += not run_op(w)
        setup_s = time.monotonic() - PROCESS_START

        steal0, gc0 = env.steal_seconds(), sess.gc_seconds()
        walls, docs = [], 0
        deadline = time.monotonic() + args.seconds
        while time.monotonic() < deadline and w.available():
            attempted += 1
            t0 = time.monotonic()
            with spans.span("op"):
                n = run_op(w)
            if n:
                walls.append(time.monotonic() - t0)
                docs += n
            else:
                failed += 1
        window = {
            "steal_s": env.steal_seconds() - steal0,
            "gc_s": sess.gc_seconds() - gc0,
            "jvm_peak_rss_mb": env.vm_hwm_mb(sess.jvm_pid),
        }
        if not walls:
            print("no timed op completed", file=sys.stderr)
            return 1

        t_check = time.monotonic()
        try:
            problems = w.check()
        except Exception:
            traceback.print_exc()
            problems = [f"{w.name}: correctness check raised"]
        window["check_s"] = time.monotonic() - t_check
        failed += len(problems)
        for msg in problems:
            print(f"CHECK FAILED {msg}")

        if args.trace:
            w.replay()
            sess.stop()  # flushes the event log
            metrics = report.per_layer(w, sess, spans, walls, window)
        else:
            sess.stop()
            metrics = report.end_to_end(setup_s, walls, docs)
        report.print_summary(
            w.name, args, env.host_info(), metrics, walls, window, attempted, failed, problems
        )
        print(
            json.dumps(
                {
                    "correct": not problems,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        sess.stop()
        sess.cleanup()


def run_op(w) -> int:
    """One op; the docs it validated, or 0 when it raised."""
    try:
        return w.op()
    except Exception:
        traceback.print_exc()
        return 0


if __name__ == "__main__":
    sys.exit(main())
