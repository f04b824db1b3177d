"""Turn a run's samples into the metrics the benchmark prints."""

from __future__ import annotations

import functools

from perfbench import stats, trace
from perfbench.workloads import DOC_LOCAL

LIFECYCLES = ("incremental", "streaming")
SPARK_FIELDS = ("executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "records_in")


def end_to_end(setup_s: float, walls: list[float], docs: int) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_latency_s": (stats.median(walls), "s"),
        "docs_per_s": (docs / sum(walls), "docs/s"),
    }


def wrap_layer_calls(spans: trace.Spans) -> None:
    """Record a span around the engine's eager layer calls made inside a
    timed op: the context build (``engine.make_context``, which runs the
    cache jobs when asked to cache) and the snapshot commit
    (``catalog.commit_snapshot``).  The program looks both up on their
    modules at call time, so wrapping the module attribute reaches every
    call site without changing the program."""
    from gwv_spark import catalog, engine

    def wrap(module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if spans.open("op"):
                with spans.span(name):
                    return fn(*a, **kw)
            return fn(*a, **kw)

        setattr(module, attr, traced)

    wrap(engine, "make_context", "op.derive")
    wrap(catalog, "commit_snapshot", "op.catalog")


def _per_op_walls(spans: trace.Spans, name: str) -> list[float]:
    """Seconds spent in spans called ``name`` during each timed op."""
    ops = [s for s in spans.done if s.name == "op"]
    inner = [s for s in spans.done if s.name == name]
    return [
        sum(s.end - s.start for s in inner if op.start <= s.start and s.end <= op.end)
        for op in ops
    ]


def per_layer(w, sess, spans: trace.Spans, walls: list[float], window: dict) -> dict:
    """Every per-layer metric; a metric of a layer the workload does not
    run reads 0."""
    events = trace.read_event_log(sess.event_log_dir)
    folded = trace.fold(events, spans.done)
    zero = dict.fromkeys(trace.METRIC_FIELDS, 0.0)
    n = len(walls)
    op_tot = {
        k: sum(folded.get(lbl, zero)[k] for lbl in ("op", "op.derive", "op.catalog"))
        for k in trace.METRIC_FIELDS
    }
    ops = [s for s in spans.done if s.name == "op"]
    m: dict[str, tuple[float, str]] = {
        "spark.jobs_per_op": (op_tot["jobs"] / n, "count"),
        "spark.stages_per_op": (op_tot["stages"] / n, "count"),
        "spark.tasks_per_op": (op_tot["tasks"] / n, "count"),
        "spark.failed_tasks": (sum(t["failed_tasks"] for t in folded.values()), "count"),
        "jvm.gc_s_per_op": (window["gc_s"] / n, "s"),
        "jvm.peak_rss_mb": (window["jvm_peak_rss_mb"], "MB"),
        "host.steal_s": (window["steal_s"], "s"),
        "trace.op_latency_s": (stats.median(walls), "s"),
        "trace.spark_idle_s": (
            stats.median([s.end - s.start - trace.busy_seconds(events, s.start, s.end) for s in ops]),
            "s",
        ),
        "catalog.commit_s": (stats.median(_per_op_walls(spans, "op.catalog")), "s"),
        "derive.in_op_s": (stats.median(_per_op_walls(spans, "op.derive")), "s"),
    }
    lifecycle = {"incr_append": "incremental", "stream_drops": "streaming"}.get(w.name)
    for lc in LIFECYCLES:
        for f in SPARK_FIELDS:
            v = op_tot[f] / n if lc == lifecycle else 0.0
            m[f"{lc}.{f}"] = (v, _unit(f))

    def span_wall(name: str) -> float:
        return sum(spans.walls(name))

    m["derive.wall_s"] = (span_wall("derive"), "s")
    m["rules.wall_s"] = (span_wall("rules"), "s")
    m["engine.verdicts_s"] = (span_wall("engine"), "s")
    for layer in ("derive", "rules", "engine"):
        t = folded.get(layer, zero)
        for f in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes"):
            m[f"{layer}.{f}"] = (t[f], _unit(f))
    for rid in dict.fromkeys(DOC_LOCAL + w.replayed_rules):
        m[f"rules.{rid}_s"] = (span_wall(f"rules.{rid}"), "s")
    m["derive.spans_rows"] = (w.layer.get("derive.spans_rows", 0), "count")
    m["rules.violation_rows"] = (w.layer.get("rules.violation_rows", 0), "count")

    m.update(_incremental(w, spans, walls))
    m.update(_streaming(w, walls))
    m["job.residual_s"] = (_residual(w, spans, walls), "s")
    return m


def _incremental(w, spans, walls) -> dict:
    keys = (
        "incremental.local_delta_s", "incremental.ri_fold_s", "incremental.commit_s",
        "incremental.baseline_s", "incremental.output_files", "incremental.ri_state_rows",
    )
    units = ("s", "s", "s", "s", "count", "count")
    if w.name != "incr_append":
        return {k: (0.0, u) for k, u in zip(keys, units)}
    runs = w.timings[-len(walls):]
    local = [r.get("__local_delta__", 0.0) for r in runs]
    fold = [r.get("__ri_fold__", 0.0) for r in runs]
    values = (
        stats.median(local),
        stats.median(fold),
        stats.median([t - a - b for t, a, b in zip(walls, local, fold)]),
        sum(spans.walls("incremental.baseline")),
        w.layer["incremental.output_files"],
        w.layer["incremental.ri_state_rows"],
    )
    return {k: (v, u) for k, v, u in zip(keys, values, units)}


def _streaming(w, walls) -> dict:
    keys = ("streaming.batch_body_s", "streaming.query_overhead_s", "streaming.checkpoint_files")
    units = ("s", "s", "count")
    if w.name != "stream_drops":
        return {k: (0.0, u) for k, u in zip(keys, units)}
    bodies = w.bodies[-len(walls):]
    values = (
        stats.median(bodies),
        stats.median([t - b for t, b in zip(walls, bodies)]),
        w.layer["streaming.checkpoint_files"],
    )
    return {k: (v, u) for k, v, u in zip(keys, values, units)}


def _residual(w, spans, walls) -> float:
    """Median op time outside the layers named for the workload: for
    incr_append the op minus its snapshot commit, context build, delta
    rules and RI fold; for stream_drops the foreachBatch body minus its
    context build."""
    if w.name == "incr_append":
        runs = w.timings[-len(walls):]
        cat = _per_op_walls(spans, "op.catalog")
        der = _per_op_walls(spans, "op.derive")
        return stats.median(
            [
                t - r.get("__local_delta__", 0.0) - r.get("__ri_fold__", 0.0) - c - d
                for t, r, c, d in zip(walls, runs, cat, der)
            ]
        )
    if w.name == "stream_drops":
        bodies = w.bodies[-len(walls):]
        der = _per_op_walls(spans, "op.derive")
        return stats.median([b - d for b, d in zip(bodies, der)])
    return 0.0


def _unit(field: str) -> str:
    return "s" if field.endswith("_s") else ("bytes" if field.endswith("bytes") else "count")


def print_summary(name, args, host, metrics, walls, window, attempted, failed, problems) -> None:
    print(
        f"workload={name} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"nproc={host['nproc']} mem_total_mb={host['mem_total_mb']} "
        f"host.steal_s={window['steal_s']:.2f} n_ops={len(walls)} "
        f"ops_s={' '.join(f'{x:.3f}' for x in walls)} check_s={window['check_s']:.1f}"
    )
    print(f"error_rate {failed / attempted:.4f} (failed {failed} of {attempted})")
    print(f"jvm_peak_rss_mb {window['jvm_peak_rss_mb']:.1f} MB")
    print(f"correct {not problems}")
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
