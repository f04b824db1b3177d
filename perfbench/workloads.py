"""The benchmark's workloads.  Each is a closed loop with one client:
the next op starts when the previous one has returned, and every op
calls the engine's public entry points as a user would.

run.py calls a workload's steps in this order: ``setup`` (inputs and
the untimed baseline), ``warmup_ops`` untimed calls of ``op``, timed
calls of ``op`` while time is left and ``available()`` holds (each
returns the docs it validated), ``check`` (the untimed correctness gate;
returns the failed checks) and, in a traced run only, ``replay`` (the
program's own timings read back, and each layer's public call made alone
on the last op's input, under its own span).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from gwv_spark import catalog, corpus, engine, incremental, job, streaming
from gwv_spark.rules import ALL_RULE_IDS, VIOLATION_COLS

DOC_LOCAL = list(streaming.DOC_LOCAL_RULES)
INCR_RULES = DOC_LOCAL + ["delquote", "delvar"]


def _files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def _release(ctx) -> None:
    ctx.docs.unpersist()
    ctx.spans.unpersist()


def _compare(what: str, got, classic) -> list[str]:
    """Failed checks of ``got`` against a classic run's violations: row
    identity, multiplicity included (exceptAll both ways), and a classic
    side that is not empty.  Both sides are cached, so each is
    evaluated once."""
    got, classic = got.persist(), classic.persist()
    try:
        if classic.isEmpty():
            return [f"{what}: the classic run found no violations to compare"]
        if not (got.exceptAll(classic).isEmpty() and classic.exceptAll(got).isEmpty()):
            return [f"{what} differs from a classic run over the same docs"]
        return []
    finally:
        got.unpersist()
        classic.unpersist()


class Workload:
    name = ""
    warmup_ops = 0

    def __init__(self, sess, seed: int, spans):
        self.sess = sess
        self.spark = sess.spark
        self.seed = seed
        self.spans = spans
        self.layer = {}  # per-layer values the workload reads from the program
        self.replayed_rules: list[str] = []

    def corpus_table(self, n_docs: int):
        d = corpus.ensure_corpus(self.sess.path("corpus"), n_docs, seed=self.seed)
        return pq.read_table(d / "documents.parquet")

    def replay_layers(self, docs, rules: list[str], resolve_entity: bool = False) -> None:
        """derive -> fused rules write -> each rule alone -> verdicts,
        each under its own span, on ``docs``."""
        self.replayed_rules = list(rules)
        with self.spans.span("derive"):
            ctx = engine.make_context(
                self.spark, docs, cache=True, resolve_entity=resolve_entity
            )
        self.layer["derive.spans_rows"] = ctx.spans.count()
        out = self.sess.path("replay", "violations")
        with self.spans.span("rules"):
            engine.run_rules(ctx, rules).write.mode("overwrite").partitionBy(
                "rule_id"
            ).parquet(out)
        vio = self.spark.read.parquet(out)
        self.layer["rules.violation_rows"] = vio.count()
        for rid in rules:
            with self.spans.span(f"rules.{rid}"):
                ctx.plan(rid).write.format("noop").mode("overwrite").save()
        with self.spans.span("engine"):
            engine.partition_verdicts(ctx.docs, vio).write.mode("overwrite").parquet(
                self.sess.path("replay", "verdicts")
            )
        _release(ctx)


class StreamDrops(Workload):
    """One persistent checkpointed stream; each op lands one drop of
    DROP_DOCS documents and drains it (validate_stream_drain)."""

    name = "stream_drops"
    warmup_ops = 1  # the first drain is cold, about 3x a steady one
    DROP_DOCS = 100
    N_DROPS = 100

    def setup(self) -> None:
        self.table = self.corpus_table(self.DROP_DOCS * self.N_DROPS)
        self.land = self.sess.path("land")
        self.out = self.sess.path("stream_out")
        os.makedirs(self.land)
        self.landed = 0

    def available(self) -> bool:
        return self.landed < self.N_DROPS

    def op(self) -> int:
        k = self.landed
        pq.write_table(
            self.table.slice(k * self.DROP_DOCS, self.DROP_DOCS),
            f"{self.land}/drop-{k:05d}.parquet",
        )
        self.landed += 1
        streaming.validate_stream_drain(self.spark, self.land, self.out)
        return self.DROP_DOCS

    def epoch_bodies(self) -> list[float]:
        """The program's own foreachBatch wall time per epoch."""
        rows = self.spark.read.parquet(f"{self.out}/metrics").collect()
        return [r["wall_s"] for r in sorted(rows, key=lambda r: r["epoch_id"])]

    def check(self) -> list[str]:
        landed = self.spark.read.schema(streaming.DOCS_SCHEMA).parquet(self.land)
        ctx = engine.make_context(self.spark, landed, cache=True, resolve_entity=False)
        classic = engine.run_rules(ctx, DOC_LOCAL).select(*VIOLATION_COLS)
        union = self.spark.read.parquet(f"{self.out}/violations").select(
            *VIOLATION_COLS
        )
        try:
            return _compare("stream_drops: the union of epochs", union, classic)
        finally:
            _release(ctx)

    def replay(self) -> None:
        self.bodies = self.epoch_bodies()
        self.layer["streaming.checkpoint_files"] = _files(f"{self.out}/_checkpoint")
        last = f"{self.land}/drop-{self.landed - 1:05d}.parquet"
        self.replay_layers(
            self.spark.read.schema(streaming.DOCS_SCHEMA).parquet(last), DOC_LOCAL
        )


class IncrAppend(Workload):
    """job.main --incremental over a seeded base; each op lands one ~1%
    append file and runs the job.  Set-up validates the base once."""

    name = "incr_append"
    # no warm-up append: the baseline, one timed append and the check
    # fill the time a run may take.  The timed append is the first one,
    # still cold (about 1.3x a steady append).
    warmup_ops = 0
    BASE_DOCS = 2000
    APPEND_DOCS = 20
    N_APPENDS = 100

    def setup(self) -> None:
        self.table = self.corpus_table(self.BASE_DOCS + self.APPEND_DOCS * self.N_APPENDS)
        self.input = self.sess.path("incr_in")
        self.out = self.sess.path("incr_out")
        os.makedirs(self.input)
        self.args = [
            "--input", self.input, "--output", self.out, "--rules", *INCR_RULES,
            "--n-buckets", "64", "--incremental",
        ]
        pq.write_table(self.table.slice(0, self.BASE_DOCS), f"{self.input}/part-00000.parquet")
        self.appended = 0
        with self.spans.span("incremental.baseline"):
            job.main(self.args, spark=self.spark)

    def available(self) -> bool:
        return self.appended < self.N_APPENDS

    def op(self) -> int:
        k = self.appended
        start = self.BASE_DOCS + k * self.APPEND_DOCS
        pq.write_table(
            self.table.slice(start, self.APPEND_DOCS),
            f"{self.input}/part-{k + 1:05d}.parquet",
        )
        self.appended += 1
        job.main(self.args, spark=self.spark)
        return self.APPEND_DOCS

    def check(self) -> list[str]:
        # none of these rules reads the alias-entity columns, so the
        # classic run skips that join, as the job does for doc-local sets
        docs = self.spark.read.parquet(self.input)
        ctx = engine.make_context(self.spark, docs, cache=True, resolve_entity=False)
        classic = engine.run_rules(ctx, INCR_RULES).select(*VIOLATION_COLS)
        chain = self.spark.read.parquet(f"{self.out}/violations").select(*VIOLATION_COLS)
        try:
            return _compare("incr_append: the chain's output", chain, classic)
        finally:
            _release(ctx)

    def replay(self) -> None:
        self.timings = read_component_timings(self.spark, self.out)
        self.layer["incremental.output_files"] = _files(self.out)
        head = incremental.last_run(self.spark, self.out)["snapshot"]
        self.layer["incremental.ri_state_rows"] = self.spark.read.parquet(
            f"{self.out}/ri_state/epoch={head}"
        ).count()
        with self.spans.span("catalog"):
            catalog.commit_snapshot(self.spark, self.input)
        last = f"{self.input}/part-{self.appended:05d}.parquet"
        self.replay_layers(self.spark.read.parquet(last), DOC_LOCAL)


def read_component_timings(spark, out: str) -> list[dict[str, float]]:
    rows = spark.read.parquet(f"{out}/component_timings").collect()
    return group_component_timings(
        [(r["snapshot"], r["component"], r["wall_s"]) for r in rows],
        [r["snapshot"] for r in spark.read.parquet(f"{out}/runs").orderBy("ts").collect()],
    )


def group_component_timings(
    rows: list[tuple[str, str, float]], snapshot_order: list[str]
) -> list[dict[str, float]]:
    """Group (snapshot, component, wall_s) rows into one dict per run,
    ordered as the runs log committed the snapshots."""
    by_snap: dict[str, dict[str, float]] = {}
    for snap, comp, wall in rows:
        by_snap.setdefault(snap, {})[comp] = float(wall)
    return [by_snap.get(s, {}) for s in snapshot_order]


class BatchSuite(Workload):
    """Classic job.main over a seeded corpus with all 18 rules in the
    default fused mode, a fresh output directory per op.

    Not listed in BENCHMARK.json: a steady op takes about 30 s on 4
    cores and the first one 45-60 s, so a run that warms up and times
    even one op takes about 85 s, more than a run of the benchmark may
    take.  Run it by hand with a longer --seconds."""

    name = "batch_suite"
    warmup_ops = 1
    DOCS = 2000
    ORACLE_RULES = ("delvar", "order", "donotuse", "kosekitoki", "ucsalias", "mustrenew")

    def setup(self) -> None:
        d = corpus.ensure_corpus(self.sess.path("corpus"), self.DOCS, seed=self.seed)
        self.docs_path = str(d / "documents.parquet")
        self.outs: list[str] = []

    def available(self) -> bool:
        return True

    def op(self) -> int:
        out = self.sess.path(f"batch_out_{len(self.outs)}")
        self.outs.append(out)
        job.main(["--input", self.docs_path, "--output", out], spark=self.spark)
        return self.DOCS

    def check(self) -> list[str]:
        from perfbench import oracle

        failed = []
        hashes = {violations_hash(self.spark.read.parquet(f"{o}/violations")) for o in self.outs}
        if len(hashes) != 1:
            failed.append("batch_suite: violations differ between ops")
        vio = self.spark.read.parquet(f"{self.outs[-1]}/violations")
        failed += oracle.mismatches(self.spark, vio, self.docs_path, self.ORACLE_RULES)
        return failed

    def replay(self) -> None:
        with self.spans.span("catalog"):
            catalog.commit_snapshot(self.spark, self.docs_path)
        self.replay_layers(
            self.spark.read.parquet(self.docs_path), ALL_RULE_IDS, resolve_entity=True
        )


def violations_hash(vio) -> str:
    """Order-insensitive hash of a violations table."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") if c != "detail" else F.to_json(c) for c in VIOLATION_COLS]
    row = vio.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return hashlib.sha256(f"{row['n']}:{row['h']}".encode()).hexdigest()[:16]


WORKLOADS = {w.name: w for w in (StreamDrops, IncrAppend, BatchSuite)}
