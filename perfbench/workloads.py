"""The benchmark's closed-loop workloads.

Each workload has one caller: the next batch, step or query starts only
after the previous one has committed or returned. A workload sets up its
inputs, runs timed passes, checks every pass's outputs, and can run one more
pass with spans installed (see ``tracing``). All of them call the package's
public functions; nothing in the package is changed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from tracing import JobCounter, NullTracer, ProcessCpu, Tracer

from sqlserver_cdc_to_kafka_spark.operators import compaction, replay, validation
from sqlserver_cdc_to_kafka_spark.registry import load_all
from sqlserver_cdc_to_kafka_spark.sources.snapshot import snapshot_page
from sqlserver_cdc_to_kafka_spark.streaming import change_feed, pipeline_run
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import with_tombstones
from sqlserver_cdc_to_kafka_spark.streaming.metrics import ReporterBase
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import SnapshotStream

HERE = os.path.dirname(os.path.abspath(__file__))
TOPIC = "bench"
KEYS = [gen.KEY]
LIVE_COLS = [gen.KEY, *gen.PAYLOAD]

# Snapshot pages and change batches come in equal numbers (3 each).
SIZES = gen.DRAIN_SIZES
BATCH_SIZE = 300
WARMUP_SIZES = gen.WARMUP_SIZES
WARMUP_SEED = 0

ANALYTICS_DATA = os.path.join(HERE, "data", "sf0.01")
# A fixed subset of the registry's bench=True queries, one per query module
# (name -> module): the operators the CDC workloads also use, two Arrow-UDF
# queries and a MinHash dedup. The full 51-query suite takes more than a
# minute per pass on a 4-core host, more than the benchmark's budget holds.
ANALYTICS_QUERIES = {
    "cdc_replay_merge": "cdc",
    "val_topic_summary": "validation",
    "dedup_ngram_jaccard": "pipeline",
    "sketch_count_min": "pipeline2",
    "text_tfidf_topterms": "pipeline5",
    "join_region_revenue": "joins",
}
ANALYTICS_MODULES = sorted({f"queries.{m}" for m in ANALYTICS_QUERIES.values()})
EXPECTED_ROWS_PATH = os.path.join(HERE, "expected_rows.json")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    jobs: JobCounter
    cpu: ProcessCpu = field(default_factory=ProcessCpu)


@dataclass
class Pass:
    """One timed pass: its wall time and CPU time, the rows it handled, the
    wall and CPU time of each operation in it, and the outputs its check
    needs."""

    wall_s: float
    cpu_s: float
    rows: int
    op_s: list[float]
    op_cpu_s: list[float]
    jobs: tuple[int, int, int] = (0, 0, 0)
    out: dict = field(default_factory=dict)


def live_digest(df) -> tuple[int, int]:
    """(rows, order-independent hash) of a live table's key and payload."""
    row = df.select(*LIVE_COLS).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*LIVE_COLS).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _sub(work: str, name: str) -> str:
    path = os.path.join(work, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


class _Clock(ReporterBase):
    """Benchmark-owned reporter: stamps each commit report with the wall
    clock and the CPU seconds used so far."""

    def __init__(self, cpu: ProcessCpu) -> None:
        self.cpu = cpu
        self.stamps: list[float] = []
        self.cpu_stamps: list[float] = []
        self.rows = 0

    def emit(self, metrics) -> None:
        self.stamps.append(time.perf_counter())
        self.cpu_stamps.append(self.cpu.seconds())
        self.rows += metrics.rows


class CdcInputs:
    """Generated source, feed and expected state, loaded as DataFrames."""

    def __init__(self, ctx: Ctx, sizes: gen.Sizes, seed: int, name: str) -> None:
        self.sizes = sizes
        self.paths = gen.write_inputs(_sub(ctx.work, name), sizes, seed)
        spark = ctx.spark
        self.source = spark.read.parquet(self.paths["source"])
        self.feed = spark.read.parquet(self.paths["feed"])
        self.expected = spark.read.parquet(self.paths["expected"])
        seqs = pq.read_table(self.paths["feed"], columns=["change_seq"])
        self.seqs = seqs.column("change_seq").to_pylist()
        self.committed_rows = sizes.snapshot_rows + sizes.changes + sizes.n_deletes
        self._digest: tuple[int, int] | None = None

    def expected_digest(self) -> tuple[int, int]:
        if self._digest is None:
            self._digest = live_digest(self.expected)
        return self._digest


class Workload:
    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def setup(self) -> list[Pass]:
        """Make the inputs; returns any untimed warm-up passes, which are
        checked like the timed ones."""
        raise NotImplementedError

    def run_pass(self, i: int, tracer: Tracer | NullTracer) -> Pass:
        raise NotImplementedError

    def ops(self, p: Pass) -> list[str]:
        """The operations of one pass that its check judges."""
        raise NotImplementedError

    def check(self, p: Pass) -> list[tuple[str, str]]:
        """Failed checks of one pass as (operation, message) pairs."""
        raise NotImplementedError

    def install_spans(self, tracer: Tracer) -> None:
        """Wrap the package's entry points this workload calls."""

    def traced_pass(self, tracer: Tracer) -> Pass:
        """One more pass, run with spans installed."""
        return self.run_pass("traced", tracer)


class CdcDrain(Workload):
    """The product's job: ``PipelineRun`` interleaves snapshot pages with
    change micro-batches, appends tombstones, and commits each batch through
    ``TransactionalDirSink`` with a metrics report. One operation is one
    whole drain; its latency samples are the gaps between commit reports.
    The traced pass then reads the committed topic back (``ReadBack``), so
    the sink's read side and the compaction, replay and validation operators
    get per-layer numbers too."""

    name = "cdc_drain"

    def setup(self) -> list[Pass]:
        # a drain on separate inputs, so the timed drains run warm: the
        # program's CPU per drain falls by a quarter over the first minute of
        # a session as the JIT compiles, most of it in the first drain
        warm = CdcInputs(self.ctx, WARMUP_SIZES, WARMUP_SEED, "drain-warmup")
        warmup = self._drain(warm, "drain-warmup-sink", "drain-warmup")
        self.inputs = CdcInputs(self.ctx, SIZES, self.ctx.seed, "drain-inputs")
        return [warmup]

    def _drain(self, inputs: CdcInputs, sink_dir: str, group: str) -> Pass:
        sink = TransactionalDirSink(_sub(self.ctx.work, sink_dir), TOPIC)
        clock = _Clock(self.ctx.cpu)
        run = PipelineRun(
            self.ctx.spark, inputs.source, inputs.feed, KEYS, sink, [clock], BATCH_SIZE
        )
        self.ctx.jobs.set(group)
        c0 = self.ctx.cpu.seconds()
        t0 = time.perf_counter()
        total = run.run()
        wall = time.perf_counter() - t0
        cpu = self.ctx.cpu.seconds() - c0
        self.ctx.jobs.set(None)
        stamps = [t0, *clock.stamps]
        cpu_stamps = [c0, *clock.cpu_stamps]
        return Pass(
            wall_s=wall,
            cpu_s=cpu,
            rows=total,
            op_s=[b - a for a, b in zip(stamps, stamps[1:])],
            op_cpu_s=[b - a for a, b in zip(cpu_stamps, cpu_stamps[1:])],
            jobs=self.ctx.jobs.counts(group),
            out={
                "inputs": inputs,
                "sink": sink,
                "batches": run.batches_committed,
                "reports": len(clock.stamps),
                "reported_rows": clock.rows,
            },
        )

    def run_pass(self, i, tracer) -> Pass:
        return self._drain(self.inputs, f"drain-sink-{i}", f"drain-{i}")

    def traced_pass(self, tracer: Tracer) -> Pass:
        p = self.run_pass("traced", tracer)
        p.out["readback"] = self.reader.run(p.out["sink"], tracer)
        p.out["reader"] = self.reader
        return p

    def ops(self, p: Pass) -> list[str]:
        return ["drain"] + (ReadBack.STEPS if "readback" in p.out else [])

    def check(self, p: Pass) -> list[tuple[str, str]]:
        inputs: CdcInputs = p.out["inputs"]
        sink: TransactionalDirSink = p.out["sink"]
        want = inputs.committed_rows
        fails = []
        if p.rows != want or p.out["reported_rows"] != want:
            fails.append(
                f"run returned {p.rows} rows and reported {p.out['reported_rows']}, "
                f"expected {want}"
            )
        counts = sink.read_committed(self.ctx.spark).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("__tombstone")).alias("tombstones"),
        ).collect()[0]
        p.out["tombstones"] = counts["tombstones"]
        if counts["n"] != want:
            fails.append(f"topic holds {counts['n']} rows, expected {want}")
        if counts["tombstones"] != inputs.sizes.n_deletes:
            fails.append(
                f"{counts['tombstones']} tombstones, expected {inputs.sizes.n_deletes}"
            )
        with open(sink.manifest_path) as f:
            records = [json.loads(line) for line in f]
        p.out["manifest"] = records
        ids = [r["batch_id"] for r in records]
        if len(set(ids)) != len(ids) or len(ids) != p.out["batches"]:
            fails.append(f"manifest has {len(ids)} lines, {len(set(ids))} distinct ids")
        if sink.last_progress() != inputs.seqs[-1]:
            fails.append(f"last_progress {sink.last_progress()}, expected {inputs.seqs[-1]}")
        out = [("drain", m) for m in fails]
        if "readback" in p.out:
            out += p.out["reader"].check(p.out["readback"])
        return out

    def install_spans(self, tracer: Tracer) -> None:
        tracer.wrap(PipelineRun, "run", "pipeline_run")
        tracer.wrap(SnapshotStream, "next_page", "snapshot_stream")
        tracer.wrap(change_feed.MicroBatcher, "run_once", "change_feed")
        # imported by name into pipeline_run, so patched where it is called
        tracer.wrap(pipeline_run, "with_tombstones", "change_feed")
        tracer.wrap(pipeline_run, "observed_batch", "metrics")
        tracer.wrap(pipeline_run, "report_batch", "metrics")
        tracer.wrap(TransactionalDirSink, "commit_batch", "sinks.commit")
        self.reader = ReadBack(self.ctx, self.inputs)
        self.reader.install_spans(tracer)


class ReadBack:
    """Reads back a drain's committed topic in four steps, each one
    operation: ``read_committed``, the validators, compaction of a fresh
    copy of the topic, and ``replay_merge`` of the committed changes onto
    the source table."""

    STEPS = ["read", "validate", "compact", "replay"]

    def __init__(self, ctx: Ctx, inputs: CdcInputs) -> None:
        self.ctx = ctx
        self.inputs = inputs
        self.compaction_input: Observation | None = None

    def run(self, sink: TransactionalDirSink, tracer) -> dict:
        """The four steps once on ``sink``'s topic; returns their times and
        outputs."""
        spark = self.ctx.spark
        inp = self.inputs
        copy_root = _sub(self.ctx.work, os.path.basename(sink.root) + "-copy")
        shutil.copytree(sink.root, copy_root)
        copy = TransactionalDirSink(copy_root, TOPIC)
        out: dict = {"copy": copy, "steps": []}

        t = time.perf_counter()
        with tracer.span("sinks.read_committed"):
            committed = sink.read_committed(spark)
            out["rows_read"] = committed.count()
        out["steps"].append(time.perf_counter() - t)
        files = committed.inputFiles()  # the listing the read made; no job
        out["files_read"] = len(files)
        out["dirs_read"] = len({os.path.dirname(f) for f in files})

        live = committed.filter(~F.col("__tombstone"))
        op = F.col("__operation")
        t = time.perf_counter()
        with tracer.span("operators.validation"):
            out["summary"] = validation.topic_summary(
                live.withColumn("topic", F.lit(TOPIC)), ["topic"], KEYS
            ).collect()[0].asDict()
            out["reconciliation"] = replay.set_reconciliation(
                live.filter(op == 0).select(*KEYS),
                live.filter(op == gen.OP_INSERT).select(*KEYS),
                live.filter(op == gen.OP_DELETE).select(*KEYS),
                inp.expected.select(*KEYS),
            ).collect()[0].asDict()
        out["steps"].append(time.perf_counter() - t)

        t = time.perf_counter()
        with tracer.span("operators.compaction"):
            out["compacted_rows"] = copy.compact(spark, KEYS)
        out["steps"].append(time.perf_counter() - t)
        out["compaction_rows_in"] = self.compaction_input.get["n"]

        t = time.perf_counter()
        with tracer.span("operators.replay"):
            changes = live.filter(op != 0).select(*LIVE_COLS, "change_seq", "__operation")
            out["replayed"] = live_digest(replay.replay_merge(inp.source, changes, KEYS))
        out["steps"].append(time.perf_counter() - t)
        return out

    def check(self, out: dict) -> list[tuple[str, str]]:
        inp = self.inputs
        sizes = inp.sizes
        live = inp.expected_digest()
        fails = []
        if out["rows_read"] != inp.committed_rows:
            fails.append(("read", f"read {out['rows_read']} rows, expected {inp.committed_rows}"))
        want = {
            "n_total": sizes.snapshot_rows + sizes.changes,
            "n_snapshots": sizes.snapshot_rows,
            "n_inserts": sizes.n_inserts,
            "n_updates": sizes.n_updates,
            "n_deletes": sizes.n_deletes,
            "max_idx": inp.seqs[-1],
        }
        got = out["summary"]
        for k, v in want.items():
            if got[k] != v:
                fails.append(("validate", f"topic_summary {k}={got[k]}, expected {v}"))
        r = out["reconciliation"]
        if not r["is_match"] or r["expected_count"] != live[0]:
            fails.append(("validate", f"set_reconciliation {r}, expected {live[0]} keys"))
        if out["compaction_rows_in"] != inp.committed_rows:
            fails.append(
                ("compact", f"compaction read {out['compaction_rows_in']} rows, expected {inp.committed_rows}")
            )
        compacted = live_digest(out["copy"].read_committed(self.ctx.spark))
        if out["compacted_rows"] != live[0] or compacted != live:
            fails.append(
                ("compact", f"compaction kept {out['compacted_rows']} rows {compacted}, expected {live}")
            )
        if out["replayed"] != live:
            fails.append(("replay", f"replay_merge gave {out['replayed']}, expected {live}"))
        return fails

    def install_spans(self, tracer: Tracer) -> None:
        # the steps carry their own spans; these nest inside them, so the
        # read inside compaction is charged to the sink's read side
        tracer.wrap(TransactionalDirSink, "read_committed", "sinks.read_committed")
        # compact imports last_value_per_key when it runs, so the module
        # attribute is the one it resolves; its input's row count is
        # observed inside compaction's own write job, adding no job
        last_value_per_key = compaction.last_value_per_key

        def observed(df, *args, **kwargs):
            self.compaction_input = Observation()
            counted = df.observe(self.compaction_input, F.count(F.lit(1)).alias("n"))
            return last_value_per_key(counted, *args, **kwargs)

        tracer.patch(compaction, "last_value_per_key", observed)
        tracer.wrap(TransactionalDirSink, "compact", "operators.compaction")
        tracer.wrap(replay, "replay_merge", "operators.replay")
        tracer.wrap(replay, "set_reconciliation", "operators.validation")
        tracer.wrap(validation, "topic_summary", "operators.validation")


class AnalyticsSuite(Workload):
    """Registry queries, each one operation, written to the ``noop`` sink
    with its row count observed inside that same job. The order is shuffled
    by the seed for every pass, the cache is cleared between queries as
    bench.py does, and a failing query is recorded and skipped over."""

    name = "analytics_suite"

    def setup(self) -> list[Pass]:
        spark = self.ctx.spark
        registry = load_all()
        self.queries = {n: registry[n] for n in ANALYTICS_QUERIES}
        for name, q in self.queries.items():
            if q.fn.__module__.rsplit(".", 1)[-1] != ANALYTICS_QUERIES[name]:
                raise ValueError(f"{name} moved to {q.fn.__module__}")
        with open(EXPECTED_ROWS_PATH) as f:
            self.expected = json.load(f)
        self.rng = random.Random(self.ctx.seed)
        # the first mapInPandas in a session pays Python worker start-up and
        # pandas import; keep it out of whichever query would run first
        spark.range(2).mapInPandas(lambda it: it, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        return [self.run_pass(-1, NullTracer())]

    def run_pass(self, i, tracer) -> Pass:
        order = list(self.queries)
        self.rng.shuffle(order)
        group = f"query-{i}"
        times, cpu, rows, errors = [], [], {}, {}
        for name in order:
            try:
                dt, dc, rows[name] = self._run_query(name, group, tracer)
                times.append(dt)
                cpu.append(dc)
            except Exception as exc:  # noqa: BLE001 - one query must not end the pass
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        self.ctx.jobs.set(None)
        return Pass(
            wall_s=sum(times),
            cpu_s=sum(cpu),
            rows=sum(rows.values()),
            op_s=times,
            op_cpu_s=cpu,
            jobs=self.ctx.jobs.counts(group),
            out={"rows": rows, "errors": errors},
        )

    def _run_query(self, name: str, group: str, tracer) -> tuple[float, float, int]:
        """(wall seconds, CPU seconds, result rows) of one query."""
        spark = self.ctx.spark
        fn = self.queries[name].fn
        module = f"queries.{ANALYTICS_QUERIES[name]}"
        spark.catalog.clearCache()
        self.ctx.jobs.set(group)
        obs = Observation()
        c0 = self.ctx.cpu.seconds()
        t0 = time.perf_counter()
        with tracer.span(f"query.{name}"):
            with tracer.span(f"{module}.build"):
                df = fn(spark, ANALYTICS_DATA)
            with tracer.span(f"{module}.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
        wall = time.perf_counter() - t0
        return wall, self.ctx.cpu.seconds() - c0, obs.get["n"]

    def ops(self, p: Pass) -> list[str]:
        return list(self.queries)

    def check(self, p: Pass) -> list[tuple[str, str]]:
        fails = list(p.out["errors"].items())
        for name, n in p.out["rows"].items():
            if n != self.expected[name]:
                fails.append((name, f"{n} rows, expected {self.expected[name]}"))
        return fails


WORKLOADS = {w.name: w for w in (CdcDrain, AnalyticsSuite)}
