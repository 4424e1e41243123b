"""Sinks: exactly-once batch commits + tombstone-aware keyed output
(SURVEY §2.1 S9/S11, §2.9 T2/T6).

Reference behavior: every micro-batch's data messages AND per-topic progress
records are produced inside ONE Kafka transaction (``main.py:319-350``,
``kafka.py:134-156``) — a crash never leaves data without progress or
vice versa. Spark's Kafka sink alone is at-least-once, so the idiomatic
restatement is ``foreachBatch`` + an idempotent commit protocol — which is
exactly what Structured Streaming's own file sink does with its manifest
log, generalized here so any directory-backed format gets it.

``TransactionalDirSink`` implements that protocol without external
dependencies (no Kafka broker in this environment; swapping ``_write_files``
for a transactional producer keyed by batch id gives the Kafka version):

1. write the batch under ``_staging/batch=<id>/`` (side-effect-free retry);
2. atomically rename into place;
3. append the progress record ``(topic, kind, position, batch_id)`` to the
   manifest. A change batch is kind ``change_rows`` and its ``position`` is
   its last change index; a snapshot page is kind ``snapshot_rows``, its
   ``position`` is null and its ``snapshot_key`` is the page's low key.
   Readers only see directories listed in the manifest, so a crash between
   2 and 3 is invisible.

Only the sink chooses batch ids, and it never reuses one: a new id is one
more than the largest in the manifest, reset records included. A replay is
recognised by its position instead: a change batch at or below the last
committed position is already in the topic, so committing it again writes
nothing. Progress is kept per ``(topic, kind)``, like the reference's
progress topic, so a reset of one kind leaves the other's resume point.

A record is committed only once its whole line, newline included, is in the
manifest. A crash in the middle of step 3 leaves a torn last line: readers
skip it, and the next append cuts it off first. Each commit opens the
manifest once, to read its records, pick the id and append.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read(f) -> tuple[list[dict], int]:
    """The manifest's whole records, in append order, and the offset where
    they end. A last line without its newline is an append cut short by a
    crash: it is no record, and ``_append`` cuts it off."""
    f.seek(0)
    data = f.read()
    end = data.rfind(b"\n") + 1
    return [json.loads(line) for line in data[:end].splitlines()], end


def _append(f, end: int, *records: dict) -> None:
    f.truncate(end)
    f.write(b"".join(json.dumps(r).encode() + b"\n" for r in records))


def _next_id(records: list[dict]) -> int:
    """Ids are never reused: one more than the largest, reset records included."""
    return max((r["batch_id"] for r in records), default=-1) + 1


def _epoch(records: list[dict], kind: str) -> list[dict]:
    """Records carrying ``kind``'s progress since its last reset record. A
    reset bounds its own kind only (per-(topic, kind) progress, like the
    reference). A compacted generation carries both kinds' resume points."""
    out: list[dict] = []
    for rec in records:
        if rec.get("tombstone"):
            if rec["kind"] == kind:
                out.clear()
        elif rec["kind"] == kind or "path" in rec:
            out.append(rec)
    return out


def _last_position(records: list[dict], kind: str = "change_rows"):
    positions = [r["position"] for r in _epoch(records, kind) if r["kind"] == kind]
    return next((p for p in reversed(positions) if p is not None), None)


def _pending_resets(records: list[dict]) -> set[str]:
    """Kinds with a reset record and no batch of that kind committed since."""
    pending: set[str] = set()
    for rec in records:
        if rec.get("tombstone"):
            pending.add(rec["kind"])
        else:
            pending.discard(rec["kind"])
    return pending


def _visible(records: list[dict]) -> list[dict]:
    """The data records a reader sees. Right after a reset, the kind's
    committed data stays visible; the rerun's first batch of that kind
    supersedes all of it, whatever its batch sizes were. A compacted
    generation is always read."""
    out, reset = [], set()
    for rec in records:
        if rec.get("tombstone"):
            reset.add(rec["kind"])
            continue
        if rec["kind"] in reset:
            reset.discard(rec["kind"])
            out = [r for r in out if r["kind"] != rec["kind"] or "path" in r]
        out.append(rec)
    return out


@dataclass
class TransactionalDirSink:
    """Exactly-once directory sink: data files + progress manifest commit
    together, under ids the sink assigns (T2)."""

    root: str
    topic: str

    def __post_init__(self) -> None:
        os.makedirs(os.path.join(self.root, "_staging"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.jsonl")

    def _records(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path, "rb") as f:
            return _read(f)[0]

    def committed_batches(self) -> dict[int, dict]:
        """Every manifest record, reset records included, by batch id."""
        return {rec["batch_id"]: rec for rec in self._records()}

    def last_progress(self, kind: str = "change_rows"):
        """T2 resume point: last committed position FOR THIS KIND (the
        compacted-progress-topic replay, progress_tracking.py:235-258).
        Snapshot pages carry no position: snapshot progress is tracked by
        key, not index (constants.py:38-39), see ``last_snapshot_key``."""
        return _last_position(self._records(), kind)

    def last_snapshot_key(self) -> tuple | None:
        """Snapshot resume point: the lowest key committed so far since the
        last snapshot reset (pages run high → low), or None before the first
        page (tracked_tables.py:219-256)."""
        epoch = _epoch(self._records(), "snapshot_rows")
        keys = [r["snapshot_key"] for r in epoch if "snapshot_key" in r]
        return tuple(keys[-1]) if keys else None

    def _record(self, batch_id: int, kind: str, position, snapshot_key=None, **extra) -> dict:
        rec = dict(topic=self.topic, kind=kind, position=position, batch_id=batch_id, **extra)
        if snapshot_key is not None:
            rec["snapshot_key"] = list(snapshot_key)
        return rec

    def commit_batch(self, batch: DataFrame, position, snapshot_key=None) -> int | None:
        """Commit ``batch`` under the next batch id and return that id. A
        batch with a ``snapshot_key`` is a snapshot page (kind
        ``snapshot_rows``, no position); any other is a change batch at
        ``position``, its last change index. Positions increase from batch
        to batch, so a change batch at or below ``last_progress()`` is a
        replay (a restarted writer, or Spark re-running a micro-batch): it
        is already in the topic, and this returns None without writing. A
        commit that crashed never reached the manifest, so its id is the
        next one again and its leftover directories are overwritten."""
        kind = "change_rows" if snapshot_key is None else "snapshot_rows"
        with open(self.manifest_path, "ab+") as f:
            records, end = _read(f)
            last = _last_position(records)
            if kind == "change_rows" and None not in (position, last) and position <= last:
                return None
            batch_id = _next_id(records)
            stage = os.path.join(self.root, "_staging", f"batch={batch_id}")
            final = os.path.join(self.root, "data", f"batch={batch_id}")
            # a crashed attempt's leftovers: "overwrite" replaces the staged
            # directory, and a renamed one is removed before the rename
            batch.write.mode("overwrite").parquet(stage)
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(stage, final)
            _append(f, end, self._record(batch_id, kind, position, snapshot_key))
        return batch_id

    def reset_progress(self, kinds: tuple[str, ...] = ("change_rows",)) -> int:
        """progress_reset_tool analog (reference progress_reset_tool.py:12,
        progress_tracking.py reset_progress): append a *tombstone* progress
        record per (topic, kind) with records since its last reset, so
        replaying the log yields no resume point for that kind and the next
        run starts it from scratch. Data files are untouched (same as the
        reference: only the progress topic is rewritten; see ``_visible``
        for when a rerun supersedes them) and other topics' sinks never see
        it. Returns the number of tombstones written."""
        with open(self.manifest_path, "ab+") as f:
            records, end = _read(f)
            reset = [k for k in kinds if _epoch(records, k)]
            tombs = enumerate(reset, _next_id(records))
            _append(f, end, *(self._record(i, k, None, tombstone=True) for i, k in tombs))
        return len(reset)

    def read_committed(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Read ONLY manifest-listed data (uncommitted staging invisible),
        by the rule in ``_visible``. Records may carry an explicit ``path``
        (compacted generations).

        ``as_of``: time travel — read the table as it was after batch id
        ``as_of`` committed (later batches invisible). Compaction collapses
        history, so travel only reaches past the last compacted generation."""
        records = [r for r in self._records() if as_of is None or r["batch_id"] <= as_of]
        dirs = [
            os.path.join(self.root, "data", r.get("path", f"batch={r['batch_id']}"))
            for r in _visible(records)
        ]
        if not dirs:
            raise ValueError("no committed batches" + (f" at or before {as_of}" if as_of is not None else ""))
        return spark.read.parquet(*dirs)

    def compact(
        self,
        spark: SparkSession,
        key_cols: list[str],
        order_col: str = "change_seq",
        tombstone_col: str = "__tombstone",
    ) -> int:
        """Log compaction (the background process a compacted Kafka topic
        gets from the broker): collapse all committed batches to the last
        record per key, dropping keys whose final record is a tombstone, and
        atomically replace the batch directories with one compacted batch.

        Progress is preserved: the compacted batch takes the max committed
        batch id, position and snapshot key, so resume semantics are
        unchanged. Returns surviving row count. At scale this is the same
        one-shuffle ``max_by`` with the output range-partitioned by key.

        Raises ``ValueError``, and changes nothing, while a reset awaits its
        rerun (``_pending_resets``): the compacted generation is always read
        and drops the reset record, so the rerun could neither supersede the
        pre-reset rows nor restart the reset kind from scratch."""
        from sqlserver_cdc_to_kafka_spark.operators.compaction import (
            last_value_per_key,
        )

        pending = _pending_resets(self._records())
        if pending:
            raise ValueError(
                f"{self.topic}: cannot compact before the rerun after a reset of "
                f"{sorted(pending)} commits its first batch of that kind"
            )
        batches = self.committed_batches()
        if not batches:
            return 0
        df = self.read_committed(spark)
        # NULL order values are either snapshot rows (base state — oldest for
        # their key: every change logically follows the backfill, T7) or
        # tombstones (emitted right after their delete — newest for the key)
        ordk = F.struct(
            F.when(F.col(tombstone_col), F.lit(2**62))
            .otherwise(F.coalesce(F.col(order_col), F.lit(-1)))
            .alias("o"),
            F.col(tombstone_col).cast("int").alias("t"),
        )
        last = last_value_per_key(
            df.withColumn("__ordk", ordk), key_cols, "__ordk", drop_deleted=False
        )
        live = last.filter(~F.col(tombstone_col)).drop("__ordk")

        max_id = max(batches)
        # capture BEFORE rewriting manifest
        position, snapshot_key = self.last_progress(), self.last_snapshot_key()
        # crash-safe ordering: (1) write the compacted generation under a
        # fresh directory name, (2) atomically replace the manifest — THE
        # commit point: readers switch from the old dirs to the new one in
        # one rename, (3) only then delete the superseded dirs (a crash
        # leaves invisible orphans, never missing data).
        gen_dir = f"compacted={max_id}"
        stage = os.path.join(self.root, "_staging", gen_dir)
        final = os.path.join(self.root, "data", gen_dir)
        if os.path.exists(stage):
            shutil.rmtree(stage)
        live.write.mode("overwrite").parquet(stage)
        n = spark.read.parquet(stage).count()
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(stage, final)
        tmp_manifest = self.manifest_path + ".tmp"
        with open(tmp_manifest, "w") as f:
            rec = self._record(max_id, "change_rows", position, snapshot_key, path=gen_dir)
            f.write(json.dumps(rec) + "\n")
        os.replace(tmp_manifest, self.manifest_path)  # commit point
        for b, rec in batches.items():
            d = os.path.join(self.root, "data", rec.get("path", f"batch={b}"))
            if rec.get("path") != gen_dir and os.path.exists(d):
                shutil.rmtree(d)
        return n


def reset_progress(sink: TransactionalDirSink) -> None:
    """The reference's progress_reset_tool (progress_reset_tool.py:12):
    wipe a topic's progress AND its committed data so the next run
    re-snapshots from scratch. Destructive by design; staging is cleared
    too so no phantom batch can resurrect."""
    for sub in ("data", "_staging"):
        d = os.path.join(sink.root, sub)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.makedirs(d, exist_ok=True)
    if os.path.exists(sink.manifest_path):
        os.remove(sink.manifest_path)
