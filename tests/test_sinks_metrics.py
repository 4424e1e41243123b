"""Exactly-once sink protocol + metrics reporter tests (SURVEY §2.9 T2/T6,
§2.1 S9/S12, §2.10 X2)."""

from __future__ import annotations

import builtins
import json
import os

import pytest
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
from sqlserver_cdc_to_kafka_spark.streaming import sinks
from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
    AccumulatingReporter,
    LocalFileReporter,
    StdoutReporter,
    load_reporters,
    observed_batch,
    report_batch,
)
from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
from sqlserver_cdc_to_kafka_spark.tables import load_table


def test_transactional_sink_exactly_once_and_resume(spark, sf_dir, tmp_path):
    # deterministic subset (limit over a repartitioned feed is not stable
    # across re-evaluations)
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 3000)
    n_feed = feed.count()
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")

    mb = MicroBatcher(feed, batch_size=400, sink=sink.commit_next)
    total = mb.run_to_completion()
    assert total == n_feed

    # committed data readable, equals the feed exactly
    out = sink.read_committed(spark)
    assert out.count() == n_feed
    assert out.select(F.sum("change_seq")).collect() == feed.select(
        F.sum("change_seq")
    ).collect()

    # crash-replay: committing the same batch id again is a no-op
    some_batch = out.limit(10)
    assert not sink.commit_batch(some_batch, 0, position=-1)
    assert sink.read_committed(spark).count() == n_feed

    # resume point = max committed index; a new batcher starting there sees 0
    resume = sink.last_progress()
    assert resume == feed.agg(F.max("change_seq")).collect()[0][0]
    assert MicroBatcher(feed, batch_size=400, offset=resume).run_once() == 0


def test_staged_but_uncommitted_batch_is_invisible(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir).limit(100)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    sink.commit_batch(feed, 0, position=99)
    # simulate a crash AFTER rename but BEFORE manifest append: write a
    # directory into data/ with no manifest record
    feed.limit(5).write.mode("overwrite").parquet(str(tmp_path / "out/data/batch=1"))
    assert sink.read_committed(spark).count() == 100  # phantom dir ignored
    assert set(sink.committed_batches()) == {0}
    # replay of the crashed batch id must supersede the phantom dir: the
    # re-commit overwrites data/batch=1 and the manifest now records it
    assert sink.commit_batch(feed.limit(7), 1, position=106)
    assert set(sink.committed_batches()) == {0, 1}
    assert sink.read_committed(spark).count() == 107


class _Crash(Exception):
    """The process dying at one step of a commit."""


class _TornWriter:
    """A manifest handle that dies halfway through its next write, leaving
    a torn last line, as a crash in the middle of the append would."""

    def __init__(self, f) -> None:
        self.f = f

    def __getattr__(self, name):
        return getattr(self.f, name)

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.f.close()

    def write(self, data):
        self.f.write(data[: len(data) // 2])
        self.f.flush()
        raise _Crash("mid-append")


def _crash_commit(monkeypatch, step: str, n: int) -> None:
    """Make the ``n``-th ``commit_batch`` die at ``step``: after the staged
    write (the rename fails), after the rename (opening the manifest for
    the append fails), or in the middle of the append."""
    real_rename, real_open = os.rename, builtins.open
    seen = {"rename": 0, "append": 0}

    def rename(src, dst):
        seen["rename"] += 1
        if step == "staged" and seen["rename"] == n:
            raise _Crash(step)
        return real_rename(src, dst)

    def open_(path, mode="r", *args, **kwargs):
        f = real_open(path, mode, *args, **kwargs)
        if "a" not in mode:
            return f
        seen["append"] += 1
        if seen["append"] != n or step == "staged":
            return f
        if step == "renamed":
            f.close()
            raise _Crash(step)
        return _TornWriter(f)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(sinks, "open", open_, raising=False)


@pytest.mark.parametrize("step", ["staged", "renamed", "mid-append"])
def test_crash_at_each_commit_step_resumes_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch, step
):
    """A pipeline dies in its fourth commit (a change batch, after a page,
    a change batch and a page); a restarted ``PipelineRun`` over the same
    sink resumes both the snapshot and the changes, and the topic then
    holds every order and every change exactly once."""
    orders = load_table(spark, sf_dir, "orders")
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 3000)
    n_orders, n_feed = orders.count(), feed.count()
    n_deletes = feed.filter(F.col("__operation") == 1).count()
    root = str(tmp_path / "out")

    def run():
        sink = TransactionalDirSink(root, "orders")
        return sink, PipelineRun(spark, orders, feed, ["o_orderkey"], sink, [], 400)

    _crash_commit(monkeypatch, step, 4)
    with pytest.raises(_Crash):
        run()[1].run()
    monkeypatch.undo()

    # the restarted process: the crashed batch never committed
    sink, restarted = run()
    assert set(sink.committed_batches()) == {0, 1, 2}
    assert sink.last_snapshot_key() is not None and sink.last_progress() is not None
    before = sink.read_committed(spark).count()
    assert restarted.run() == n_orders + n_feed + n_deletes - before

    out = sink.read_committed(spark)
    snap = out.filter(F.col("__operation") == 0)
    changes = out.filter((F.col("__operation") != 0) & ~F.col("__tombstone"))
    assert snap.count() == snap.select("o_orderkey").distinct().count() == n_orders
    assert changes.count() == changes.select("change_seq").distinct().count() == n_feed
    assert out.filter(F.col("__tombstone")).count() == n_deletes
    assert sink.last_progress() == feed.agg(F.max("change_seq")).collect()[0][0]
    with open(sink.manifest_path) as f:
        text = f.read()
    assert text.endswith("\n")
    assert [json.loads(line)["batch_id"] for line in text.splitlines()] == sorted(
        sink.committed_batches()
    )


def test_reset_progress_cuts_off_a_torn_manifest_line(tmp_path):
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    whole = {"topic": "orders", "kind": "change_rows", "position": 41, "batch_id": 0}
    torn = json.dumps({**whole, "position": 99, "batch_id": 1})
    with open(sink.manifest_path, "w") as f:
        f.write(json.dumps(whole) + "\n" + torn[: len(torn) // 2])
    assert sink.last_progress() == 41
    assert set(sink.committed_batches()) == {0}
    assert sink.reset_progress() == 1
    with open(sink.manifest_path) as f:
        records = [json.loads(line) for line in f]
    assert [r["batch_id"] for r in records] == [0, 1]
    assert records[1]["tombstone"] and sink.last_progress() is None


def test_observed_metrics_and_reporters(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 1500)
    n_feed = feed.count()
    observed, obs = observed_batch(feed)
    observed.write.format("noop").mode("overwrite").save()
    mem = AccumulatingReporter()
    fpath = tmp_path / "metrics.json"
    m = report_batch(obs.get, 7, 0.5, [mem, LocalFileReporter(str(fpath))])
    assert m.rows == n_feed
    assert m.rows == m.deletes + m.inserts + m.updates + m.snapshots
    assert m.max_index == feed.agg(F.max("change_seq")).collect()[0][0]
    assert mem.emitted == [m]
    assert json.loads(fpath.read_text())["batch_id"] == 7


def test_load_reporters_spec(tmp_path):
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
        HttpPostReporter,
        KafkaTopicReporter,
    )

    rs = load_reporters(
        f"stdout, file:{tmp_path}/m.json, memory,"
        f" http://localhost:1/metrics, kafka:{tmp_path}/topics"
    )
    assert isinstance(rs[0], StdoutReporter)
    assert isinstance(rs[1], LocalFileReporter)
    assert isinstance(rs[2], AccumulatingReporter)
    assert isinstance(rs[3], HttpPostReporter)
    assert rs[3].url == "http://localhost:1/metrics"
    assert isinstance(rs[4], KafkaTopicReporter)


def _metrics(batch_id=3):
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import BatchMetrics

    return BatchMetrics(
        interval_start_ts=1723500000.0,
        batch_id=batch_id,
        rows=10,
        deletes=1,
        inserts=5,
        updates=3,
        snapshots=1,
        max_index=999,
        batch_seconds=0.25,
    )


def test_http_post_reporter_posts_json_and_template(tmp_path):
    """Spin a real local HTTP server and assert the posted payload shape
    (reference metric_reporting/http_post_reporter.py:29-45)."""
    import http.server
    import threading

    from sqlserver_cdc_to_kafka_spark.streaming.metrics import HttpPostReporter

    received: list[tuple[str, bytes, str]] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, body, self.headers.get("X-Auth", "")))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/metrics"
        # default JSON body + custom header
        HttpPostReporter(url, headers={"X-Auth": "tok"}, synchronous=True).emit(
            _metrics()
        )
        assert received[0][0] == "/metrics"
        assert received[0][2] == "tok"
        payload = json.loads(received[0][1])
        assert payload["batch_id"] == 3
        assert payload["rows"] == 10
        # templated body ($field placeholders, the reference's Jinja2 analog)
        HttpPostReporter(
            url,
            template='{"series": "cdc", "n": $rows, "b": $batch_id}',
            synchronous=True,
        ).emit(_metrics(batch_id=4))
        assert json.loads(received[1][1]) == {"series": "cdc", "n": 10, "b": 4}
        # a dead endpoint is logged-and-dropped, never raises
        HttpPostReporter("http://127.0.0.1:1/x", synchronous=True).emit(_metrics())
    finally:
        srv.shutdown()


def test_kafka_topic_reporter_appends_keyed_records(tmp_path):
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import (
        DEFAULT_METRICS_TOPIC,
        KafkaTopicReporter,
    )

    rep = KafkaTopicReporter(str(tmp_path / "topics"))
    rep.emit(_metrics(batch_id=1))
    rep.emit(_metrics(batch_id=2))
    msgs = rep.read_back()
    assert [m["value"]["batch_id"] for m in msgs] == [1, 2]
    assert all(m["key"] == {"metrics_namespace": "cdc_to_kafka"} for m in msgs)
    assert (tmp_path / "topics" / DEFAULT_METRICS_TOPIC / "messages.jsonl").exists()


def test_streaming_query_listener_captures_progress(spark, sf_dir, tmp_path):
    import shutil as _sh

    from sqlserver_cdc_to_kafka_spark.streaming.metrics import make_progress_listener
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    src = tmp_path / "src"; src.mkdir()
    stage = tmp_path / "stage"
    ev.coalesce(1).write.mode("overwrite").parquet(str(stage))
    _sh.copyfile(next(stage.glob("part-*.parquet")), src / "a.parquet")

    events: list = []
    listener = make_progress_listener(events)
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.schema(ev.schema).parquet(str(src))
            .writeStream.format("noop").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        import time as _t
        for _ in range(50):  # listener delivery is async
            if any(k == "progress" for k, _v in events):
                break
            _t.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    kinds = {k for k, _v in events}
    assert "started" in kinds and "progress" in kinds
    prog = [v for k, v in events if k == "progress"]
    assert sum(p["num_input_rows"] for p in prog) == ev.count()


def test_time_travel_read(spark, sf_dir, tmp_path):
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 3000)
    sink = TransactionalDirSink(str(tmp_path / "out"), "orders")
    mb = MicroBatcher(feed, batch_size=400, sink=sink.commit_next)
    mb.run_to_completion()
    n_all = sink.read_committed(spark).count()
    n_b0 = sink.read_committed(spark, as_of=0).count()
    n_b1 = sink.read_committed(spark, as_of=1).count()
    assert n_b0 == 400 and n_b1 == 800 and n_all == feed.count()
    import pytest as _pt
    with _pt.raises(ValueError):
        sink.read_committed(spark, as_of=-1)
