"""CLI entry point (`python -m sqlserver_cdc_to_kafka_spark`) — the
reference's executable surface (`cdc_kafka/__main__.py`, options.py flag
names) driven in-process. Pipeline mode runs the same `PipelineRun` as the
library, so its output is checked the way a consumer reads it: through the
sink's manifest, with resume and `--reset-progress` acting on it. The
read-only modes emit JSON check lines and write nothing."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sqlserver_cdc_to_kafka_spark.__main__ import main
from sqlserver_cdc_to_kafka_spark.queries import cdc as cdc_queries
from sqlserver_cdc_to_kafka_spark.fixtures.cdc_events import cdc_events
from sqlserver_cdc_to_kafka_spark.streaming.change_feed import MicroBatcher
from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink


def _emitted(capsys):
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def _committed(spark, row):
    """The topic a pipeline-mode run reported, read back through its sink."""
    return TransactionalDirSink(row["path"], row["topic"]).read_committed(spark)


def test_pipeline_mode_writes_topic(spark, sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--db-row-batch-size", "500",
               "--topic-name-template", "{schema_name}.{table_name}.cdc"])
    assert rc == 0
    out = _emitted(capsys)
    (row,) = [r for r in out if r["kind"] == "topic_written"]
    assert row["topic"] == "dbo.orders.cdc"
    assert row["path"] == f"{tmp_path}/dbo.orders.cdc"
    assert row["snapshot_pages"] >= 2  # 500-row pages actually paginated
    # every order exactly once (snapshot), every change event, and one
    # tombstone per delete (the default: tombstones on)
    orders_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    feed = cdc_events(spark, sf_dir)
    n_deletes = feed.filter("__operation = 1").count()
    written = _committed(spark, row)
    assert written.filter("__operation = 0").count() == orders_n
    assert written.filter("__operation != 0 AND NOT __tombstone").count() == feed.count()
    assert written.filter("__tombstone").count() == n_deletes
    assert row["rows"] == written.count() == orders_n + feed.count() + n_deletes


def _topic_written(capsys):
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "topic_written"]
    return row


_CHANGES = "__operation != 0 AND NOT __tombstone"


def test_pipeline_mode_resumes_and_reset_progress_acts_on_it(
    spark, sf_dir, tmp_path, capsys, monkeypatch
):
    feed = cdc_events(spark, sf_dir)
    cut = 2000
    monkeypatch.setattr(
        cdc_queries, "cdc_events", lambda s, d: cdc_events(s, d).filter(F.col("change_seq") < cut)
    )
    args = ["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
            "--topic-name-template", "{table_name}"]
    assert main(args) == 0
    first = _topic_written(capsys)
    n_first = feed.filter(F.col("change_seq") < cut).count()
    assert _committed(spark, first).filter(_CHANGES).count() == n_first
    # a rerun with nothing new commits nothing: the snapshot and the
    # changes both resume from the manifest
    assert main(args) == 0
    second = _topic_written(capsys)
    assert second["rows"] == 0 and second["snapshot_pages"] == 0
    # a rerun after new changes reached the feed commits exactly those
    monkeypatch.undo()
    assert main(args) == 0
    third = _topic_written(capsys)
    new = feed.filter(F.col("change_seq") >= cut)
    assert third["rows"] == new.count() + new.filter("__operation = 1").count()
    written = _committed(spark, third)
    changes = written.filter(_CHANGES)
    assert changes.count() == changes.select("change_seq").distinct().count() == feed.count()
    orders_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert written.filter("__operation = 0").count() == orders_n
    # the reset tool finds the CLI's own progress
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    assert main(["--reset-progress", "--topic-names", "orders",
                 "--sink-dir", str(tmp_path), "--execute"]) == 0
    (reset,) = [r for r in _emitted(capsys) if r["kind"] == "reset"]
    assert reset["found"] and reset["prior_position"] == max_seq
    assert reset["tombstones_written"] == 1
    assert TransactionalDirSink(first["path"], "orders").last_progress() is None


def test_pipeline_mode_rerun_after_a_crash_completes_the_topic(
    spark, sf_dir, tmp_path, capsys, monkeypatch
):
    """The process dies in its fourth commit; the next CLI run picks up
    where the manifest ends and the topic then holds every order, change
    and tombstone exactly once."""
    commit, calls = TransactionalDirSink.commit_batch, []

    def crashing(self, *args, **kwargs):
        calls.append(args)
        if len(calls) == 4:
            raise RuntimeError("crash")
        return commit(self, *args, **kwargs)

    monkeypatch.setattr(TransactionalDirSink, "commit_batch", crashing)
    args = ["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
            "--db-row-batch-size", "500", "--topic-name-template", "{table_name}"]
    with pytest.raises(RuntimeError, match="crash"):
        main(args)
    monkeypatch.undo()
    sink = TransactionalDirSink(str(tmp_path / "orders"), "orders")
    before = sink.read_committed(spark).count()
    assert main(args) == 0
    row = _topic_written(capsys)
    feed = cdc_events(spark, sf_dir)
    n_deletes = feed.filter("__operation = 1").count()
    orders_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    written = _committed(spark, row)
    snap = written.filter("__operation = 0")
    changes = written.filter(_CHANGES)
    assert snap.count() == snap.select("o_orderkey").distinct().count() == orders_n
    assert changes.count() == changes.select("change_seq").distinct().count() == feed.count()
    assert written.filter("__tombstone").count() == n_deletes
    assert before + row["rows"] == written.count() == orders_n + feed.count() + n_deletes


def test_pipeline_mode_without_snapshot_commits_only_changes(
    spark, sf_dir, tmp_path, capsys
):
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--snapshot-table-exclude-regex", "orders"])
    assert rc == 0
    row = _topic_written(capsys)
    assert row["snapshot_pages"] == 0
    feed = cdc_events(spark, sf_dir)
    n_deletes = feed.filter("__operation = 1").count()
    written = _committed(spark, row)
    assert written.filter("__operation = 0").count() == 0
    assert written.filter(_CHANGES).count() == feed.count()
    assert row["rows"] == written.count() == feed.count() + n_deletes


def test_tombstone_disable_flag(spark, sf_dir, tmp_path, capsys):
    """The flag drops only the (key, null) row after each delete; the
    deletes themselves are still emitted."""
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--disable-deletion-tombstones"])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "topic_written"]
    written = _committed(spark, row)
    n_deletes = cdc_events(spark, sf_dir).filter("__operation = 1").count()
    assert n_deletes > 0
    assert written.filter("__operation = 1").count() == n_deletes
    assert written.filter("__tombstone").count() == 0


def test_exclude_regex_skips_table(sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--table-exclude-regex", "orders"])
    assert rc == 0
    out = _emitted(capsys)
    assert [r["kind"] for r in out] == ["skipped"]


def test_run_validations_is_read_only(sf_dir, tmp_path, capsys):
    rc = main(["--sf-dir", sf_dir, "--run-validations"])
    assert rc == 0
    out = _emitted(capsys)
    names = {r["name"] for r in out if r["kind"] == "check"}
    assert {"val_topic_summary", "val_progress_rollup",
            "val_snapshot_history"} <= names
    assert not list(tmp_path.iterdir())  # nothing written


def test_tool_modes(sf_dir, capsys):
    assert main(["--sf-dir", sf_dir, "--show-snapshot-history"]) == 0
    assert main(["--sf-dir", sf_dir, "--find-truncation-candidates"]) == 0
    out = _emitted(capsys)
    assert {r["name"] for r in out} == {"val_snapshot_history",
                                       "val_truncation_report"}


def test_pipeline_mode_requires_sink_dir(sf_dir):
    assert main(["--sf-dir", sf_dir]) == 2


def test_options_json_roundtrip(sf_dir, tmp_path, capsys):
    cfg = json.dumps({"topic_name_template": "{table_name}_only",
                      "db_row_batch_size": 1000})
    rc = main(["--sf-dir", sf_dir, "--sink-dir", str(tmp_path),
               "--options-json", cfg])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "topic_written"]
    assert row["topic"] == "orders_only"


def test_invalid_option_value_rejected(sf_dir):
    with pytest.raises(ValueError):
        main(["--sf-dir", sf_dir, "--run-validations",
              "--lsn-gap-handling", "bogus"])


def test_reset_progress_tool(spark, sf_dir, tmp_path, capsys):
    """progress_reset_tool analog: the reset topic resumes from scratch,
    the untouched topic keeps its offset, and dry-run changes nothing."""
    feed = cdc_events(spark, sf_dir).filter(F.col("change_seq") < 2000)
    sinks = {}
    for topic in ("orders_cdc", "customer_cdc"):
        sink = TransactionalDirSink(str(tmp_path / topic), topic)
        sinks[topic] = sink
        MicroBatcher(feed, batch_size=700, sink=sink.commit_next).run_to_completion()
    max_seq = feed.agg(F.max("change_seq")).collect()[0][0]
    assert sinks["orders_cdc"].last_progress() == max_seq

    # dry-run: reports but does not write
    rc = main(["--reset-progress", "--topic-names", "orders_cdc",
               "--sink-dir", str(tmp_path)])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "reset"]
    assert row["prior_position"] == max_seq and row["executed"] is False
    assert sinks["orders_cdc"].last_progress() == max_seq

    # execute: reset topic resumes from scratch, other topic untouched
    rc = main(["--reset-progress", "--topic-names", "orders_cdc,missing_topic",
               "--sink-dir", str(tmp_path), "--execute"])
    assert rc == 0
    rows = [r for r in _emitted(capsys) if r["kind"] == "reset"]
    assert {r["topic"]: r.get("found") for r in rows} == {
        "orders_cdc": True, "missing_topic": False,
    }
    assert sinks["orders_cdc"].last_progress() is None
    assert sinks["customer_cdc"].last_progress() == max_seq
    # committed data is untouched (only progress is rewritten)
    assert sinks["orders_cdc"].read_committed(spark).count() == feed.count()
    # a fresh batcher over the reset topic starts from scratch
    mb = MicroBatcher(
        feed, batch_size=700, offset=sinks["orders_cdc"].last_progress()
    )
    assert mb.run_once() == 700


def test_run_query_and_list(spark, sf_dir, capsys):
    rc = main(["--list-queries"])
    assert rc == 0
    names = capsys.readouterr().out.split()
    assert "cdc_count_by_operation" in names and len(names) > 200

    rc = main(["--run-query", "cdc_count_by_operation", "--sf-dir", sf_dir,
               "--limit", "2"])
    assert rc == 0
    (row,) = [r for r in _emitted(capsys) if r["kind"] == "query"]
    assert row["name"] == "cdc_count_by_operation"
    assert 1 <= row["n_shown"] <= 2
    assert all("__operation" in r for r in row["rows"])

    rc = main(["--run-query", "no_such_query", "--sf-dir", sf_dir])
    assert rc == 2

    # a bad SECOND name must fail the whole request up front — no partial
    # results may be emitted before the exit code 2
    rc = main(
        ["--run-query", "cdc_count_by_operation,no_such_query",
         "--sf-dir", sf_dir]
    )
    assert rc == 2
    assert not [r for r in _emitted(capsys) if r["kind"] == "query"]
