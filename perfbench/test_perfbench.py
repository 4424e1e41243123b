"""Tests for the benchmark's generator and output checks.

    python3 -m pytest perfbench -q

The generator tests need no Spark. The check tests start a small local
session and show that each workload's checks pass on correct outputs and
count a failed operation when an expected value is wrong.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402

SMALL = gen.Sizes(snapshot_rows=900, changes=700)


def test_same_seed_gives_identical_files(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), SMALL, seed=7)
    b = gen.write_inputs(str(tmp_path / "b"), SMALL, seed=7)
    for name in a:
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() == fb.read(), name


def test_seeds_change_identities_not_counts():
    one = gen.generate(SMALL, seed=1)
    two = gen.generate(SMALL, seed=2)
    for t1, t2 in zip(one, two):
        assert t1.num_rows == t2.num_rows
    ops1 = one[1].column("__operation").to_pylist()
    assert ops1 == two[1].column("__operation").to_pylist()
    assert one[0].column("k") != two[0].column("k")
    assert one[2].num_rows == SMALL.live_rows
    assert ops1.count(gen.OP_DELETE) == SMALL.n_deletes
    assert ops1.count(gen.OP_INSERT) == SMALL.n_inserts
    assert ops1.count(gen.OP_POST_UPDATE) == SMALL.n_updates


def test_history_is_valid_and_expected_state_matches():
    source, feed, expected = gen.generate(SMALL, seed=3)
    state = {r["k"]: r for r in source.to_pylist()}
    snapshot_max = max(state)
    inserted = set()
    seqs = feed.column("change_seq").to_pylist()
    assert seqs == sorted(set(seqs))
    for ev in feed.to_pylist():
        k, op = ev["k"], ev["__operation"]
        if op == gen.OP_INSERT:
            assert k > snapshot_max and k not in state and k not in inserted
            inserted.add(k)
        else:
            assert k in state, "update or delete of a key that is not live"
        if op == gen.OP_DELETE:
            del state[k]
        else:
            state[k] = {c: ev[c] for c in gen.SOURCE_SCHEMA.names}
    assert sorted(state.values(), key=lambda r: r["k"]) == expected.to_pylist()


def test_changes_are_skewed():
    _, feed, _ = gen.generate(gen.Sizes(3000, 3000), seed=4)
    ops = feed.column("__operation").to_pylist()
    keys = [k for k, op in zip(feed.column("k").to_pylist(), ops) if op != gen.OP_INSERT]
    counts = sorted((keys.count(k) for k in set(keys)), reverse=True)
    assert counts[0] >= 10 * (len(keys) / len(set(keys)))


def test_feed_is_readable_by_change_feed_source(tmp_path):
    from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedDataSource

    paths = gen.write_inputs(str(tmp_path), SMALL, seed=5)
    ddl = ChangeFeedDataSource({"path": paths["feed"]}).schema()
    assert ddl.startswith("__operation int, change_seq bigint, __event_time timestamp")


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    import workloads
    from tracing import JobCounter

    from sqlserver_cdc_to_kafka_spark.session import get_spark

    spark = get_spark(
        "perfbench-test",
        cpus=2,
        extra_conf={"spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads"},
    )
    yield workloads.Ctx(
        spark, str(tmp_path_factory.mktemp("work")), 9, JobCounter(spark.sparkContext, "test")
    )
    spark.stop()


@pytest.fixture
def small_inputs(monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "SIZES", SMALL)
    monkeypatch.setattr(workloads, "WARMUP_SIZES", gen.Sizes(300, 300))


def _judge(wl, passes):
    from run import judge

    attempted, failed, _ = judge(wl, passes)
    assert attempted >= 1
    return failed / attempted


def test_drain_checks_catch_a_wrong_expected_value(ctx, small_inputs):
    import workloads
    from tracing import JobCounter, NullTracer, Tracer

    wl = workloads.CdcDrain(ctx)
    warmup = wl.setup()
    timed = wl.run_pass(0, NullTracer())
    tracer = Tracer(JobCounter(ctx.spark.sparkContext, "test-trace"))
    wl.install_spans(tracer)
    try:
        traced = wl.traced_pass(tracer)
    finally:
        tracer.uninstall()
    assert _judge(wl, warmup + [timed, traced]) == 0
    # one CPU and one wall sample per commit; the pass also holds the
    # empty poll after the last commit
    assert len(timed.op_cpu_s) == len(timed.op_s) == timed.out["batches"]
    assert min(timed.op_cpu_s) > 0
    assert sum(timed.op_cpu_s) <= timed.cpu_s
    assert {s.name for s in tracer.spans} >= {"pipeline_run", "sinks.commit", "operators.replay"}
    # the drain and read-back run inside spans and the checks after the
    # tracer is gone, so no job is left to the uncovered remainder
    assert tracer.jobs.counts(tracer.root)[0] == 0
    out = traced.out["readback"]
    assert out["dirs_read"] == traced.out["batches"] <= out["files_read"]
    assert out["compaction_rows_in"] == wl.inputs.committed_rows

    n, h = wl.inputs.expected_digest()
    wl.inputs._digest = (n, h + 1)
    # compaction and replay are judged against the expected live state:
    # 2 of the traced pass's 5 operations (the drain and 4 read-back steps)
    assert _judge(wl, [traced]) == 2 / 5
    wl.inputs.committed_rows += 1
    assert _judge(wl, [timed]) == 1


def test_analytics_checks_catch_a_wrong_expected_value(ctx, monkeypatch):
    import workloads
    from tracing import NullTracer

    monkeypatch.setattr(workloads, "ANALYTICS_QUERIES", {"join_region_revenue": "joins"})
    wl = workloads.AnalyticsSuite(ctx)
    warmup = wl.setup()
    timed = wl.run_pass(0, NullTracer())
    assert _judge(wl, warmup + [timed]) == 0
    wl.expected["join_region_revenue"] += 1
    assert _judge(wl, [timed]) == 1
