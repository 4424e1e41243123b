"""CLI entry point — the engine's analog of the reference's executable
surface (``python -m cdc_kafka``, reference ``options.py`` flag names,
``__main__.py:1-15``) plus its standalone tools:

    python -m sqlserver_cdc_to_kafka_spark --sf-dir DIR --sink-dir OUT
        run the pipeline (main.py's produce loop) through
        ``streaming.pipeline_run.PipelineRun``: snapshot pages interleaved
        with change batches, tombstones after deletes, each batch committed
        with its position to ``OUT/<topic>/`` (``data/batch=N/`` plus
        ``_manifest.jsonl``). A rerun resumes the snapshot and the changes
        from the manifest and commits only what is missing.
    ... --run-validations
        run the validator family (validation.py:56-197 and
        progress_topic_validator.py analogs) and print one JSON line per
        check — like the reference, write paths are disabled in this mode
        (main.py:313 ``disable_writes``).
    ... --report-progress-only
        print the progress-topic rollup and exit (main.py:313).
    ... --show-snapshot-history
        the show_snapshot_history.py tool: snapshot start/complete pairing.
    ... --find-truncation-candidates
        the find_truncation_opportunities.py tool: per-column truncation
        report.
    ... --reset-progress --topic-names T1,T2 [--progress-kind K] [--execute]
        the progress_reset_tool.py analog (progress_reset_tool.py:12):
        append tombstone progress records for the named topics' sinks under
        --sink-dir so their next run starts from scratch; other topics keep
        their offsets. Dry-run (report only) unless --execute is set, like
        the reference.

Flags reuse the reference's names (``--db-row-batch-size``,
``--table-include-regex``, ``--topic-name-template``, …) so an operator of
the reference can carry a deployment's settings across; ``--options-json``
accepts the full `EngineConfig` as JSON (F16).
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Sequence

from sqlserver_cdc_to_kafka_spark.config import EngineConfig


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m sqlserver_cdc_to_kafka_spark")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                   help="directory of the source parquet tables")
    p.add_argument("--sink-dir", default=None,
                   help="output directory for pipeline mode (required unless "
                        "a read-only mode flag is set)")
    p.add_argument("--options-json", default=None,
                   help="EngineConfig as a JSON object (overrides flag defaults)")
    # reference-named option flags (options.py)
    p.add_argument("--db-row-batch-size", type=int, default=None)
    p.add_argument("--table-include-regex", default=None)
    p.add_argument("--table-exclude-regex", default=None)
    p.add_argument("--snapshot-table-include-regex", default=None)
    p.add_argument("--snapshot-table-exclude-regex", default=None)
    p.add_argument("--topic-name-template", default=None)
    p.add_argument("--progress-topic-name", default=None)
    p.add_argument("--message-serializer", default=None, choices=("json", "avro"))
    p.add_argument("--lsn-gap-handling", default=None)
    p.add_argument("--partition-count", type=int, default=None)
    p.add_argument("--disable-deletion-tombstones", action="store_true")
    # modes
    p.add_argument("--run-validations", action="store_true")
    p.add_argument("--report-progress-only", action="store_true")
    p.add_argument("--show-snapshot-history", action="store_true")
    p.add_argument("--find-truncation-candidates", action="store_true")
    # progress_reset_tool analog (reference progress_reset_tool.py flags)
    p.add_argument("--reset-progress", action="store_true")
    p.add_argument("--run-query", default=None, metavar="NAME[,NAME...]",
                   help="run registered queries by name against --sf-dir and "
                        "print rows as JSON lines (see --list-queries)")
    p.add_argument("--list-queries", action="store_true",
                   help="print every registered query name and exit")
    p.add_argument("--limit", type=int, default=20,
                   help="max rows printed per --run-query result")
    p.add_argument("--topic-names", default=None,
                   help="comma-separated topics for --reset-progress")
    p.add_argument("--progress-kind", default="change_rows",
                   choices=("change_rows", "snapshot_rows", "all"))
    p.add_argument("--execute", action="store_true",
                   help="actually write the reset (default: dry-run report)")
    return p


def _config_from_args(args: argparse.Namespace) -> EngineConfig:
    if args.options_json:
        cfg = EngineConfig.from_json(args.options_json)
    else:
        cfg = EngineConfig()
    overrides = {
        "db_row_batch_size": args.db_row_batch_size,
        "table_include_regex": args.table_include_regex,
        "table_exclude_regex": args.table_exclude_regex,
        "snapshot_table_include_regex": args.snapshot_table_include_regex,
        "snapshot_table_exclude_regex": args.snapshot_table_exclude_regex,
        "topic_name_template": args.topic_name_template,
        "progress_topic_name": args.progress_topic_name,
        "message_serializer": args.message_serializer,
        "lsn_gap_handling": args.lsn_gap_handling,
        "partition_count": args.partition_count,
    }
    for k, v in overrides.items():
        if v is not None:
            setattr(cfg, k, v)
    if args.disable_deletion_tombstones:
        cfg.disable_deletion_tombstones = True
    cfg.run_validations = args.run_validations
    cfg.report_progress_only = args.report_progress_only
    cfg.__post_init__()  # re-validate after overrides
    return cfg


_VALIDATION_CHECKS = (
    # the §5 validator families, in the order the reference runs them
    "val_topic_summary",
    "val_set_reconciliation",
    "val_row_comparison",
    "val_progress_rollup",
    "val_duplicate_entries",
    "val_lag_regressions",
    "val_missing_offsets",
    "val_snapshot_key_order",
    "val_snapshot_history",
)


def _emit(kind: str, **payload: object) -> None:
    print(json.dumps({"kind": kind, **payload}, default=str))


def _run_named_queries(spark, sf_dir: str, names: Sequence[str]) -> None:
    from sqlserver_cdc_to_kafka_spark.registry import load_all

    reg = load_all()
    for name in names:
        df = reg[name].fn(spark, sf_dir)
        _emit("check", name=name, rows=df.count())


def _run_pipeline(spark, sf_dir: str, sink_dir: str, cfg: EngineConfig) -> None:
    """One table through ``PipelineRun`` into ``<sink_dir>/<topic>``."""
    from sqlserver_cdc_to_kafka_spark.queries.cdc import cdc_events
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import AccumulatingReporter
    from sqlserver_cdc_to_kafka_spark.streaming.pipeline_run import PipelineRun
    from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    fq_name = "dbo.orders"
    if not cfg.table_followed(fq_name):
        _emit("skipped", table=fq_name, reason="table_followed=False")
        return
    topic = cfg.topic_for("dbo", "orders")
    orders = load_table(spark, sf_dir, "orders")
    if not cfg.table_snapshotted(fq_name):
        orders = orders.limit(0)
    path = f"{sink_dir}/{topic}"
    batches = AccumulatingReporter()
    run = PipelineRun(
        spark, orders, cdc_events(spark, sf_dir), ["o_orderkey"],
        TransactionalDirSink(path, topic), [batches], cfg.db_row_batch_size,
        tombstones=not cfg.disable_deletion_tombstones,
    )
    rows = run.run()
    _emit("topic_written", topic=topic, path=path, rows=rows,
          snapshot_pages=sum(1 for m in batches.emitted if m.snapshots))


def _reset_progress(args: argparse.Namespace) -> int:
    """progress_reset_tool.py:12 analog — no Spark session needed; operates
    on the sink manifests directly."""
    import os

    from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink

    if not args.topic_names or not args.sink_dir:
        print("error: --reset-progress requires --topic-names and --sink-dir",
              file=sys.stderr)
        return 2
    kinds = (
        ("change_rows", "snapshot_rows")
        if args.progress_kind == "all"
        else (args.progress_kind,)
    )
    for topic in (t.strip() for t in args.topic_names.split(",")):
        root = os.path.join(args.sink_dir, topic)
        if not os.path.exists(root):
            _emit("reset", topic=topic, found=False)
            continue
        sink = TransactionalDirSink(root, topic)
        prior = sink.last_progress()
        if args.execute:
            n = sink.reset_progress(kinds)
            _emit("reset", topic=topic, found=True, prior_position=prior,
                  tombstones_written=n, executed=True)
        else:
            _emit("reset", topic=topic, found=True, prior_position=prior,
                  executed=False, note="dry-run; pass --execute to write")
    return 0


def main(argv: Sequence[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    cfg = _config_from_args(args)

    if args.reset_progress:
        return _reset_progress(args)

    if args.list_queries:
        from sqlserver_cdc_to_kafka_spark.registry import load_all

        for name in sorted(load_all()):
            print(name)
        return 0

    from sqlserver_cdc_to_kafka_spark.session import get_spark

    spark = get_spark("cdc-engine-cli")

    if args.run_query:
        from sqlserver_cdc_to_kafka_spark.registry import load_all

        reg = load_all()
        names = [n.strip() for n in args.run_query.split(",")]
        # validate the whole request before executing anything: an unknown
        # second name must not leave partial results behind an exit code 2
        unknown = [n for n in names if n not in reg]
        if unknown:
            for name in unknown:
                print(f"error: unknown query {name!r} (see --list-queries)",
                      file=sys.stderr)
            return 2
        for name in names:
            df = reg[name].fn(spark, args.sf_dir)
            rows = df.limit(args.limit).collect()
            _emit("query", name=name, n_shown=len(rows),
                  rows=[r.asDict() for r in rows])
        return 0

    read_only = (
        cfg.run_validations
        or cfg.report_progress_only
        or args.show_snapshot_history
        or args.find_truncation_candidates
    )
    if cfg.run_validations:
        _run_named_queries(spark, args.sf_dir, _VALIDATION_CHECKS)
    if cfg.report_progress_only:
        _run_named_queries(spark, args.sf_dir, ("val_progress_rollup",))
    if args.show_snapshot_history:
        _run_named_queries(spark, args.sf_dir, ("val_snapshot_history",))
    if args.find_truncation_candidates:
        _run_named_queries(spark, args.sf_dir, ("val_truncation_report",))
    if read_only:
        return 0
    if not args.sink_dir:
        print("error: --sink-dir is required in pipeline mode", file=sys.stderr)
        return 2
    _run_pipeline(spark, args.sf_dir, args.sink_dir, cfg)
    return 0


if __name__ == "__main__":
    sys.exit(main())
