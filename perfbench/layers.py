"""Per-layer metrics from one traced pass.

Layers are named after the package's modules. Self time is a span's
duration minus the time its child spans cover, so the self times of all
spans plus the uncovered remainder add up to the pass's wall time. Jobs are
counted per span name through the job groups the tracer sets. A layer that
a workload does not reach reads 0.
"""

from __future__ import annotations

import math
import os
import statistics

from workloads import ANALYTICS_MODULES, ANALYTICS_QUERIES


READBACK_SPANS = {
    "sinks.read_committed",
    "operators.validation",
    "operators.compaction",
    "operators.replay",
}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _files(root: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


class SpanView:
    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.spans = tracer.spans
        self.self_s = tracer.self_s()
        names = {s.name for s in self.spans} | {tracer.root}
        self.jobs = {n: tracer.jobs.counts(n) for n in names}

    def outer(self, name: str):
        """Spans of ``name`` not nested in a span of the same name."""
        return [
            s
            for s in self.spans
            if s.name == name
            and (s.parent is None or self.spans[s.parent].name != name)
        ]

    def total_s(self, name: str) -> float:
        return sum(s.duration for s in self.outer(name))

    def njobs(self, *names: str) -> int:
        return sum(self.jobs.get(n, (0, 0, 0))[0] for n in names)


def per_layer(wl, traced, untraced, tracer, error_rate: float) -> dict[str, float]:
    v = SpanView(tracer)
    m: dict[str, float] = {}
    for name in ("change_feed", "snapshot_stream", "pipeline_run"):
        m[f"{name}.self_s"] = v.self_s.get(name, 0.0)
        m[f"{name}.jobs"] = v.njobs(name)
    commits = [s.duration for s in v.outer("sinks.commit")] or [0.0]
    m.update(
        {
            "change_feed.polls": len(v.outer("change_feed")),
            "change_feed.empty_polls": 0,
            "snapshot_stream.pages": 0,
            "snapshot_stream.page_ms_p50": 0.0,
            "tombstones.rows": traced.out.get("tombstones", 0),
            "sinks.commits": len(v.outer("sinks.commit")),
            "sinks.replayed_commits": 0,
            "sinks.commit_ms_p50": percentile(commits, 50) * 1000,
            "sinks.commit_ms_p90": percentile(commits, 90) * 1000,
            "sinks.commit_self_s": v.self_s.get("sinks.commit", 0.0),
            "sinks.commit_jobs": v.njobs("sinks.commit"),
            "sinks.files_written": 0,
            "sinks.bytes_written": 0,
            "sinks.manifest_bytes": 0,
            "sinks.read_committed_s": v.total_s("sinks.read_committed"),
            "sinks.dirs_read": 0,
            "sinks.files_read": 0,
            "compaction.s": v.total_s("operators.compaction"),
            "compaction.rows_in": 0,
            "compaction.rows_out": 0,
            "replay.s": v.total_s("operators.replay"),
            "replay.rows_out": 0,
            "validation.s": v.total_s("operators.validation"),
            "metrics.reports": traced.out.get("reports", 0),
            "metrics.report_self_ms": v.self_s.get("metrics", 0.0) * 1000,
        }
    )
    readback_s = 0.0
    if "manifest" in traced.out:  # a drain, and the read-back of its topic
        manifest = traced.out["manifest"]
        pages = sum(1 for r in manifest if r["position"] is None)
        sink = traced.out["sink"]
        data = _files(os.path.join(sink.root, "data"))
        out = traced.out["readback"]
        readback_s = sum(out["steps"])
        m.update(
            {
                "change_feed.empty_polls": m["change_feed.polls"] - (len(manifest) - pages),
                "snapshot_stream.pages": pages,
                "snapshot_stream.page_ms_p50": 1000
                * statistics.median(s.duration for s in v.outer("snapshot_stream")[:pages]),
                "sinks.replayed_commits": m["sinks.commits"] - len(manifest),
                "sinks.files_written": len(data),
                "sinks.bytes_written": sum(os.path.getsize(f) for f in data),
                "sinks.manifest_bytes": os.path.getsize(sink.manifest_path),
                "sinks.dirs_read": out["dirs_read"],
                "sinks.files_read": out["files_read"],
                "compaction.rows_in": out["compaction_rows_in"],
                "compaction.rows_out": out["compacted_rows"],
                "replay.rows_out": out["replayed"][0],
            }
        )
    for q in ANALYTICS_QUERIES:
        m[f"query.{q}.s"] = v.total_s(f"query.{q}")
    query_spans = [f"query.{q}" for q in ANALYTICS_QUERIES]
    for mod in ANALYTICS_MODULES:
        m[f"{mod}.build_s"] = v.total_s(f"{mod}.build")
        m[f"{mod}.exec_s"] = v.total_s(f"{mod}.exec")
        query_spans += [f"{mod}.build", f"{mod}.exec"]
    m["queries.jobs"] = v.njobs(*query_spans)

    # per operation of the workload itself: a drain's batches, not counting
    # the jobs of its read-back; a suite's queries
    ops = traced.out.get("batches") or len(wl.ops(traced))
    counts = [c for n, c in v.jobs.items() if n not in READBACK_SPANS]
    covered = tracer.covered_s()
    m.update(
        {
            "spark.jobs_per_batch": sum(c[0] for c in counts) / ops,
            "spark.tasks_per_batch": sum(c[1] for c in counts) / ops,
            "spark.failed_tasks": sum(c[2] for c in v.jobs.values()),
            "tracing.overhead_pct": 100
            * (traced.wall_s / statistics.median(p.wall_s for p in untraced) - 1),
            "trace.wall_s": traced.wall_s + readback_s,
            "trace.uncovered_s": traced.wall_s + readback_s - covered,
            "error_rate": error_rate,
        }
    )
    return m
