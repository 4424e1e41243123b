"""Metrics accumulation + reporter backends (SURVEY §2.1 S12, §2.4 A9,
§2.10 X2).

Reference: ``cdc_kafka/metric_reporting/`` — an accumulator gathers
query/produce/latency counters over a 20 s interval and hands a frozen
``Metrics`` object to each configured reporter (stdout / local file /
HTTP POST / Kafka), selected by dotted path (``reporter_base.py:13-24``).

Spark restatement: per-batch counters come from ``df.observe`` (computed
inside the same job — no second scan) or a ``StreamingQueryListener``;
reporters are the same strategy objects. HTTP/Kafka backends are plumbing
the environment lacks — the reporter protocol is what matters."""

from __future__ import annotations

import json
import sys
import time
from dataclasses import asdict, dataclass, field
from typing import TextIO

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

METRICS_REPORTING_INTERVAL_S = 20  # constants.py:8


@dataclass
class BatchMetrics:
    """The engine's per-interval metrics record (metrics.py:5-53 subset that
    applies to a batch engine)."""

    interval_start_ts: float
    batch_id: int
    rows: int = 0
    deletes: int = 0
    inserts: int = 0
    updates: int = 0
    snapshots: int = 0
    max_index: int | None = None
    batch_seconds: float = 0.0


class ReporterBase:
    """X2 (reporter_base.py:13-24): reporter strategy protocol."""

    def emit(self, metrics: BatchMetrics) -> None:  # pragma: no cover
        raise NotImplementedError


class StdoutReporter(ReporterBase):
    """stdout_reporter.py:17-21."""

    def __init__(self, stream: TextIO | None = None) -> None:
        self.stream = stream or sys.stdout

    def emit(self, metrics: BatchMetrics) -> None:
        json.dump(asdict(metrics), self.stream)
        self.stream.write("\n")


class LocalFileReporter(ReporterBase):
    """local_file_reporter.py:23-26: overwrite a JSON file per interval."""

    def __init__(self, path: str) -> None:
        self.path = path

    def emit(self, metrics: BatchMetrics) -> None:
        with open(self.path, "w") as f:
            json.dump(asdict(metrics), f)


class AccumulatingReporter(ReporterBase):
    """In-memory sink for tests / programmatic consumers."""

    def __init__(self) -> None:
        self.emitted: list[BatchMetrics] = []

    def emit(self, metrics: BatchMetrics) -> None:
        self.emitted.append(metrics)


def observed_batch(batch: DataFrame, op_col: str = "__operation", idx_col: str = "change_seq"):
    """Attach an Observation computing the interval counters INSIDE the
    batch's own job — the accumulator (accumulator.py:93-181) without a
    second scan. Returns (observed_df, observation)."""
    obs = Observation()
    observed = batch.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count_if(F.col(op_col) == 1).alias("deletes"),
        F.count_if(F.col(op_col) == 2).alias("inserts"),
        F.count_if(F.col(op_col) == 4).alias("updates"),
        F.count_if(F.col(op_col) == 0).alias("snapshots"),
        F.max(idx_col).alias("max_index"),
    )
    return observed, obs


def summarize(df: DataFrame, *aggs: Column) -> dict:
    """Named aggregates of ``df`` in ONE Spark job. A global ``df.agg`` needs
    an exchange to one partition, and under AQE that exchange runs as a job
    of its own; an Observation is merged on the driver instead, so a no-op
    write is the only job. On a cached ``df`` that job also fills the cache."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def report_batch(
    obs_values: dict,
    batch_id: int,
    batch_seconds: float,
    reporters: list[ReporterBase],
) -> BatchMetrics:
    m = BatchMetrics(
        interval_start_ts=time.time(),
        batch_id=batch_id,
        rows=obs_values["rows"],
        deletes=obs_values["deletes"],
        inserts=obs_values["inserts"],
        updates=obs_values["updates"],
        snapshots=obs_values["snapshots"],
        max_index=obs_values["max_index"],
        batch_seconds=batch_seconds,
    )
    for r in reporters:
        r.emit(m)
    return m


class HttpPostReporter(ReporterBase):
    """X2/S12 (``metric_reporting/http_post_reporter.py:29-45``): POST each
    interval's metrics to a configured URL with configured headers. Body is
    JSON by default, or a ``string.Template`` rendered with the metrics
    fields (the reference uses Jinja2; ``$field`` placeholders cover the
    same publish-to-a-gateway shape without the dependency).

    Like the reference, the POST runs on a daemon thread so a slow or dead
    endpoint never stalls the pipeline; failures are logged-and-dropped
    (metrics are lossy by contract). ``synchronous=True`` for tests."""

    def __init__(
        self,
        url: str,
        headers: dict[str, str] | None = None,
        template: str | None = None,
        timeout: float = 10.0,
        synchronous: bool = False,
    ) -> None:
        self.url = url
        self.headers = dict(headers or {})
        self.headers.setdefault("Content-Type", "application/json")
        self.template = template
        self.timeout = timeout
        self.synchronous = synchronous

    def _body(self, metrics: BatchMetrics) -> bytes:
        d = asdict(metrics)
        if self.template is not None:
            import string

            return string.Template(self.template).safe_substitute(
                {k: json.dumps(v) for k, v in d.items()}
            ).encode()
        return json.dumps(d).encode()

    def _post(self, body: bytes) -> None:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.url, data=body, headers=self.headers, method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                resp.read()
        except (urllib.error.URLError, OSError) as exc:
            print(f"HttpPostReporter: failed to post to {self.url}: {exc}", file=sys.stderr)

    def emit(self, metrics: BatchMetrics) -> None:
        body = self._body(metrics)
        if self.synchronous:
            self._post(body)
            return
        import threading

        t = threading.Thread(target=self._post, args=(body,), name="HttpPostReporter")
        t.daemon = True
        t.start()


DEFAULT_METRICS_TOPIC = "_cdc_to_kafka_metrics"  # kafka_reporter.py:16


class KafkaTopicReporter(ReporterBase):
    """X2/S12 (``metric_reporting/kafka_reporter.py:25-28``): publish each
    interval's metrics record to the metrics topic. The environment has no
    broker, so the topic is the engine's directory-backed topic abstraction
    (streaming.sinks) — one append-only jsonl log per topic, keyed by
    metrics namespace exactly as the reference keys its Avro message; a real
    deployment swaps ``_append`` for a producer.send on the same payload."""

    def __init__(
        self,
        root: str,
        topic: str = DEFAULT_METRICS_TOPIC,
        namespace: str = "cdc_to_kafka",
    ) -> None:
        import os

        self.topic_dir = os.path.join(root, topic)
        os.makedirs(self.topic_dir, exist_ok=True)
        self.log_path = os.path.join(self.topic_dir, "messages.jsonl")
        self.namespace = namespace

    def emit(self, metrics: BatchMetrics) -> None:
        record = {"key": {"metrics_namespace": self.namespace}, "value": asdict(metrics)}
        with open(self.log_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def read_back(self) -> list[dict]:
        """Test/consumer surface: the topic's messages in publish order."""
        with open(self.log_path) as f:
            return [json.loads(line) for line in f]


def load_reporters(spec: str) -> list[ReporterBase]:
    """X2 config surface: comma-separated reporter names
    (options.py:295-306's dotted-path loading, with built-in shorthands):
    ``stdout`` | ``file:<path>`` | ``memory`` | ``http:<url>`` |
    ``kafka:<root-dir>`` | any dotted ``pkg.mod.Class`` path."""
    out: list[ReporterBase] = []
    for name in filter(None, (s.strip() for s in spec.split(","))):
        if name == "stdout":
            out.append(StdoutReporter())
        elif name.startswith("file:"):
            out.append(LocalFileReporter(name[5:]))
        elif name == "memory":
            out.append(AccumulatingReporter())
        elif name.startswith(("http://", "https://")):
            out.append(HttpPostReporter(name))
        elif name.startswith("kafka:"):
            out.append(KafkaTopicReporter(name[6:]))
        else:
            import importlib

            mod, _, cls = name.rpartition(".")
            out.append(getattr(importlib.import_module(mod), cls)())
    return out


def make_progress_listener(collected: list):
    """X2 as a true StreamingQueryListener: capture per-batch progress events
    (rows/sec, batch duration, sink description) from live streaming
    queries — the deployment-mode reporter transport. Append-only into
    ``collected`` (or adapt to any ReporterBase)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            collected.append(("started", event.id))

        def onQueryProgress(self, event):
            p = event.progress
            collected.append(
                (
                    "progress",
                    {
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "duration_ms": p.batchDuration,
                    },
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            collected.append(("terminated", event.id))

    return _Listener()
