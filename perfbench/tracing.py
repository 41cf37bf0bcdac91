"""Spans around the calls the streaming sink makes into each layer.

Installed only in the traced run.  Everything here wraps public seams
of ``streaming.sinks``: the router's ``retry`` and ``monitor`` fields,
the router itself as the ``foreachBatch`` callable, and the two quality
functions the sink module calls.  Spans are kept in memory and reduced
after the run.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

from spark_streaming_postgres_lab2_spark.streaming import sinks


@dataclass
class Spans:
    """``(name, batch_id) -> seconds``, summed over calls."""

    seconds: dict[tuple[str, int], float] = field(default_factory=lambda: defaultdict(float))
    counts: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    current_batch: int = -1

    def add(self, name: str, batch_id: int, t0: float) -> None:
        self.seconds[(name, batch_id)] += time.perf_counter() - t0

    def per_batch_ms(self, name: str, batches: list[int]) -> float:
        """Mean milliseconds per batch in ``batches``."""
        if not batches:
            return 0.0
        return 1000.0 * sum(self.seconds.get((name, b), 0.0) for b in batches) / len(batches)


@dataclass
class TimedRetry:
    """Stands in the router's ``retry`` field: times each write, keyed by
    the sink path it targets, and counts attempts and retries of the
    wrapped policy."""

    inner: Any  # the router's RetryPolicy
    spans: Spans
    labels: dict[str, str]  # sink path -> span name

    def execute(self, fn: Callable, *args: Any, **kwargs: Any) -> Any:
        calls = 0

        def attempt(*a: Any, **kw: Any) -> Any:
            nonlocal calls
            calls += 1
            return fn(*a, **kw)

        t0 = time.perf_counter()
        try:
            return self.inner.execute(attempt, *args, **kwargs)
        finally:
            path = args[1] if len(args) > 1 else ""
            self.spans.add(self.labels.get(path, "sinks.write_other"), self.spans.current_batch, t0)
            self.spans.counts["retry.attempts"] += calls
            self.spans.counts["retry.retries"] += max(0, calls - 1)


@dataclass
class TimedMonitor:
    """Stands in the router's ``monitor`` field."""

    inner: Any  # the router's PipelineMonitor
    spans: Spans

    def record(self, metrics: Any) -> list:
        t0 = time.perf_counter()
        alerts = self.inner.record(metrics)
        self.spans.add("monitoring.record", self.spans.current_batch, t0)
        self.spans.counts["monitoring.alerts"] += len(alerts)
        return alerts


@dataclass
class TimedRouter:
    """The ``foreachBatch`` callable: times the whole router call."""

    inner: Any  # BatchRouter
    spans: Spans

    def __call__(self, batch_df: Any, batch_id: int) -> None:
        self.spans.current_batch = batch_id
        t0 = time.perf_counter()
        try:
            self.inner(batch_df, batch_id)
        finally:
            self.spans.add("sinks.epoch", batch_id, t0)


def _timed(fn: Callable, name: str, spans: Spans) -> Callable:
    def wrapper(*args: Any, **kwargs: Any) -> Any:
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            spans.add(name, spans.current_batch, t0)

    return wrapper


class SinkTracing:
    """Context manager: wraps ``pipeline``'s router and the sink module's
    quality functions for the duration of the block."""

    CHILDREN = ("quality.metrics", "quality.metrics_row", "sinks.write_valid",
                "sinks.write_dead", "sinks.write_metrics", "monitoring.record")

    def __init__(self, pipeline: Any):
        self.pipeline = pipeline
        self.spans = Spans()

    def __enter__(self) -> "SinkTracing":
        router = self.pipeline.router
        self._saved = (router.retry, router.monitor, self.pipeline.router,
                       sinks.calculate_quality_metrics, sinks.metrics_row_df)
        labels = {
            router.sink.events_path: "sinks.write_valid",
            router.sink.dead_letter_path: "sinks.write_dead",
            router.sink.metrics_path: "sinks.write_metrics",
        }
        router.retry = TimedRetry(router.retry, self.spans, labels)
        router.monitor = TimedMonitor(router.monitor, self.spans)
        sinks.calculate_quality_metrics = _timed(
            sinks.calculate_quality_metrics, "quality.metrics", self.spans)
        sinks.metrics_row_df = _timed(sinks.metrics_row_df, "quality.metrics_row", self.spans)
        self.pipeline.router = TimedRouter(router, self.spans)
        return self

    def __exit__(self, *exc: Any) -> None:
        router = self._saved[2]
        router.retry, router.monitor, self.pipeline.router = self._saved[:3]
        sinks.calculate_quality_metrics, sinks.metrics_row_df = self._saved[3:]

    def layer_metrics(self, batches: list[int]) -> dict[str, float]:
        """Per-batch means over ``batches`` (the data epochs measured)."""
        s = self.spans
        out = {f"{name}_ms": s.per_batch_ms(name, batches) for name in (
            "sinks.epoch", "sinks.write_valid", "sinks.write_dead", "sinks.write_metrics",
            "quality.metrics", "quality.metrics_row")}
        children = sum(s.per_batch_ms(name, batches) for name in self.CHILDREN)
        out["sinks.self_ms"] = out["sinks.epoch_ms"] - children
        for name in ("retry.attempts", "retry.retries", "monitoring.alerts"):
            out[name] = float(s.counts.get(name, 0))
        return out
