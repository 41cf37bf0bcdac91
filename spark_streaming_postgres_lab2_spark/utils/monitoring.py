"""Pipeline monitoring: batch metrics window, thresholds, alert
escalation, health summary.

Parity target: reference spark/monitoring/metrics.py
(BatchMetrics/BatchTracker :24-82,344-369; PipelineMonitor :131-341).
Semantics reproduced: rolling window (deque, default 100); validity
(<95%) and latency (>10 s) thresholds; WARNING -> ERROR escalation
after 3 consecutive breaches; error-concentration alert when one error
type is >= 10% of a batch; health summary HEALTHY/DEGRADED/NO_DATA.
"""

from __future__ import annotations

import time
from collections import deque
from dataclasses import dataclass, field
from typing import Any


@dataclass
class BatchMetrics:
    """The one record per epoch: ``operators.quality`` fills the counts
    and distributions, the sink router adds ``processing_seconds``."""

    batch_id: int
    total_rows: int
    valid_rows: int
    invalid_rows: int
    processing_seconds: float = 0.0
    late_arrival_count: int = 0
    null_counts: dict[str, int] = field(default_factory=dict)
    event_type_distribution: dict[str, int] = field(default_factory=dict)
    error_distribution: dict[str, int] = field(default_factory=dict)

    @property
    def validity_rate(self) -> float:
        return self.valid_rows / self.total_rows if self.total_rows else 1.0

    @property
    def error_rate(self) -> float:
        return self.invalid_rows / self.total_rows if self.total_rows else 0.0

    @property
    def throughput(self) -> float:
        return self.total_rows / self.processing_seconds if self.processing_seconds > 0 else 0.0

    def to_dict(self) -> dict[str, Any]:
        return {
            "batch_id": self.batch_id,
            "total_rows": self.total_rows,
            "valid_rows": self.valid_rows,
            "invalid_rows": self.invalid_rows,
            "validity_rate": self.validity_rate,
            "error_rate": self.error_rate,
            "throughput_rps": self.throughput,
            "processing_seconds": self.processing_seconds,
            "late_arrival_count": self.late_arrival_count,
            "null_counts": dict(self.null_counts),
            "event_type_distribution": dict(self.event_type_distribution),
            "error_distribution": dict(self.error_distribution),
        }


class BatchTracker:
    """Context manager timing a batch (reference metrics.py:344-369)."""

    def __init__(self, batch_id: int):
        self.batch_id = batch_id
        self.started = 0.0
        self.elapsed = 0.0

    def __enter__(self) -> "BatchTracker":
        self.started = time.monotonic()
        return self

    def __exit__(self, *exc: Any) -> None:
        self.elapsed = time.monotonic() - self.started


@dataclass
class Alert:
    level: str  # WARNING | ERROR
    kind: str
    message: str
    batch_id: int


class PipelineMonitor:
    def __init__(
        self,
        min_validity_rate: float = 0.95,
        max_latency_seconds: float = 10.0,
        error_concentration_threshold: float = 0.10,
        escalation_breaches: int = 3,
        window_size: int = 100,
    ):
        self.min_validity_rate = min_validity_rate
        self.max_latency_seconds = max_latency_seconds
        self.error_concentration_threshold = error_concentration_threshold
        self.escalation_breaches = escalation_breaches
        self.window: deque[BatchMetrics] = deque(maxlen=window_size)
        self.alerts: list[Alert] = []
        self._consecutive_validity_breaches = 0
        self._consecutive_latency_breaches = 0

    def record(self, metrics: BatchMetrics) -> list[Alert]:
        """Record one batch; return alerts raised by it."""
        self.window.append(metrics)
        raised: list[Alert] = []

        if metrics.validity_rate < self.min_validity_rate:
            self._consecutive_validity_breaches += 1
            level = (
                "ERROR"
                if self._consecutive_validity_breaches >= self.escalation_breaches
                else "WARNING"
            )
            raised.append(
                Alert(
                    level,
                    "low_validity",
                    f"validity {metrics.validity_rate:.2%} < {self.min_validity_rate:.0%} "
                    f"({self._consecutive_validity_breaches} consecutive)",
                    metrics.batch_id,
                )
            )
        else:
            self._consecutive_validity_breaches = 0

        if metrics.processing_seconds > self.max_latency_seconds:
            self._consecutive_latency_breaches += 1
            level = (
                "ERROR"
                if self._consecutive_latency_breaches >= self.escalation_breaches
                else "WARNING"
            )
            raised.append(
                Alert(
                    level,
                    "high_latency",
                    f"batch took {metrics.processing_seconds:.1f}s > "
                    f"{self.max_latency_seconds:.1f}s",
                    metrics.batch_id,
                )
            )
        else:
            self._consecutive_latency_breaches = 0

        if metrics.total_rows > 0:
            for tag, count in metrics.error_distribution.items():
                if count / metrics.total_rows >= self.error_concentration_threshold:
                    raised.append(
                        Alert(
                            "WARNING",
                            "error_concentration",
                            f"error '{tag}' is {count / metrics.total_rows:.1%} of batch",
                            metrics.batch_id,
                        )
                    )

        self.alerts.extend(raised)
        return raised

    def health_summary(self) -> dict[str, Any]:
        if not self.window:
            return {"status": "NO_DATA", "batches": 0}
        total = sum(m.total_rows for m in self.window)
        valid = sum(m.valid_rows for m in self.window)
        avg_validity = valid / total if total else 1.0
        avg_latency = sum(m.processing_seconds for m in self.window) / len(self.window)
        status = (
            "HEALTHY"
            if avg_validity >= self.min_validity_rate
            and avg_latency <= self.max_latency_seconds
            else "DEGRADED"
        )
        return {
            "status": status,
            "batches": len(self.window),
            "total_rows": total,
            "avg_validity_rate": avg_validity,
            "avg_latency_seconds": avg_latency,
            "recent_alerts": len(self.alerts[-10:]),
        }
