"""Per-batch data-quality metrics in ONE grouped aggregation.

Parity target: reference ``calculate_quality_metrics``
(spark_streaming_to_postgres.py:239-276), which issues ~10 separate
actions per batch (count, per-column null counts, late count, groupBy
collect, plus two more counts in the writer M:384-385).  Same observable
metrics here, from a single ``groupBy(event_type, is_valid,
validation_errors)`` whose groups carry the row, late and per-column
null counts; the few group rows are folded on the driver into totals
and distributions.  One job with map-side partial aggregation instead
of ten full scans per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils.monitoring import BatchMetrics


def _count_if(cond) -> F.Column:  # type: ignore[name-defined]
    return F.sum(F.when(cond, 1).otherwise(0))


def calculate_quality_metrics(
    df: DataFrame,
    batch_id: int = 0,
    null_check_columns: list[str] | None = None,
) -> BatchMetrics:
    """Compute the full reference metric set in one job.

    ``df`` must already carry ``is_valid`` (and optionally
    ``is_late_arrival`` / ``validation_errors``).
    """
    null_cols = [
        c
        for c in (null_check_columns or ["user_id", "session_id", "category", "quantity"])
        if c in df.columns
    ]
    late = F.col("is_late_arrival") if "is_late_arrival" in df.columns else F.lit(False)
    errors = (
        F.col("validation_errors")
        if "validation_errors" in df.columns
        else F.lit(None).cast("string").alias("validation_errors")
    )
    groups = (
        df.groupBy("event_type", "is_valid", errors)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            _count_if(late).alias("late"),
            *[_count_if(F.col(c).isNull()).alias(f"null_{c}") for c in null_cols],
        )
        .collect()
    )

    m = BatchMetrics(batch_id, 0, 0, 0, null_counts=dict.fromkeys(null_cols, 0))
    for g in groups:
        n = g["rows"]
        m.total_rows += n
        if g["is_valid"]:
            m.valid_rows += n
        else:
            m.invalid_rows += n
        m.late_arrival_count += g["late"]
        for c in null_cols:
            m.null_counts[c] += g[f"null_{c}"]
        et = g["event_type"] if g["event_type"] is not None else "null"
        m.event_type_distribution[et] = m.event_type_distribution.get(et, 0) + n
        tag = g["validation_errors"]
        if tag is not None:
            m.error_distribution[tag] = m.error_distribution.get(tag, 0) + n
    return m


def metrics_row_df(spark, metrics: BatchMetrics) -> DataFrame:
    """One-row DataFrame matching the reference's data_quality_metrics
    sink schema (spark_streaming_to_postgres.py:449-457), built from
    literals so the row never leaves the JVM."""
    values = [
        ("batch_id", metrics.batch_id, "long"),
        ("total_rows", metrics.total_rows, "long"),
        ("valid_rows", metrics.valid_rows, "long"),
        ("invalid_rows", metrics.invalid_rows, "long"),
        ("validity_rate", float(metrics.validity_rate), "double"),
        ("late_arrival_count", metrics.late_arrival_count, "long"),
    ]
    return spark.range(1, numPartitions=1).select(
        *[F.lit(v).cast(t).alias(name) for name, v, t in values],
        F.current_timestamp().alias("recorded_at"),
    )
