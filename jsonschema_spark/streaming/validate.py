"""Structured Streaming validation: the same compiled TableSpec plan applied
to an unbounded stream, with watermarked windowed verdict aggregation and
stateful streaming dedup.

The reference validates one document per call (/root/reference/validate.go:15);
a stream is its natural unbounded generalization: the same per-row verdict
projection (pure, stateless, codegen'd) rides readStream -> writeStream
unchanged. Only the *table-scope* checks change shape:

- verdict aggregation becomes a watermarked tumbling-window aggregate
  (late rows beyond the watermark are dropped, exactly like a lineage unit
  closing);
- uniqueness becomes streaming dropDuplicates within the watermark (state
  store bounded by the watermark horizon — required at 10^12-row scale;
  unbounded keys would OOM the state store).

Checkpointing is Spark's own streaming checkpoint (offsets + state), which
is the streaming twin of the batch job's lineage/resume contract.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jsonschema_spark.plans.job import ValidationJob
from jsonschema_spark.plans.plan import CompiledPlan, failed_checks, verdict_counts


def annotate_stream(
    stream_df: DataFrame, plan: CompiledPlan, dims: Optional[dict] = None
) -> DataFrame:
    """Per-row verdict columns on a streaming DataFrame — identical plan to
    the batch path (ValidationJob.annotate is stateless projections, legal
    on streams)."""
    job = ValidationJob(plan, dims=dims or {})
    return job.annotate(stream_df)


def windowed_verdicts(
    annotated: DataFrame,
    ts_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window verdict summary: (window, n_rows, n_valid,
    fail_<check>...). Watermark bounds state and admits late data up to the
    horizon; output mode `append` emits each window once it closes."""
    return (
        annotated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"))
        .agg(*verdict_counts(annotated))
    )


def stream_violations(annotated: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Violation rows (id, check) for failing rows only — append-mode safe
    (stateless filter + explode)."""
    return (
        annotated.select(
            F.col(id_col).alias("id"), failed_checks(annotated).alias("failed")
        )
        .filter(F.size("failed") > 0)
        .select("id", F.explode("failed").alias("check"))
    )


def streaming_dedup(
    stream_df: DataFrame, key: str, ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming uniqueness enforcement: keep the first row per key within
    the watermark horizon. State size is bounded by (keys arriving within
    the horizon), not total history — the only shape that survives an
    unbounded stream."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicates([key])


def run_to_parquet(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
):
    """Drain the stream to parquet with a checkpoint (resume = rerun with
    the same checkpoint_dir; Spark replays only unprocessed offsets)."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    query.awaitTermination()
    return query
