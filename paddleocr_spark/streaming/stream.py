"""Structured Streaming mode for the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.10 — no watermarks, no state);
its closest analogs are PDF page streaming (/root/reference/ppocr/utils/
utility.py:137-151) and the lazy ``predict_iter`` generator
(/root/reference/paddleocr/_pipelines/ocr.py:169-196). This module is the
forward bridge noted there: the SAME stateless stage functions wrapped as a
streaming job, because every turn is independent — extraction needs no
cross-batch state, watermark, or ordering guarantee beyond keys in the row.

Two modes:

- ``extract_stream``     — direct: readStream → extract (salted repartition +
  fused Arrow kernel; in-partition length sort is disabled — sorting an
  unbounded stream is undefined) → writeStream parquet, exactly-once via the
  streaming checkpoint.
- ``extract_foreach_batch`` — per-micro-batch delegation to the checkpointed
  batch sink, giving streaming ingestion the same bucket manifest / lineage
  metrics as the batch job (the Iceberg MERGE shape).

Global (conv_id, turn_idx) output ordering is a BATCH concept; a streaming
consumer re-orders per conversation at read time (the spans within each turn
are already internally ordered by the kernel — per-turn equality holds
row-by-row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..operators.extract import extract

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    r = spark.readStream.schema(TRANSCRIPT_DDL)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def extract_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    available_now: bool = True,
):
    """Streaming extraction → parquet sink. Returns the started query."""
    out = extract(stream_df, cfg=cfg)
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_turn_counts(
    stream_df: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window turn counts with a watermark for late data.

    The standard Structured Streaming shape (watermark + window + agg) over
    the transcript stream's ``ts`` column: counts turns per (window, role),
    tolerating ``watermark`` of lateness before state for a window is
    finalized and dropped. Append-mode compatible (emits only closed
    windows)."""
    from pyspark.sql import functions as F

    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "role",
            "n_turns",
        )
    )


def conversation_progress(stream_df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-conversation running progress
    via ``applyInPandasWithState`` (the engine's only cross-batch state; the
    reference has no streaming at all — SURVEY.md §2.10 — this is the
    ``applyInPandasWithState`` capability demonstrator for conversation-level
    aggregation over an unbounded transcript stream).

    Emits one update row per conversation per micro-batch:
    (conv_id, turns_seen, max_turn_idx) with state carried across batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_type = "conv_id string, turns_seen bigint, max_turn_idx int"
    state_type = "turns_seen bigint, max_turn_idx int"

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        turns, mx = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            turns += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
        state.update((turns, mx))
        yield pd.DataFrame(
            [{"conv_id": conv_id, "turns_seen": turns, "max_turn_idx": mx}]
        )

    return stream_df.groupBy("conv_id").applyInPandasWithState(
        fn, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def extract_foreach_batch(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = 16,
    available_now: bool = True,
):
    """Streaming ingestion through the checkpointed batch sink (manifest +
    lineage metrics per micro-batch)."""
    from ..sinks.checkpoint import run_extract_job

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one sub-table per micro-batch: bucket manifests are per-batch, so a
        # later batch never collides with (or skips because of) an earlier
        # batch's committed buckets; on Iceberg this is a plain MERGE instead
        run_extract_job(
            batch_df.sparkSession,
            batch_df,
            f"{out_dir}/batch={batch_id}",
            cfg=cfg,
            n_buckets=n_buckets,
            group_size=n_buckets,
            run_id=f"stream_{batch_id}",
        )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(stream_df: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on the turn key: late/replayed rows inside the
    watermark horizon are dropped exactly once (state for keys older than
    the watermark is evicted, bounding state size — the streaming form of
    the exact-dedup stage in operators/dedup.py). Use upstream of
    extract_stream so replays from an at-least-once source never pay the
    extraction kernel twice."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
