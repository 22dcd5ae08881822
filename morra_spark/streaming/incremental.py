"""Incremental transcript ingest — Structured Streaming tier.

SURVEY.md §2 B-S5 / B-T1–T4. The batch pipeline stays the primary path
(the checkpoint table makes it resumable on its own); this module covers
continuous arrival: new transcript files (or an Iceberg streaming read on
a real cluster) flow through the SAME fused annotate stage — mapInPandas
is fully supported inside readStream — and triples append exactly-once
per micro-batch via foreachBatch + the lineage checkpoint.

Design points for 10^12-turn scale:
* watermark on ``ts`` bounds all windowed state; late turns beyond the
  watermark are dropped (and counted) rather than growing state forever;
* stateful dedup uses ``dropDuplicatesWithinWatermark`` on
  (conv_id, turn_idx) so replayed INPUT files don't double-emit triples;
* the SINK side is made idempotent separately (input dedup cannot help
  when a micro-batch retries after a partial write): each micro-batch
  writes to its own ``batch_id=<id>`` directory with mode=overwrite, so
  a re-executed batch replaces its previous (possibly partial) output
  instead of appending a second copy. Structured Streaming re-runs a
  failed batch under the SAME batch_id, which is exactly the key the
  sink overwrites on — together this gives end-to-end exactly-once.

All entry points accept a built DataFrame so unit tests can drive them
with ``trigger(availableNow=True)`` on a file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
                     " tool string, ts timestamp")


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 64) -> DataFrame:
    """B-S5: file-based streaming source over the transcript layout.
    On a cluster with the Iceberg runtime this becomes
    ``spark.readStream.format('iceberg').load(table)`` — same schema,
    same downstream operators."""
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(path))


def with_late_data_bound(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """B-T1: watermark on event time; bounds every stateful op downstream."""
    return stream.withWatermark("ts", delay)


def dedup_turns(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """B-T4: exactly-once turn admission across file replays — state is
    bounded by the watermark, keyed on the turn's natural identity."""
    return (with_late_data_bound(stream, delay)
            .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))


def windowed_turn_metrics(stream: DataFrame, every: str = "5 minutes",
                          delay: str = "10 minutes") -> DataFrame:
    """B-T2: tumbling-window throughput metrics (turns + convs per window
    per role) — the live half of the lineage/metrics mandate."""
    return (with_late_data_bound(stream, delay)
            .groupBy(F.window("ts", every).alias("w"), "role")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.approx_count_distinct("conv_id").alias("n_convs"))
            .select(F.col("w.start").alias("w_start"),
                    F.col("w.end").alias("w_end"),
                    "role", "n_turns", "n_convs"))


def sessionized_conversations(stream: DataFrame, gap: str = "30 minutes",
                              delay: str = "10 minutes") -> DataFrame:
    """B-T3: session windows by inactivity gap per conversation."""
    return (with_late_data_bound(stream, delay)
            .groupBy(F.session_window("ts", gap).alias("s"), "conv_id")
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select("conv_id", F.col("s.start").alias("s_start"),
                    F.col("s.end").alias("s_end"), "n_turns"))


def make_batch_writer(out_dir: str, candidates, model_bc,
                      n_parts: int = 64):
    """Idempotent-per-micro-batch triple sink for ``foreachBatch``.

    Takes the RAW (deduped) transcript batch and annotates INSIDE the
    batch function: the alignment branch consumes the raw batch a second
    time, and keeping annotation out of the shared lineage means only
    the cheap source re-scan duplicates, never the perceptron cascade
    (which runs exactly once per batch, on content turns only).

    Output layout: ``{out_dir}/triples/batch_id=<id>/part_key=<k>/...`` —
    the batch_id directory is OVERWRITTEN wholesale, so a batch retried
    after a partial write (executor loss, job restart mid-commit)
    replaces its own output rather than double-appending. Readers load
    ``{out_dir}/triples`` and see batch_id as a partition column.

    Tool turns are aligned WITHIN the micro-batch (the batch rule,
    ``pipeline.align_tool_turns``); a tool turn whose invoking
    turn landed in an earlier batch emits nothing HERE — cross-batch
    alignment is provided by the keyed-state operator in
    ``streaming.stateful`` (``applyInPandasWithState`` on conv_id).
    """
    from pyspark.sql import DataFrame

    from morra_spark.plans.pipeline import align_tool_turns, content_triples

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        content = content_triples(batch_df, model_bc, candidates, n_parts)
        out = align_tool_turns(content, batch_df, n_parts).drop("is_tool")
        (out.repartition("part_key")
            .write.mode("overwrite").partitionBy("part_key")
            .parquet(f"{out_dir}/triples/batch_id={batch_id}"))

    return write_batch


def start_incremental_pipeline(spark: SparkSession, *, transcripts_path: str,
                               out_dir: str, model_path: str,
                               checkpoint_location: str,
                               n_parts: int = 64,
                               trigger_available_now: bool = False):
    """Streaming flagship: stream → watermark+dedup → fused Arrow
    annotate → linking → triples appended per micro-batch.

    The per-batch body is the BATCH pipeline's transform — one code path.
    Returns the StreamingQuery (caller awaits/stops it).
    """
    from morra_spark.model_artifact import KGModel
    from morra_spark.plans.pipeline import entity_candidates_df

    model = KGModel.load(model_path)
    model_bc = spark.sparkContext.broadcast(model)
    candidates = entity_candidates_df(spark, model)

    stream = dedup_turns(read_transcript_stream(spark, transcripts_path))

    write_batch = make_batch_writer(out_dir, candidates, model_bc, n_parts)

    writer = (stream.writeStream
              .option("checkpointLocation", checkpoint_location)
              .foreachBatch(write_batch)
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
