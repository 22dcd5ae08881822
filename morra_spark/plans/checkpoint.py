"""Checkpoint / lineage table + idempotent per-partition resume.

Mandated by the north rule ("every stage writes per-partition lineage +
counters to a checkpoint table so the pipeline resumes idempotently
mid-run"); no analogue exists in the reference (SURVEY.md §2 B-S3/J5/J3).

Design: every stage's output is partitioned by ``part_key =
pmod(xxhash64(conv_id), P)``. A stage run commits data via DYNAMIC
PARTITION OVERWRITE, then appends one checkpoint row per part_key with
row counters and an input fingerprint. Resume = read the checkpoint,
take the latest status per (stage, part_key) **as-of now** (window
row_number — B-J5), collect those done part_keys to the driver and
select only the pending ones from the input with a static ``isin``
filter before recomputing; finished partitions are never reread or
rewritten, and a part_key that crashed between its data write and its
checkpoint row is *replaced* (not double-appended) on resume, so
re-running at any interruption point converges to the uninterrupted
output. Re-running a completed run is a no-op.

The fingerprint is an order-insensitive xxhash64-xor over the
partition's input rows, stable under row reordering. The caller
computes it ONCE per run (one aggregate, at most ``n_parts`` rows
collected) and hands the same rows to every stage it runs over that
input, so no stage rescans its input just to fingerprint it.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from morra_spark.sources import tableio

CHECKPOINT_SCHEMA = ("run_id string, stage string, part_key int, status string,"
                     " n_in long, n_out long, input_fingerprint string, ts timestamp")


def add_part_key(df: DataFrame, n_parts: int, col: str = "conv_id") -> DataFrame:
    return df.withColumn(
        "part_key", F.pmod(F.xxhash64(F.col(col)), F.lit(n_parts)).cast("int"))


def partition_fingerprints(df: DataFrame) -> DataFrame:
    """(part_key, n_in, input_fingerprint): order-insensitive row-hash xor."""
    cols = [c for c in df.columns if c != "part_key"]
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    # bit_xor is order-insensitive and associative -> partial aggregation
    return (df.groupBy("part_key")
              .agg(F.count(F.lit(1)).alias("n_in"),
                   F.bit_xor(h).cast("string").alias("input_fingerprint")))


def read_done_parts(spark: SparkSession, ckpt_dir: str, run_id: str,
                    stage: str) -> DataFrame:
    """Latest checkpoint state per part_key (as-of join, B-J5) filtered to
    status='done'. Empty DataFrame when no checkpoint exists yet."""
    from pyspark.sql.window import Window

    # only a genuinely absent (or crashed-before-first-commit, i.e.
    # schema-less) checkpoint dir means 'fresh run': a transient read
    # failure of an EXISTING checkpoint would silently re-run every
    # part — harmless for correctness (the sink overwrites per
    # part_key) but a full-corpus recompute at 100 TB, so it raises.
    # Existence goes through the Hadoop FS API so remote checkpoint
    # dirs (s3a:/hdfs:) resume instead of recomputing (ADVICE r4).
    ckpt = tableio.read_existing_parquet(spark, ckpt_dir)
    if ckpt is None:
        # built on the JVM: a list-based createDataFrame parallelizes a
        # Python RDD, starting Python workers on every fresh run
        return spark.range(0).select(F.col("id").cast("int").alias("part_key"))
    w = Window.partitionBy("part_key").orderBy(F.col("ts").desc())
    return (ckpt.filter((F.col("run_id") == run_id) & (F.col("stage") == stage))
                .withColumn("rn", F.row_number().over(w))
                .filter((F.col("rn") == 1) & (F.col("status") == "done"))
                .select("part_key"))


def write_checkpoint(spark: SparkSession, ckpt_dir: str, run_id: str, stage: str,
                     stats: DataFrame) -> None:
    """stats: (part_key, n_in, n_out, input_fingerprint) → append rows."""
    # timestamp_micros builds the timestamp from an epoch-micros long
    # directly (code-review r5: the old long->timestamp cast interprets
    # the value as SECONDS, saturates, and a cast-back/divide round
    # trip froze every row at the same 1970 constant — breaking the
    # as-of resume ordering and all lineage timestamps)
    (stats.select(
        F.lit(run_id).alias("run_id"), F.lit(stage).alias("stage"),
        "part_key", F.lit("done").alias("status"),
        "n_in", "n_out", "input_fingerprint",
        F.timestamp_micros(
            F.lit(int(time.time() * 1_000_000))).alias("ts"))
        .write.mode("append").parquet(ckpt_dir))


def run_stage(spark: SparkSession, *, input_df: DataFrame,
              fingerprints: list[Row], stage: str, run_id: str,
              out_dir: str, ckpt_dir: str, transform) -> None:
    """Execute one resumable stage, idempotent across mid-stage crashes.

    ``input_df`` must already carry ``part_key``; ``fingerprints`` are
    the collected ``partition_fingerprints(input_df)`` rows (the caller
    computes them once per run and passes the same rows to every stage
    over that input). ``transform(df, pending_keys) -> df`` must
    preserve ``part_key`` and be deterministic given its input partition
    (the pipeline stages are).

    Bookkeeping stays on the driver: the done part_keys (per checkpoint)
    are collected into a set, and the pending input is ``input_df``
    under a STATIC ``isin(pending_keys)`` filter. ``pending_keys`` also
    lets a transform statically prune any side input partitioned by
    part_key — an ``isin`` literal filter is guaranteed partition
    pruning, where a left-semi join would rely on dynamic partition
    pruning firing for a file source (VERDICT r2 #3).

    Crash-safety contract: output is written with DYNAMIC PARTITION
    OVERWRITE (only the part_key directories present in this run's output
    are replaced; finished partitions are untouched). Data lands BEFORE
    the checkpoint row, so a crash between the two leaves a partition
    with data but no 'done' record — the resume then re-runs that
    part_key and *replaces* its directory with identical content instead
    of appending a duplicate. Re-running a completed run is a no-op.

    Counters: ``n_out`` comes from reading back ONLY the partitions this
    run just wrote (explicit ``part_key`` filter → partition pruning to
    those directories; the count aggregates parquet footer row counts —
    no historical output is ever rescanned, unlike a bare
    ``read.parquet(out_dir)`` which at 100 TB would re-read every byte
    ever written on every stage run). The per-part counts are collected
    and the checkpoint rows built on the driver from them and the
    fingerprint rows.
    """
    import pandas as pd

    done = {r.part_key
            for r in read_done_parts(spark, ckpt_dir, run_id, stage).collect()}
    fps = sorted((r for r in fingerprints if r.part_key not in done),
                 key=lambda r: r.part_key)
    if not fps:
        return  # everything done — resume is a no-op
    pending_keys = [r.part_key for r in fps]
    pending = input_df.filter(F.col("part_key").isin(pending_keys))
    out = transform(pending, pending_keys)
    (out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_key").parquet(out_dir))
    # a stage whose ENTIRE output is empty on a fresh run writes no
    # parquet at all — a bare read.parquet would raise and wedge the
    # stage forever (data written, checkpoint row never reached, so
    # every resume re-crashes identically; code-review r5). An
    # absent/schema-less out_dir is the legitimate all-empty case:
    # n_out = 0 for every pending key, and the checkpoint row MUST
    # still be written so the resume converges.
    written = tableio.read_existing_parquet(spark, out_dir)
    n_out = {} if written is None else {
        r.part_key: r.n_out
        for r in (written.filter(F.col("part_key").isin(pending_keys))
                  .groupBy("part_key")
                  .agg(F.count(F.lit(1)).alias("n_out")).collect())}
    # a pandas frame becomes a LocalRelation under Arrow: no Python RDD
    stats = spark.createDataFrame(pd.DataFrame({
        "part_key": pending_keys,
        "n_in": [r.n_in for r in fps],
        "n_out": [n_out.get(k, 0) for k in pending_keys],
        "input_fingerprint": [r.input_fingerprint for r in fps]}),
        "part_key int, n_in long, n_out long, input_fingerprint string")
    write_checkpoint(spark, ckpt_dir, run_id, stage, stats)


def lineage_report(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """B-A4 metrics rollup over the checkpoint table: row counters by
    (run_id, stage), by run_id, and grand total — the per-run progress /
    throughput report the north rule's "per-partition lineage + metrics"
    mandate asks for. NULL grouping levels are labelled 'ALL'."""
    ckpt = spark.read.parquet(ckpt_dir)
    return (ckpt.rollup("run_id", "stage")
            .agg(F.count(F.lit(1)).alias("n_partitions"),
                 F.sum("n_in").alias("rows_in"),
                 F.sum("n_out").alias("rows_out"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"))
            .select(F.coalesce("run_id", F.lit("ALL")).alias("run_id"),
                    F.coalesce("stage", F.lit("ALL")).alias("stage"),
                    "n_partitions", "rows_in", "rows_out",
                    "first_ts", "last_ts")
            .orderBy("run_id", "stage"))


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
