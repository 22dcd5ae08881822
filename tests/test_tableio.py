"""TableIO seam: parquet path today, clear failure for catalog tables
without an Iceberg runtime."""

from __future__ import annotations

import pytest

from morra_spark.sources.tableio import (iceberg_available, read_table,
                                         write_partitioned)


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "id % 4 as part")
    out = str(tmp_path / "t")
    write_partitioned(df, out, "part", mode="overwrite")
    back = read_table(spark, out)
    assert back.count() == 100
    assert set(back.columns) == {"id", "part"}


def test_catalog_table_fails_fast_without_iceberg(spark):
    assert not iceberg_available(spark)
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        read_table(spark, "cat.db.transcripts")
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_partitioned(spark.range(1), "cat.db.t", "id")


def test_merge_upsert_parquet_emulation(spark, tmp_path):
    """Keyed upsert semantics through the seam (parquet emulation):
    insert, update-in-place by key, idempotent re-apply — the same
    contract the Iceberg MERGE INTO path provides atomically."""
    from morra_spark.sources.tableio import merge_upsert

    t = str(tmp_path / "upsert")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    merge_upsert(base, t, ["k"])  # first write: plain insert
    assert {(r.k, r.v) for r in spark.read.parquet(t).collect()} \
        == {(1, "a"), (2, "b"), (3, "c")}

    delta = spark.createDataFrame(
        [(2, "B2"), (4, "d")], "k long, v string")
    merge_upsert(delta, t, ["k"])  # update k=2, insert k=4
    got = {(r.k, r.v) for r in spark.read.parquet(t).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}

    merge_upsert(delta, t, ["k"])  # idempotent re-apply (batch retry)
    got2 = {(r.k, r.v) for r in spark.read.parquet(t).collect()}
    assert got2 == got

    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        merge_upsert(delta, "cat.db.triples", ["k"])


def test_fs_exists_resolves_schemes_like_spark(spark, tmp_path):
    """ADVICE r4 medium: fresh-run detection must go through the Hadoop
    FileSystem API so URI-schemed paths (the ones _is_path admits:
    file:/s3a:/hdfs:) probe correctly — os.path.exists is always False
    for them, which would re-append backfills and recompute every
    checkpointed part on any production resume."""
    import os

    from morra_spark.sources.tableio import fs_exists

    d = str(tmp_path / "probe")
    assert not fs_exists(spark, d)
    assert not fs_exists(spark, "file:" + d)
    os.makedirs(d)
    assert fs_exists(spark, d)
    # the scheme-qualified form os.path.exists would get WRONG
    assert fs_exists(spark, "file:" + d)
    assert not os.path.exists("file:" + d)


def test_read_existing_parquet_fresh_vs_crashed_first_write(spark, tmp_path):
    """ADVICE r4 low: a crash during the very first write can leave the
    dir existing but schema-less (only _temporary/). That must read as
    'fresh run' (None), not crash the resume; real data must read; a
    corrupt EXISTING table must still propagate."""
    import os

    from morra_spark.sources.tableio import read_existing_parquet

    missing = str(tmp_path / "never_written")
    assert read_existing_parquet(spark, missing) is None

    crashed = str(tmp_path / "crashed_first_write")
    os.makedirs(f"{crashed}/_temporary/0")
    assert read_existing_parquet(spark, crashed) is None

    ok = str(tmp_path / "ok")
    spark.range(5).write.parquet(ok)
    got = read_existing_parquet(spark, ok)
    assert got is not None and got.count() == 5


def test_checkpoint_resume_after_first_write_crash_is_fresh(spark, tmp_path):
    """plans.checkpoint.read_done_parts on an existing-but-empty ckpt dir
    (first-checkpoint-write crash) is a fresh run — no manual cleanup
    needed (ADVICE r4 low)."""
    import os

    from morra_spark.plans.checkpoint import read_done_parts

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(f"{ckpt}/_temporary")
    done = read_done_parts(spark, ckpt, "run1", "stage1")
    assert done.count() == 0


def test_sink_read_lists_part_dirs_on_the_driver(spark, tmp_path):
    """Reading a 64-part_key sink lists its partition directories on the
    driver: at most one Spark job of one task (the footer schema read),
    not a 64-task parallel listing job on every read of a sink."""
    from pyspark.sql import functions as F

    sink = str(tmp_path / "sink")
    spark.range(640).select((F.col("id") % 64).cast("int").alias("part_key"),
                            "id").write.partitionBy("part_key").parquet(sink)
    sc = spark.sparkContext
    group = "test_sink_read_listing"
    sc.setJobGroup(group, "read a 64-part sink")
    try:
        df = spark.read.parquet(sink)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.columns == ["id", "part_key"]
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job info is async
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = [tracker.getStageInfo(sid).numTasks
             for jid in jobs for sid in tracker.getJobInfo(jid).stageIds]
    assert len(jobs) <= 1 and sum(tasks) <= 1, (jobs, tasks)


def test_merge_upsert_existing_table_read_failure_propagates(spark, tmp_path):
    """ADVICE r3 medium: a read failure of an EXISTING target must NOT be
    treated as 'first write' — that path rmtree'd the target and replaced
    it with only the new rows, silently losing all prior data. A corrupt
    existing table now raises; the target directory is left untouched."""
    import os

    from morra_spark.sources.tableio import merge_upsert

    t = str(tmp_path / "corrupt")
    os.makedirs(t)
    with open(f"{t}/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet footer")
    delta = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(Exception):
        merge_upsert(delta, t, ["k"])
    # prior (corrupt-but-existing) data was not clobbered by the upsert
    assert os.path.exists(f"{t}/part-00000.parquet")
