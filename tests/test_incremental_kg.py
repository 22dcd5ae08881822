"""Incremental KG maintenance (plans/incremental_kg.py): the CDC-driven
partition recompute must be row-identical to a full rebuild over the new
corpus — including removed conversations whose partitions must be
physically cleared, and partitions the new corpus leaves empty."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _collect_triples(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/triples")
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols)
                  for r in df.select(*cols).collect())


def _evolve(spark, fixture_dir, v2_dir, removed, truncated, added_src):
    """Derive transcript corpus v2 from v1: drop ``removed`` convs,
    drop the last turn of ``truncated`` convs, clone ``added_src``
    convs under fresh conv_ids."""
    src = spark.read.parquet(f"{fixture_dir}/transcripts")
    kept = src.filter(~F.col("conv_id").isin(removed))
    last = (kept.groupBy("conv_id")
            .agg(F.max("turn_idx").alias("last_idx")))
    trunc = (kept.join(last, "conv_id")
             .filter(~(F.col("conv_id").isin(truncated)
                       & (F.col("turn_idx") == F.col("last_idx"))))
             .drop("last_idx"))
    clones = (src.filter(F.col("conv_id").isin(added_src))
              .withColumn("conv_id", F.concat(F.col("conv_id"),
                                              F.lit("_clone"))))
    trunc.unionByName(clones).write.mode("overwrite").parquet(v2_dir)


N_PARTS = 16


def test_incremental_equals_full_rebuild(spark, fixture_dir, model_path,
                                         tmp_path):
    from morra_spark.plans import checkpoint as CK
    from morra_spark.plans.incremental_kg import run_incremental
    from morra_spark.plans.pipeline import run_pipeline

    src = spark.read.parquet(f"{fixture_dir}/transcripts")
    convs = [r.conv_id for r in
             CK.add_part_key(src.select("conv_id").distinct(), N_PARTS)
             .orderBy("conv_id").collect()]
    by_part = {}
    for r in (CK.add_part_key(src.select("conv_id").distinct(), N_PARTS)
              .collect()):
        by_part.setdefault(r.part_key, []).append(r.conv_id)
    # a conversation alone in its partition: removing it must EMPTY the
    # partition, exercising the stale-directory cleanup
    solo = next((cs[0] for cs in by_part.values() if len(cs) == 1), None)
    removed = [convs[0]] + ([solo] if solo and solo != convs[0] else [])
    truncated = [c for c in convs[1:3] if c not in removed]
    added_src = [c for c in convs[3:5] if c not in removed]

    v2 = str(tmp_path / "v2")
    _evolve(spark, fixture_dir, v2, removed, truncated, added_src)

    out_full = str(tmp_path / "full")
    run_pipeline(spark, transcripts_path=v2, out_dir=out_full,
                 model_path=model_path, n_parts=N_PARTS)

    out_inc = str(tmp_path / "inc")
    run_pipeline(spark, transcripts_path=f"{fixture_dir}/transcripts",
                 out_dir=out_inc, model_path=model_path, n_parts=N_PARTS)
    res = run_incremental(spark,
                          old_transcripts_path=f"{fixture_dir}/transcripts",
                          new_transcripts_path=v2, out_dir=out_inc,
                          model_path=model_path, n_parts=N_PARTS)

    # bounded work: only the partitions of CHANGED conversations — the
    # removed, the truncated, and the clones' NEW ids; the added_src
    # source conversations themselves are byte-identical in v2 and must
    # NOT count as affected
    changed_ids = (removed + truncated
                   + [c + "_clone" for c in added_src])
    expect_parts = sorted(
        {r.part_key for r in CK.add_part_key(
            spark.createDataFrame([(c,) for c in changed_ids],
                                  "conv_id string"),
            N_PARTS).collect()})
    assert res["affected_part_keys"] == expect_parts
    assert 0 < len(expect_parts) < N_PARTS

    assert _collect_triples(spark, out_inc) == \
        _collect_triples(spark, out_full)

    if solo is not None:
        pk = next(k for k, cs in by_part.items() if cs == [solo])
        # the emptied partition's directory must be gone (or empty)
        d = f"{out_inc}/triples/source=content/part_key={pk}"
        assert not os.path.exists(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d))


def test_incremental_noop_when_unchanged(spark, fixture_dir, model_path,
                                         tmp_path):
    from morra_spark.plans.incremental_kg import run_incremental
    from morra_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "out")
    res0 = run_pipeline(spark,
                        transcripts_path=f"{fixture_dir}/transcripts",
                        out_dir=out, model_path=model_path,
                        n_parts=N_PARTS)
    res = run_incremental(spark,
                          old_transcripts_path=f"{fixture_dir}/transcripts",
                          new_transcripts_path=f"{fixture_dir}/transcripts",
                          out_dir=out, model_path=model_path,
                          n_parts=N_PARTS)
    assert res["affected_part_keys"] == []
    assert res["n_triples"] == res0["n_triples"]


def test_incremental_raises_when_stale_partition_delete_fails(
        spark, tmp_path, monkeypatch):
    """Hadoop's FileSystem.delete reports most failures by returning
    false. A refresh that ignored it would re-run the pipeline over a
    stale partition directory and silently break incremental ≡ full
    rebuild, so it must raise before run_pipeline is reached."""
    from types import SimpleNamespace as NS

    from morra_spark.plans import incremental_kg as IK
    from morra_spark.streaming import deltastore

    jvm = NS(org=NS(apache=NS(hadoop=NS(fs=NS(Path=str)))))
    fs = NS(exists=lambda p: True, delete=lambda p, recursive: False)

    def never(*a, **kw):
        raise AssertionError("run_pipeline reached after a failed delete")

    monkeypatch.setattr(IK, "affected_part_keys", lambda *a, **kw: [3])
    monkeypatch.setattr(deltastore, "fs_handles",
                        lambda spark, path: (jvm, fs))
    monkeypatch.setattr(IK, "run_pipeline", never)
    out = str(tmp_path / "out")
    with pytest.raises(IOError, match="part_key=3"):
        IK.run_incremental(spark, old_transcripts_path="v1",
                           new_transcripts_path="v2", out_dir=out,
                           model_path="unused", n_parts=N_PARTS)
