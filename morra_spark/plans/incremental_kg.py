"""Incremental KG maintenance — partition-level recompute driven by a
conversation-granular snapshot diff (SURVEY.md §2 B-S2/B-S3 composed
with the CDC operator in ``operators/snapshot.py``).

A 10^12-turn transcript corpus refreshes continuously; rebuilding the
whole triple store per refresh re-pays the perceptron cascade over
every conversation ever seen. This module recomputes ONLY the
``part_key`` partitions whose conversations actually changed:

1. fingerprint every conversation on both corpus versions (one
   groupBy per side — a 32-byte digest per conversation, order-stable
   over turns);
2. diff the fingerprint tables (``snapshot_diff``: one co-keyed
   full-outer join) → added / removed / changed conversations;
3. map affected conversations to their ``part_key`` (the same
   ``pmod(xxhash64(conv_id))`` the sink partitions by) — a driver list
   bounded by ``n_parts``, never by corpus size;
4. drop the affected partition directories (both triple sources:
   dynamic partition overwrite alone would leave a stale directory
   when a partition's NEW output is empty — e.g. every conversation in
   it was removed, or its tool turns vanished);
5. re-run the normal resumable pipeline restricted to the affected
   part_keys (``run_pipeline(only_part_keys=...)``) over the NEW
   corpus.

Invariant (test-asserted): incremental(v1 → v2) is row-identical to a
full rebuild over v2. Cost is proportional to CHANGED partitions:
unaffected partition directories are neither read nor written (the
restricted input is a static ``isin`` partition filter).

Crash-safety: step 4 skips partitions already checkpoint-marked done
for this ``run_id``, so re-invoking after a mid-run crash (same
``run_id``) neither deletes finished work nor duplicates it — the same
contract ``run_stage`` gives a plain resume. On Iceberg the
delete+rewrite pair collapses into a single MERGE/replace-partitions
commit (``sources/tableio.py`` seam); the directory form here is the
format-agnostic parquet fallback.
"""
from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from morra_spark.plans import checkpoint as CK
from morra_spark.plans.pipeline import load_transcripts, run_pipeline


def conv_fingerprints(src: DataFrame) -> DataFrame:
    """(conv_id, conv_fp): a content digest per conversation, stable
    under row order (turns are sorted by turn_idx inside the aggregate)
    and partitioning. One partial-aggregating groupBy; the shuffled
    payload per conversation is its turn digests, not its text."""
    tfp = F.md5(F.concat_ws(
        "\x1f", F.col("turn_idx").cast("string"), F.col("role"),
        F.col("text"), F.coalesce(F.col("tool"), F.lit("")),
        F.col("ts").cast("string")))
    per_turn = src.select("conv_id", F.struct("turn_idx", tfp.alias("tfp"))
                          .alias("t"))
    ordered = F.array_join(
        F.transform(F.sort_array(F.collect_list("t")), lambda s: s["tfp"]),
        "")
    return (per_turn.groupBy("conv_id")
            .agg(F.md5(ordered).alias("conv_fp")))


def affected_part_keys(spark: SparkSession, old_path: str, new_path: str,
                       n_parts: int) -> list[int]:
    """Driver-side list (≤ ``n_parts`` ints) of partitions containing
    any added/removed/changed conversation between the two corpus
    versions."""
    from morra_spark.operators.snapshot import snapshot_diff

    old_fp = conv_fingerprints(load_transcripts(spark, old_path))
    new_fp = conv_fingerprints(load_transcripts(spark, new_path))
    diff = snapshot_diff(old_fp.withColumnRenamed("conv_fp", "text"),
                         new_fp.withColumnRenamed("conv_fp", "text"),
                         key="conv_id", content="text")
    changed = diff.filter(F.col("status") != "unchanged")
    rows = (CK.add_part_key(changed, n_parts)
            .select("part_key").distinct().collect())
    return sorted(r.part_key for r in rows)


def run_incremental(spark: SparkSession, *, old_transcripts_path: str,
                    new_transcripts_path: str, out_dir: str,
                    model_path: str, run_id: str | None = None,
                    n_parts: int = 64) -> dict:
    """Bring ``out_dir`` (a completed ``run_pipeline`` output over the
    OLD corpus) up to date with the NEW corpus by recomputing only the
    affected partitions. Returns the ``run_pipeline`` summary plus the
    affected part_key list."""
    parts = affected_part_keys(spark, old_transcripts_path,
                               new_transcripts_path, n_parts)
    triples_dir = f"{out_dir}/triples"
    run_id = run_id or CK.new_run_id()
    if not parts:
        n = spark.read.parquet(triples_dir).count()
        return {"run_id": run_id, "n_triples": n, "affected_part_keys": [],
                "triples_dir": triples_dir,
                "ckpt_dir": f"{out_dir}/checkpoint"}
    # don't re-delete partitions a crashed invocation of THIS run
    # already finished — PER STAGE, matching run_stage's resume
    # granularity: a crash between stages must still clear the
    # not-yet-done stage's stale dirs (a changed conversation whose
    # tool turns all vanished writes nothing for its tool partition, so
    # dynamic overwrite alone would leave the old one standing)
    # deletes go through the Hadoop FileSystem API, not shutil: on an
    # s3a:/hdfs: out_dir (the documented production resume path) rmtree
    # is a silent no-op and the stale partition would survive, breaking
    # incremental ≡ full-rebuild (code-review r5, same FS-agnosticism
    # rule as tableio/deltastore)
    from morra_spark.streaming.deltastore import fs_handles

    for stage, src_dir in (("extract_triples", f"{triples_dir}/source=content"),
                           ("tool_triples", f"{triples_dir}/source=tool")):
        d = CK.read_done_parts(spark, f"{out_dir}/checkpoint", run_id, stage)
        done = {r.part_key for r in d.collect()}
        jvm, fs = fs_handles(spark, src_dir)
        for pk in parts:
            if pk not in done:
                p = jvm.org.apache.hadoop.fs.Path(
                    f"{src_dir}/part_key={pk}")
                # Hadoop reports most delete failures as `false`: a
                # stale partition left here breaks incremental ≡ full
                if fs.exists(p) and not fs.delete(p, True):
                    raise IOError(f"run_incremental: could not delete "
                                  f"stale partition {p}")

    res = run_pipeline(spark, transcripts_path=new_transcripts_path,
                       out_dir=out_dir, model_path=model_path,
                       run_id=run_id, n_parts=n_parts,
                       only_part_keys=parts)
    res["affected_part_keys"] = parts
    return res
