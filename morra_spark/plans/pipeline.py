"""The flagship KG-construction job, end to end.

Plan shape (SURVEY.md §4.3): Scan → [ArrowEval: tokenize+tag+NER+spans+
triples, map-only] → explode triples → BroadcastHashJoin(entity dict,
linking/canonicalization) → Exchange(part_key) → partitioned write, plus
the checkpoint sink. Exactly one shuffle on the triple path (the final
repartition-by-part_key) + broadcast joins; turn reassembly (its own
salted two-phase aggregation) is a separate branch.

One plan, one tool-alignment rule: ``content_triples`` is the map-only
content half and ``align_tool_turns`` the single ordering window that
attributes tool turns to their invoking turn. One-pass callers (entry(),
bench, streaming, backfill) compose the two directly;
``run_pipeline`` runs them as two resumable stages, aligning against
the materialized stage-1 parquet.

Entity linking (north star: "entity linking by lemma-normalized
candidate scoring"): mention/endpoint lemma_norm → broadcast join against
the candidate dictionary → highest-frequency candidate wins via a
ranking window (SURVEY.md §2 B-J1 + B-W2) → canonical surface replaces
the raw lemma_norm in the emitted triple.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from morra_spark.model_artifact import KGModel
from morra_spark.operators.tagger import extract_turn_triples
from morra_spark.plans import checkpoint as CK

TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def load_transcripts(spark: SparkSession, path: str,
                     min_parallelism: int | None = None) -> DataFrame:
    """B-S1 scan. Parquet locally; on a cluster with the Iceberg runtime
    this is ``spark.read.table(...)`` — same downstream plan.

    ``min_parallelism``: when the input has fewer splits than this
    (small local files — at 100 TB the scan naturally has thousands of
    splits and this never triggers), redistribute by conv_id hash so the
    map-only annotate stage uses every core. Hash-repartition, NOT
    coalesce, so hot conversations spread too.
    """
    df = spark.read.parquet(path).select(*TRANSCRIPT_COLS)
    if min_parallelism is None:
        min_parallelism = spark.sparkContext.defaultParallelism * 2
    if min(df.rdd.getNumPartitions(),
           _row_group_count(path, cap=min_parallelism)) < min_parallelism:
        df = df.repartition(min_parallelism, "conv_id", "turn_idx")
    return df


def _row_group_count(path: str, cap: int) -> int:
    """Effective parquet scan parallelism is bounded by ROW GROUPS, not
    byte splits: a byte split that contains no row-group midpoint reads
    zero rows, so ``rdd.getNumPartitions()`` (byte splits) overcounts on
    few-files/large-row-group layouts — measured here as an 8-core run
    no faster than a 4-core one because only 4 of its 20 splits carried
    data. Counts row groups from file footers, stopping as soon as
    ``cap`` is reached (bounded driver cost: at most ~cap footer reads;
    on huge inputs the first few files already exceed any sane cap)."""
    try:
        import glob as _glob

        import pyarrow.parquet as _pq

        total = 0
        for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
            total += _pq.ParquetFile(f).metadata.num_row_groups
            if total >= cap:
                break
        return total if total else cap  # no local files -> trust splits
    except Exception:
        return cap  # non-local / non-parquet source: trust byte splits


def entity_candidates_df(spark: SparkSession, model: KGModel) -> DataFrame:
    """Candidate dictionary (alias, canonical, ne_type, freq) for
    linking — tiny, always broadcast. Built via pandas so Catalyst
    plans a LocalTableScan (an RDD-backed createDataFrame would spin up
    Python workers on every reuse of the broadcast build side).

    The JOIN KEY is ``alias`` — ``model.entity_canon`` maps surface /
    lemma-normalized variant spans to their canonical entity, so an
    endpoint that escaped token-level lemmatization (OOV possessive,
    raw variant) still links (code-review r5: joining on the canonical
    surface itself made the whole stage an identity transformation).
    Canonical spans map to themselves, so already-canonical endpoints
    pass through unchanged. Models trained before the alias map carry
    the identity entity_canon and degrade to the old behavior."""
    import pandas as pd

    rows = sorted(model.entity_canon.items())
    pdf = pd.DataFrame({
        "alias": [a for a, _ in rows],
        "canonical": [c for _, c in rows],
        "ne_type": [model.entity_type[c] for _, c in rows],
        "freq": [10] * len(rows)})
    return spark.createDataFrame(pdf)


def link_endpoints(triples: DataFrame, candidates: DataFrame) -> DataFrame:
    """Canonicalize subj/obj by candidate scoring: B-W2 ranking window
    picks the argmax-freq candidate per (alias, ne_type) key — an alias
    claimed by two canonical entities resolves by freq then
    lexicographic canonical, deterministically — run on the TINY
    candidate side so the big triple stream stays map-only — then B-J1
    broadcast left joins per endpoint, REWRITING the matched endpoint
    to its canonical form. Unlinked endpoints keep their
    lemma-normalized surface (code-review r5: the join previously keyed
    on the canonical surface itself, making the rewrite an identity).

    At 100 TB the triple stream must not shuffle here: a ranking window
    over the stream itself would add one exchange per endpoint; ranking
    the dictionary instead is equivalent (the join key is the window's
    partition key) and free."""
    w = Window.partitionBy("alias", "ne_type") \
        .orderBy(F.desc("freq"), "canonical")
    best = (candidates.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn", "freq"))
    for side in ("subj", "obj"):
        c = F.broadcast(best.select(
            F.col("alias").alias(f"{side}_alias"),
            F.col("canonical").alias(f"{side}_cand"),
            F.col("ne_type").alias(f"{side}_cand_ne")))
        triples = (triples.join(
            c, (F.col(side) == F.col(f"{side}_alias"))
            & (F.col(f"{side}_ne") == F.col(f"{side}_cand_ne")), "left")
            .withColumn(side, F.coalesce(F.col(f"{side}_cand"), F.col(side)))
            .drop(f"{side}_alias", f"{side}_cand", f"{side}_cand_ne"))
    return triples


TOOL_PRED = "used_tool"


def content_triples(turns: DataFrame, model_bc, candidates: DataFrame,
                    n_parts: int) -> DataFrame:
    """Transcript turns → linked, canonicalized content triple rows
    (conv_id, turn_idx, part_key, subj, pred, obj, subj_ne, obj_ne).

    The flagship plan's map-only half: the role filter runs JVM-side
    BEFORE the Python stage, the slim triples-only kernel keeps
    token/mention arrays out of the Arrow transfer, then explode and the
    two broadcast dictionary joins of ``link_endpoints``. Tool turns
    contribute nothing here; ``align_tool_turns`` attributes them."""
    content = turns.filter(F.col("role") != "tool")
    ann = CK.add_part_key(extract_turn_triples(content, model_bc), n_parts)
    t = (ann.select("conv_id", "turn_idx", "part_key",
                    F.explode("triples").alias("t"))
         .select("conv_id", "turn_idx", "part_key",
                 "t.subj", "t.pred", "t.obj", "t.subj_ne", "t.obj_ne"))
    return link_endpoints(t, candidates)


def align_tool_turns(content: DataFrame, turns: DataFrame,
                     n_parts: int) -> DataFrame:
    """Content triples ∪ tool-alignment triples, with a boolean
    ``is_tool`` column marking the rows that came from a tool turn.

    Each ``role='tool'`` turn is attributed to its INVOKING turn — the
    nearest preceding non-tool turn of the same conversation — and emits
    one (subj, 'used_tool', tool_name) row at the tool turn's (conv_id,
    turn_idx). The subject is the lexicographically smallest (subj,
    subj_ne) among ALL the invoking turn's content triples (the
    fixtures' gold rule); a tool turn whose invoking turn yielded no
    triples, or whose tool name is null, emits nothing.

    ``content`` is either live (``content_triples``: entry(), bench,
    streaming, backfill) or the materialized stage-1 parquet
    (``run_pipeline`` stage 2). The content stream is unioned with one
    skeleton row per raw turn (subj null) and a single ordering window
    over conv_id fills the tool subjects: rows sort (turn_idx ASC, subj
    DESC NULLS FIRST, subj_ne DESC NULLS FIRST), so the LAST content-turn
    row strictly before a tool row is the smallest (subj, subj_ne) of
    the nearest preceding content turn — or that turn's null blocker
    skeleton when it emitted no triples.

    Plan cost: the union's branches are ``content`` and a projection of
    the raw turns, so a live annotation appears exactly ONCE (r2's first
    wiring consumed it twice, doubling the perceptron work and
    collapsing scaling to 0.26), plus one shuffle of the narrow rows for
    the window. Window state is one struct per row, so hot
    conversations cannot OOM it. Select tool rows by ``is_tool``, never
    by ``pred == 'used_tool'``: a content triple may carry that lemma.
    """
    # one skeleton row per RAW turn: tool turns are the rows to align;
    # content turns act as BLOCKERS — a triple-less invoking turn must
    # yield "no subject", not fall through to an older turn's triples.
    # Blockers sort BEFORE their turn's real triple rows (nulls-first on
    # the desc keys), so `last` only lands on one when the turn emitted
    # nothing.
    skeletons = (turns.select(
        "conv_id", "turn_idx",
        F.lit(None).cast("string").alias("subj"),
        F.lit(TOOL_PRED).alias("pred"),
        F.col("tool").alias("obj"),
        F.lit(None).cast("string").alias("subj_ne"),
        F.lit("Tool").alias("obj_ne"),
        (F.col("role") == "tool").alias("is_tool")))
    skeletons = CK.add_part_key(skeletons, n_parts)
    content = content.withColumn("is_tool", F.lit(False))
    u = content.unionByName(skeletons.select(*content.columns))
    w = (Window.partitionBy("conv_id")
         .orderBy("turn_idx", F.col("subj").desc_nulls_first(),
                  F.col("subj_ne").desc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, -1))
    inv = F.last(F.when(~F.col("is_tool"), F.struct("subj", "subj_ne")),
                 ignorenulls=True).over(w)
    return (u.withColumn("inv", inv)
            .withColumn("subj", F.when(F.col("is_tool"), F.col("inv.subj"))
                        .otherwise(F.col("subj")))
            .withColumn("subj_ne", F.when(F.col("is_tool"),
                                          F.col("inv.subj_ne"))
                        .otherwise(F.col("subj_ne")))
            .filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
            .drop("inv"))


def read_pruned_parts(spark: SparkSession, path: str,
                      part_keys: list[int]) -> DataFrame:
    """Read a part_key-partitioned parquet dir restricted to the given
    partitions via a STATIC ``isin`` literal filter — guaranteed
    partition pruning (non-empty PartitionFilters, plan-asserted in
    tests/test_plan_shape.py), independent of dynamic partition pruning
    heuristics. Resume reads exactly the pending directories at any
    output size."""
    return spark.read.parquet(path).filter(F.col("part_key").isin(part_keys))


def run_pipeline(spark: SparkSession, *, transcripts_path: str, out_dir: str,
                 model_path: str, run_id: str | None = None,
                 n_parts: int = 64, pos_mode: str | None = None,
                 ner_mode: str | None = None,
                 only_part_keys: list[int] | None = None,
                 fuzzy_canonicalize: bool = False,
                 resolve_pronouns: bool = False) -> dict:
    """Full resumable job: annotate+extract → triples sink + checkpoint.

    Returns summary counters. Re-running with the same ``run_id`` after a
    partial failure skips completed part_keys (idempotent resume).

    ``pos_mode`` / ``ner_mode`` override the artifact's serve-time mode
    switches (A8: None | 'two_pass' | 'voting'; A12: None | 'combine')
    without editing the pickle — autotrain stamps the swept-best modes
    into the artifact, these flags let a job deviate per run.

    ``fuzzy_canonicalize``: opt-in post-pass that rewrites near-dup
    entity endpoints (typo'd/OCR'd surfaces the dictionary link missed)
    to their dominant spelling via the vocab-grain fuzzy closure
    (operators/entity_resolution.canonicalize_triples) and writes
    ``triples_canonical/``. A no-op on clean vocabularies (pytest
    proves it on the fixture KG); mode=overwrite, so re-runs stay
    idempotent. Off by default: the raw sink remains the source of
    truth and downstream readers opt into the fused view.

    ``resolve_pronouns``: opt-in coref-lite stage (operators/coref.
    resolve_triple_anaphora) that rewrites pronoun-SUBJECT triples to
    the nearest preceding content subject in the same conversation and
    drops unresolvable ones, BEFORE the sink — so stage 2's tool
    alignment and every downstream reader see one coherent resolved
    view. Costs one extra conv_id exchange in the content stage when
    enabled (the resolution window); provably a no-op on the fixture
    grammar, which never emits pronoun subjects (pytest-asserted).
    """
    model = KGModel.load(model_path)
    if pos_mode is not None:
        model.meta["pos_mode"] = pos_mode or None
    if ner_mode is not None:
        model.meta["ner_mode"] = ner_mode or None
    model_bc = spark.sparkContext.broadcast(model)
    candidates = entity_candidates_df(spark, model)

    run_id = run_id or CK.new_run_id()
    triples_dir = f"{out_dir}/triples"
    content_dir = f"{triples_dir}/source=content"
    tool_dir = f"{triples_dir}/source=tool"
    ckpt_dir = f"{out_dir}/checkpoint"

    src = load_transcripts(spark, transcripts_path)
    src = CK.add_part_key(src, n_parts)
    if only_part_keys is not None:
        # incremental maintenance (plans/incremental_kg.py): restrict
        # the whole job to the affected partitions via a static isin —
        # a literal filter on the partition key, pushed to the scan
        src = src.filter(F.col("part_key").isin(only_part_keys))
    # fingerprinted once per run: both stages read the same input, so
    # they share these rows (at most n_parts) instead of each rescanning
    fingerprints = CK.partition_fingerprints(src).collect()

    def transform(pending: DataFrame, _pending_keys: list[int]) -> DataFrame:
        out = content_triples(pending, model_bc, candidates, n_parts)
        if resolve_pronouns:
            from morra_spark.operators.coref import resolve_triple_anaphora

            out = resolve_triple_anaphora(out)
        # hot-conversation salting for the sink: part_key alone would put a
        # 10^6-turn conversation's triples in one write task; spreading by
        # turn_idx-hash salt inside repartition keeps tasks bounded while
        # the directory layout stays partitionBy(part_key).
        return out.repartition(
            F.col("part_key"),
            F.pmod(F.xxhash64("turn_idx"), F.lit(8)))

    CK.run_stage(spark, input_df=src, fingerprints=fingerprints,
                 stage="extract_triples", run_id=run_id,
                 out_dir=content_dir, ckpt_dir=ckpt_dir, transform=transform)

    def transform_tools(pending: DataFrame,
                        pending_keys: list[int]) -> DataFrame:
        # Stage 2 aligns tool turns against the MATERIALIZED stage-1
        # output (cheap narrow parquet scan) instead of the live
        # annotation — re-deriving it here would re-run the whole
        # perceptron cascade a second time inside this plan. part_key is
        # a pure function of conv_id, so each pending partition's
        # conversations are fully self-contained. The read-back prunes
        # STATICALLY via the driver-side pending_keys literal
        # (guaranteed PartitionFilters on the scan, asserted in
        # test_plan_shape) — a left-semi join against pending would rely
        # on dynamic partition pruning firing for a file source and, if
        # it didn't, resume would rescan all of stage 1 at 100 TB.
        content = read_pruned_parts(spark, content_dir, pending_keys)
        return (align_tool_turns(content, pending, n_parts)
                .filter(F.col("is_tool")).drop("is_tool")
                .repartition("part_key"))

    CK.run_stage(spark, input_df=src, fingerprints=fingerprints,
                 stage="tool_triples", run_id=run_id,
                 out_dir=tool_dir, ckpt_dir=ckpt_dir,
                 transform=transform_tools)

    triples = spark.read.parquet(triples_dir)
    n_triples = triples.count()
    out = {"run_id": run_id, "n_triples": n_triples,
           "triples_dir": triples_dir, "ckpt_dir": ckpt_dir}
    if fuzzy_canonicalize:
        from morra_spark.operators.entity_resolution import \
            canonicalize_triples

        canon_dir = f"{out_dir}/triples_canonical"
        canonicalize_triples(triples).write.mode("overwrite") \
            .partitionBy("part_key").parquet(canon_dir)
        out["canonical_dir"] = canon_dir
    return out
