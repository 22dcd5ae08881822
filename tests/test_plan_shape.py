"""Physical-plan regression guards (SURVEY.md §4.3): the triple path must
stay map-only — shuffles only where the plan WANTS them, dictionary joins
as broadcasts. Catches accidental exchanges before they cost at scale."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _spark_plan(df) -> str:
    # executedPlan (post-EnsureRequirements) so Exchange nodes are
    # present; with AQE it prints the initial physical plan, which is
    # what we assert on (AQE can only merge/coalesce, not add shuffles)
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_exchanges(plan: str) -> int:
    # "Exchange hashpartitioning(...)" etc.; BroadcastExchange excluded
    return len(re.findall(r"(?<!Broadcast)Exchange (hash|range|Single)", plan))


def _broadcast_exchanges(plan: str) -> int:
    return plan.count("BroadcastExchange")


def test_triple_path_is_map_only(spark, fixture_dir, model):
    """scan → mapInPandas → explode → 2 broadcast joins: ZERO shuffle
    exchanges after the (possible) input re-balance."""
    from morra_spark.plans.pipeline import (content_triples,
                                            entity_candidates_df)

    bc = spark.sparkContext.broadcast(model)
    src = (spark.read.parquet(f"{fixture_dir}/transcripts")
           .select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    t = content_triples(src, bc, entity_candidates_df(spark, model), 64)

    plan = _spark_plan(t)
    # the only shuffles allowed are the ranking window on the TINY
    # candidate-dictionary build side (inside the broadcast subtrees);
    # the big triple stream must never hash-partition on its own keys
    for stream_key in ("conv_id#", "turn_idx#", "part_key#", "subj#",
                       "obj#", "text#"):
        assert f"Exchange hashpartitioning({stream_key}" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan


def test_dict_join_is_broadcast_and_pruned(spark, fixture_dir):
    """Parquet scan under a projection must prune columns (ReadSchema)."""
    src = spark.read.parquet(f"{fixture_dir}/transcripts") \
        .select("conv_id", "turn_idx").filter(F.col("turn_idx") > 2)
    plan = _spark_plan(src)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"conv_id", "turn_idx"}, plan
    assert "PushedFilters: []" not in plan  # turn_idx predicate pushed down


def test_salted_reassembly_two_phase(spark, fixture_dir):
    """Reassembly must be exactly two aggregation phases (partial per
    (conv_id, salt), merge per conv_id) — 2 shuffle exchanges."""
    from morra_spark.operators.reassembly import reassemble_conversations

    tr = spark.read.parquet(f"{fixture_dir}/transcripts")
    conv = reassemble_conversations(tr, n_salt=8)
    plan = _spark_plan(conv)
    assert _shuffle_exchanges(plan) == 2, plan


def test_salted_skew_join_is_sort_merge_on_salt(spark):
    """B-J6 demo must salt a SHUFFLE join: SortMergeJoin keyed on
    (join key, salt), zero broadcast of the exploded side (VERDICT r1:
    salting a broadcast join splits nothing and 8x-explodes the build)."""
    import __spark_entry__ as E

    df = E.q_salted_skew_join(spark, "/root/testdata/sf0.001")
    plan = _spark_plan(df)
    assert "SortMergeJoin" in plan, plan
    m = re.search(r"SortMergeJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert m, plan
    assert "l_partkey#" in m.group(1) and "salt#" in m.group(1), plan
    assert "p_partkey#" in m.group(2) and "salt#" in m.group(2), plan
    assert "BroadcastHashJoin" not in plan, plan


def test_triple_sink_exchange_is_salted_by_turn_hash(spark, fixture_dir,
                                                     model):
    """North rule: 'explicit salting for hot conversations'. The triple
    sink's ONE exchange must hash on (part_key, pmod(xxhash64(turn_idx)))
    — part_key alone would hand a hot conversation's entire triple set
    to a single write task (bench.run_hot_pair measures the wall-clock
    consequence; this pins the plan property at any scale, since plan
    shape is input-size invariant)."""
    from morra_spark.plans.pipeline import (content_triples,
                                            entity_candidates_df)

    bc = spark.sparkContext.broadcast(model)
    src = (spark.read.parquet(f"{fixture_dir}/transcripts")
           .select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    out = content_triples(src, bc, entity_candidates_df(spark, model), 64) \
        .repartition(F.col("part_key"),
                     F.pmod(F.xxhash64("turn_idx"), F.lit(8)))
    plan = _spark_plan(out)
    sink_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln
               and "part_key#" in ln]
    assert sink_ex, plan
    assert any("xxhash64(turn_idx#" in ln for ln in sink_ex), plan


def test_flagship_with_tools_annotates_once(spark, fixture_dir, model):
    """The tool-alignment union must NOT duplicate the Python annotation
    stage in the plan (r2 regression: consuming the live annotation
    DataFrame twice doubled the perceptron work and collapsed N->4N
    scaling to 0.26). Exactly one MapInPandas; the skeleton branch reads
    the raw scan."""
    from morra_spark.plans.pipeline import (align_tool_turns,
                                            content_triples,
                                            entity_candidates_df)

    bc = spark.sparkContext.broadcast(model)
    src = (spark.read.parquet(f"{fixture_dir}/transcripts")
           .select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    content = content_triples(src, bc, entity_candidates_df(spark, model), 64)
    t = align_tool_turns(content, src, 64)
    plan = _spark_plan(t)
    n_python = sum(plan.count(s) for s in
                   ("MapInPandas", "ArrowEvalPython", "PythonMapInArrow"))
    assert n_python == 1, plan


def test_ngram_df_cap_is_aggregate_not_window(spark):
    """The shingle df cap must partial-aggregate (HashAggregate w/
    map-side combine de-skews the ubiquitous-shingle hot key) — not a
    count-over-Window, which lands every row of the hot shingle on one
    window task (VERDICT r2 #5)."""
    import __spark_entry__ as E

    plan = _spark_plan(E.q_dedup_ngram_jaccard(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_resume_readback_has_static_partition_filters(spark, tmp_path):
    """Stage-2 resume must prune the stage-1 read-back with a STATIC
    isin literal (non-empty PartitionFilters on the scan) — not a
    left-semi join that relies on dynamic partition pruning firing
    (VERDICT r2 #3: if DPP doesn't fire, resume rescans all of stage 1
    at 100 TB)."""
    from morra_spark.plans.pipeline import read_pruned_parts

    out = str(tmp_path / "triples")
    df = spark.range(100).select(
        (F.col("id") % 8).cast("int").alias("part_key"),
        F.col("id").alias("v"))
    df.write.partitionBy("part_key").parquet(out)
    pruned = read_pruned_parts(spark, out, [1, 3])
    plan = _spark_plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "part_key" in m.group(1), plan
    assert pruned.count() == 26  # 13 rows in each of part 1 and 3


def test_fresh_checkpoint_read_runs_no_python(spark, tmp_path):
    """A fresh run's empty done set is built on the JVM: a list-based
    createDataFrame plans a Python-RDD scan (``ExistingRDD``), which
    started Python workers on every fresh build."""
    from morra_spark.plans.checkpoint import read_done_parts

    done = read_done_parts(spark, str(tmp_path / "absent"), "r", "s")
    plan = _spark_plan(done)
    assert "ExistingRDD" not in plan, plan
    assert done.schema.simpleString() == "struct<part_key:int>"
    assert done.collect() == []


def test_ivf_probe_join_broadcasts_and_single_python_stage(spark):
    """IVF search plan shape: the tiny (qid, cid) probe table broadcasts
    against the assigned corpus (the big side never shuffles for
    candidate selection) and centroid assignment is ONE vectorized
    Python stage; the only hash exchange is the per-query top-k window."""
    import numpy as np

    from morra_spark.operators.similarity import (ann_ivf_topk, ivf_assign,
                                                  train_ivf_centroids)

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)], 0)
            for i in range(100)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    C = train_ivf_centroids(emb, n_centroids=4, dim=8, sample=100)
    queries = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [-1.0] * 8)], "qid long, q array<float>")
    plan = _spark_plan(ann_ivf_topk(ivf_assign(emb, C), queries, C,
                                    k=5, nprobe=2))
    assert _broadcast_exchanges(plan) >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    # Python stages stay on the TINY sides (probe-cid UDF on queries,
    # assignment on the pre-assigned input); the corpus-side join input
    # must be a plain scan with no shuffle before the broadcast join
    assert "ShuffledHashJoin" not in plan, plan


def test_stratified_keep_is_shuffle_free(spark):
    """The sampling materializer must be a pure map-only filter — zero
    exchanges of any kind: the keep/drop decision reads only the row's
    own id, so any shuffle in this plan is a regression."""
    from morra_spark.operators.curation import stratified_keep

    d = spark.range(1000).select(F.col("id").alias("doc_id"),
                                 F.lit("s").alias("source"))
    plan = _spark_plan(stratified_keep(d, F.lit(250)))
    assert _shuffle_exchanges(plan) == 0, plan
    assert _broadcast_exchanges(plan) == 0, plan


def test_repetition_metrics_groups_by_doc_not_ngram(spark):
    """Repetition metrics must aggregate keyed by doc_id (possibly with
    the bigram as a secondary key) — never by the n-gram alone, which
    would make a corpus-wide hot phrase a hot shuffle key. All
    hash-partitionings in the plan must include doc_id."""
    from morra_spark.operators.curation import repetition_metrics

    d = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    plan = _spark_plan(repetition_metrics(d))
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan
    for keys in parts:
        assert "doc_id#" in keys, plan
    assert "Window" not in plan, plan


def test_scd2_single_sort_for_both_windows(spark):
    """The lag-mark and running-sum windows in the SCD2 build share one
    (user_id, ts, event_id) ordering: Catalyst must plan them in a
    single Sort+Window pass over one exchange, not two sorts."""
    import __spark_entry__ as E

    df = E.q_scd2_intervals(spark, "/root/testdata/sf0.001")
    plan = _spark_plan(df)
    # exchanges: one for the event-stream window partitioning, one for
    # the run-level lead window, one for the final orderBy (range).
    assert _shuffle_exchanges(plan) <= 3, plan
    assert plan.count("Window") <= 3, plan


def test_pivot_pinned_domain_is_single_aggregate(spark):
    """A pinned-domain pivot must compile to one partial-aggregating
    groupBy (single hash exchange on user_id) — no extra distinct pass
    over the corpus for the pivot values."""
    import __spark_entry__ as E

    df = E.q_pivot_event_matrix(spark, "/root/testdata/sf0.001")
    plan = _spark_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval-suite shingle probe must be a BROADCAST left-semi: the
    training corpus never shuffles for the contamination check (the
    eval side is the small one — a benchmark suite, not the corpus)."""
    import __spark_entry__ as E

    plan = _spark_plan(E.q_decontaminate(spark, "/root/testdata/sf0.001"))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan


def test_sequence_packing_single_window_sort(spark):
    """Concat-and-chunk packing is ONE running-sum window per stream —
    exactly one hash exchange (the stream repartition) and one Window;
    chunk/straddle math is map-only on top of it."""
    import __spark_entry__ as E

    plan = _spark_plan(E.q_sequence_packing(spark, "/root/testdata/sf0.001"))
    # global orderBy adds a range exchange; the packing itself
    # contributes exactly one hash exchange + one Window
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert plan.count("Window") >= 1, plan


def test_vocab_coverage_ranks_aggregated_vocab_only(spark):
    """The rank window input must be the aggregated (lang, word) vocab
    — HashAggregate BELOW the Window in the plan — never raw corpus
    rows (|vocab| not |tokens| feeds the sort)."""
    import __spark_entry__ as E

    plan = _spark_plan(E.q_vocab_coverage(spark, "/root/testdata/sf0.001"))
    wpos = plan.find("Window")
    apos = plan.rfind("HashAggregate")
    assert wpos != -1 and apos != -1 and apos > wpos, plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """The grid-cell rewrite must plan a hash/sort-merge EQUI-join on
    the cell id — never the BroadcastNestedLoopJoin / CartesianProduct
    the naive range predicate gets (quadratic at scale)."""
    import __spark_entry__ as E

    plan = _spark_plan(
        E.q_interval_overlap_join(spark, "/root/testdata/sf0.001"))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"
                     r" \[cell", plan), plan


def test_adaptive_length_bounds_joins_broadcast(spark):
    """The per-lang bound table (a handful of rows) must come back as a
    BroadcastHashJoin — the corpus never shuffles for the gate."""
    from morra_spark.operators.curation import adaptive_length_bounds

    docs = spark.createDataFrame(
        [(i, "en", "a b c") for i in range(50)],
        "doc_id long, lang string, text string")
    plan = _spark_plan(adaptive_length_bounds(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_merge_pairs_topk_never_global_sorts(spark):
    """Top-k must plan TakeOrderedAndProject (per-partition heads), not
    a range-exchange global sort; the pair explode must sit above the
    aggregated vocab, not corpus rows."""
    from morra_spark.operators.curation import bpe_merge_pairs

    docs = spark.createDataFrame([(1, "ab ba ab")], "doc_id long, text string")
    plan = _spark_plan(bpe_merge_pairs(docs, top_k=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_triangle_count_all_equi_joins(spark):
    """Every join in the triangle plan must be a hash/sort-merge EQUI
    join — no BroadcastNestedLoopJoin / CartesianProduct (the quadratic
    trap for inequality-only joins)."""
    from morra_spark.operators.components import triangle_count

    edges = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)], "src long, dst long")
    plan = _spark_plan(triangle_count(edges))
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_snapshot_diff_shuffles_fingerprints_not_bodies(spark):
    """The full-outer exchange must carry (key, 32-byte md5), never the
    text column: fingerprinting happens below the join."""
    from morra_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame([(1, "x" * 100)], "doc_id long, text string")
    new = spark.createDataFrame([(1, "y" * 100)], "doc_id long, text string")
    plan = _spark_plan(snapshot_diff(old, new))
    m = re.search(r"Exchange hashpartitioning\(doc_id[^)]*\)[^\n]*", plan)
    # text# must not appear in any exchange's output column list
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, plan
    assert m is not None or "BroadcastHashJoin" in plan, plan


def test_tpch_q5_dimension_chain_broadcasts(spark):
    """Q5's region→nation→supplier chain and customer must all come in
    as broadcast builds; the only shuffle-heavy join is the
    orders⋈lineitem orderkey co-key. Never a nested loop."""
    import __spark_entry__ as E

    plan = _spark_plan(E.q_tpch_q5(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_tpch_q1_is_single_aggregate_scan(spark):
    """Q1 must be scan→partial agg→exchange→final agg with the shipdate
    predicate pushed to the parquet scan."""
    import __spark_entry__ as E

    plan = _spark_plan(E.q_tpch_q1(spark, "/root/testdata/sf0.001"))
    assert _shuffle_exchanges(plan) <= 2, plan  # agg + final orderBy
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or \
        "LessThanOrEqual(l_shipdate" in plan, plan


def test_keyword_search_filters_before_any_exchange(spark):
    """The isin term filter must sit below the first aggregate so only
    query-term token rows ever shuffle — the no-index inverted probe."""
    from morra_spark.operators.search import keyword_search

    docs = spark.createDataFrame([(1, "data model x")],
                                 "doc_id long, text string")
    plan = _spark_plan(keyword_search(docs, ["data", "model"]))
    lines = plan.splitlines()
    f_idx = [i for i, ln in enumerate(lines)
             if "Filter" in ln and ("INSET" in ln or " IN (" in ln)]
    g_idx = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert f_idx and g_idx, plan
    # the IN filter is the explode's parent (prints just above it) and
    # NO Exchange sits between them: only query-term rows ever shuffle
    fi = max(i for i in f_idx if i < g_idx[-1])
    assert all("Exchange" not in lines[i]
               for i in range(fi + 1, g_idx[-1])), plan
    assert "CartesianProduct" not in plan, plan


def test_normalized_dedup_shuffles_keys_not_bodies(spark):
    """The group-by exchange must carry the 32-byte md5 key, never the
    text column."""
    from morra_spark.operators.dedup import normalized_dup_groups

    docs = spark.createDataFrame([(1, "x" * 200)],
                                 "doc_id long, text string")
    plan = _spark_plan(normalized_dup_groups(docs))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, plan


def test_correlated_subqueries_decorrelate_to_hash_joins(spark):
    """SURVEY §4.2's decorrelation row, exercised for real (VERDICT r3
    missing #3): the four correlated-subquery queries (EXISTS, double
    NOT-EXISTS with inequality correlation, scalar-subquery HAVING,
    scalar + NOT EXISTS) must all decorrelate to hash semi/anti joins —
    a BroadcastNestedLoopJoin or CartesianProduct means Catalyst fell
    back to per-row re-evaluation, which is quadratic at scale."""
    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    for name in ("tpch_q4", "tpch_q21", "tpch_q11", "tpch_q22",
                 "tpch_q17", "tpch_q18"):
        plan = _spark_plan(E.queries()[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        if name == "tpch_q11":
            # uncorrelated scalar subquery: planned once as its own
            # subquery stage feeding the HAVING filter, never per group
            assert "Subquery" in plan or "subquery" in plan, (name, plan)
        elif name == "tpch_q17":
            # correlated scalar AGGREGATE: decorrelates to an aggregate
            # grouped on the correlation key joined back — an extra
            # HashAggregate + equi-join, never a per-row re-scan
            assert plan.count("HashAggregate") >= 2, (name, plan)
        else:
            # the correlation must survive as a real join, not a filter
            assert ("LeftSemi" in plan or "LeftAnti" in plan), (name, plan)


def test_round5_tpch_shapes_plan_clean(spark):
    """Round-5 TPC-H completion (VERDICT r4 #2): the outer-join
    aggregate (Q13), nested IN/semi chains (Q20), correlated scalar MIN
    over a join (Q2), NOT IN null-aware anti (Q16), and agg-of-agg view
    (Q15) must all plan as hash joins + aggregates — no nested-loop
    fallback, no per-row re-scan."""
    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    for name in ("tpch_q2", "tpch_q6", "tpch_q8", "tpch_q9",
                 "tpch_q13", "tpch_q15", "tpch_q16", "tpch_q20"):
        plan = _spark_plan(E.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, (name, plan)
        if name == "tpch_q13":
            # the priority filter lives in the JOIN condition of a real
            # outer join (pushing it below would drop the 0-bucket)
            assert "LeftOuter" in plan, (name, plan)
            assert plan.count("HashAggregate") >= 2, (name, plan)
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        elif name == "tpch_q20":
            # stacked IN-chains: at least two semi joins, no re-scan
            assert plan.count("LeftSemi") >= 2, (name, plan)
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        elif name == "tpch_q16":
            # NOT IN over a nullable-free key: null-aware anti join
            assert ("LeftAnti" in plan or "null_aware" in plan.lower()), \
                (name, plan)
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        elif name == "tpch_q2":
            # correlated scalar MIN decorrelates to a grouped aggregate
            # joined back on partkey, never a per-outer-row subplan
            assert plan.count("HashAggregate") >= 2, (name, plan)
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        elif name == "tpch_q6":
            # pure scan: every predicate reaches the parquet reader and
            # only the needed columns are read
            assert "PushedFilters: [" in plan, (name, plan)
            assert "l_shipdate" in plan.split("PushedFilters:")[1] \
                .split("]")[0], (name, plan)
        elif name == "tpch_q15":
            # the MAX over the revenue view is one scalar subquery
            # broadcast into the filter (Q11 pattern), and the revenue
            # aggregate itself appears as a real HashAggregate
            assert "Subquery" in plan or "subquery" in plan, (name, plan)
            assert plan.count("HashAggregate") >= 2, (name, plan)
        # Q8/Q9: multi-join shares — hash joins only is the assertion
        # above; their dims are small enough that broadcast is chosen,
        # checked by the absence of nested-loop fallbacks at any size
        if name in ("tpch_q8", "tpch_q9"):
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_mixture_rebalance_broadcasts_rates_not_corpus(spark):
    """The per-source keep rates (few rows) must come back to the corpus
    as a BROADCAST build — if the corpus ever becomes a shuffle side of
    that join, the rebalance costs a full-corpus exchange at 100 TB.
    Expected shuffles: the two per-source aggregates (rate + closing
    report) and their tiny joins only."""
    from morra_spark.operators.curation import mixture_rebalance

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", "w " * 10) for i in range(100)],
        "doc_id long, source string, text string")
    plan = _spark_plan(mixture_rebalance(docs, {"src0": 0.6, "src1": 0.4}))
    assert _broadcast_exchanges(plan) >= 2, plan   # budget + rates builds
    # the corpus-side scan feeds a partial aggregate or a broadcast-join
    # probe, never a plain hash exchange of doc rows: every shuffle in
    # the plan carries the source-grain aggregate, not doc_id
    for ln in plan.splitlines():
        if re.search(r"(?<!Broadcast)Exchange hash", ln):
            assert "doc_id" not in ln, ln


def test_split_leakage_joins_at_aggregated_grain(spark):
    """The cross-split self-join must consume the (fingerprint, split)
    HashAggregate on BOTH sides — a doc-grain self-join would explode
    on a hot boilerplate (n² pairs for an n-copy fingerprint)."""
    from morra_spark.operators.curation import split_leakage

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(200)],
        "doc_id long, text string")
    plan = _spark_plan(split_leakage(docs))
    m = re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)
    assert m, plan
    # the join keys are the fingerprint (fp), not doc_id, and the rows
    # reaching it are already counted per (fp, split): the aggregate
    # appears on the join's input side(s), i.e. before the join in the
    # bottom-up plan string
    join_pos = m.start()
    join_line = plan[join_pos:plan.index("\n", join_pos)]
    assert "fp#" in join_line and "doc_id" not in join_line, join_line
    # children print BELOW their parent: both join inputs (after the
    # join in the string) must be fp-keyed aggregates — counted rows,
    # not documents
    below = plan[join_pos:]
    agg_inputs = re.findall(r"HashAggregate\(keys=\[fp#\d+, split#\d+\],"
                            r" functions=\[count\(1\)\]", below)
    assert len(agg_inputs) == 2, below


def test_filtered_ann_pushes_predicate_to_scan(spark):
    """The hybrid filter-then-rank vector search must push the label
    predicate into the parquet scan — vector math over pruned rows
    only. At 100 TB the filter prunes files before any dot product."""
    import __spark_entry__ as E

    df = E.queries()["ann_filtered_grouped_topk"](
        spark, "/root/testdata/sf0.01")
    plan = _spark_plan(df)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert any("label" in ln and "IN (1,3,5)" in ln.replace("#", "")
               or "label" in ln and "DataFilters: [label" in ln
               for ln in scan_lines), plan


def test_negative_samples_vocab_joins_broadcast(spark):
    """The corrupt-triple generator's vocab joins are hint-pinned
    broadcasts, the rank window / count aggregate are the only
    single-partition exchanges (dim-sized vocab, never the fact side),
    and there is no Python anywhere in the plan."""
    from morra_spark.operators.kg_graph import negative_samples

    pos = spark.range(200).select(
        F.concat(F.lit("s"), (F.col("id") % 50).cast("string")).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("o"), (F.col("id") % 37).cast("string")).alias("obj"))
    plan = _spark_plan(negative_samples(pos, n_neg=2))
    assert plan.count("BroadcastHashJoin") >= 2, plan  # idx + resolve (hinted)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan
    # 3 = the vocab rank window planned under each of its two broadcast
    # consumers + the 1-row count aggregate — all on the dim side
    assert len(re.findall(r"Exchange SinglePartition", plan)) <= 3, plan


def test_entity_resolution_pairs_are_blocked_equi_joins(spark):
    """The fuzzy pair generator must plan as an EQUI join on the
    blocking key (hash or sort-merge) with the length prefilter and
    levenshtein as post-join filters — never a CartesianProduct or
    nested-loop over the vocabulary, and no Python anywhere (the edit
    distance is the JVM builtin)."""
    from morra_spark.operators.entity_resolution import _blocked_pairs

    forms = spark.range(500).select(
        F.concat(F.lit("name "), F.col("id").cast("string")).alias("norm"))
    plan = _spark_plan(_blocked_pairs(
        forms, F.substring("norm", 1, 4), max_dist=1, block_cap=200))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
                     plan), plan
    assert "levenshtein" in plan, plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_coref_triple_resolution_is_single_window_exchange(spark):
    """resolve_triple_anaphora must plan as ONE hash exchange on the
    conversation key feeding one window sort — no self-join, no
    Python, no second shuffle (100 TB: pronoun resolution costs the
    same as any per-conversation window pass)."""
    from morra_spark.operators.coref import resolve_triple_anaphora

    t = spark.range(2000).select(
        (F.col("id") % 50).cast("string").alias("conv_id"),
        (F.col("id") % 40).cast("int").alias("turn_idx"),
        F.when(F.col("id") % 3 == 0, F.lit("it"))
         .otherwise(F.concat(F.lit("e"), (F.col("id") % 7))).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("o"), (F.col("id") % 5)).alias("obj"),
        F.lit("NE").alias("subj_ne"), F.lit("NE").alias("obj_ne"))
    plan = _spark_plan(resolve_triple_anaphora(t))
    assert _shuffle_exchanges(plan) == 1, plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_comention_joins_broadcast_and_no_true_cartesian(spark):
    """comention_edges: the per-doc pair generation is a co-keyed EQUI
    self-join on the doc id (hash/sort-merge — never a nested loop over
    the corpus); the document-frequency joins and the 1-row doc total
    ride BroadcastExchange, so nothing vocabulary-sized shuffles the
    pair set a second time."""
    from morra_spark.operators.kg_graph import comention_edges

    m = spark.range(5000).select(
        (F.col("id") % 400).alias("doc_id"),
        F.concat(F.lit("e"), (F.col("id") % 12)).alias("entity"))
    plan = _spark_plan(comention_edges(m))
    assert "CartesianProduct" not in plan, plan
    # the per-doc pair self-join is an equi join on the doc key
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
                     plan), plan
    # the ONLY nested-loop is the 1-row doc-total cross (broadcast
    # scalar) — the corpus-sized pair generation never nested-loops
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    # df_a, df_b, and the 1-row n_docs total all broadcast
    assert _broadcast_exchanges(plan) >= 3, plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_coparticipation_is_cokeyed_equi_join_no_broadcast_counts(spark):
    """coparticipation_pairs: the pair generation is an equi self-join
    on (pred, obj) — never a nested loop — and the per-subject count
    join-back is co-keyed, NOT broadcast (subject cardinality is
    unbounded at corpus scale; the ngram_jaccard ADVICE r3 rule)."""
    from morra_spark.operators.kg_graph import coparticipation_pairs

    e = spark.range(4000).select(
        F.concat(F.lit("s"), (F.col("id") % 300)).alias("subj"),
        F.concat(F.lit("p"), (F.col("id") % 3)).alias("pred"),
        F.concat(F.lit("o"), (F.col("id") % 40)).alias("obj"))
    # disable size-based auto-broadcast: on a tiny test input Catalyst
    # broadcasts everything anyway (fine, adaptive); what must NOT
    # exist is a broadcast HINT, which would survive threshold=-1 and
    # ship a subject-cardinality table to every executor at 100 TB
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _spark_plan(coparticipation_pairs(e))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin)", plan), plan
    assert _broadcast_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_graph_rollup_nullsafe_joins_stay_equi_joins(spark):
    """graph_edges/graph_nodes joins went null-SAFE (code-review r5:
    null-subj edges must survive). eqNullSafe is still an equi-join
    key for Catalyst — pin that the rollup plans as hash/sort-merge
    joins, never a BroadcastNestedLoopJoin/CartesianProduct, which is
    what a non-equi rewrite would silently cost at 100 TB."""
    from morra_spark.operators.kg_graph import graph_edges, graph_nodes

    t = spark.range(2000).select(
        F.concat(F.lit("c"), (F.col("id") % 40)).alias("conv_id"),
        (F.col("id") % 100).cast("int").alias("turn_idx"),
        F.when(F.col("id") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("s"), F.col("id") % 50)).alias("subj"),
        F.concat(F.lit("p"), (F.col("id") % 5)).alias("pred"),
        F.concat(F.lit("o"), (F.col("id") % 30)).alias("obj"),
        F.lit("PER").alias("subj_ne"), F.lit("ORG").alias("obj_ne"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for plan in (_spark_plan(graph_edges(t)),
                     _spark_plan(graph_nodes(t))):
            assert "CartesianProduct" not in plan, plan
            assert "BroadcastNestedLoopJoin" not in plan, plan
            assert re.search(r"(SortMergeJoin|ShuffledHashJoin)", plan), plan
            assert "BatchEvalPython" not in plan and "PythonUDF" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hits_round_edge_side_is_exchange_free(spark):
    """hits_scores' scale property: the loop-invariant edge orientation
    is persisted pre-hash-partitioned on its join key, so across all
    2*iters joins the BIG side reads straight off the cache with no
    Exchange — only the node-grain score side and the groupBy shuffle
    (2 total). A regression to localCheckpoint (which erases
    outputPartitioning) or a lost repartition would show up as a third
    hash exchange here."""
    from morra_spark.operators.components import _hits_round

    edges = spark.range(2000).selectExpr("cast(id % 97 as string) u",
                                         "cast(id % 53 as string) v")
    e_by_u = edges.distinct().repartition("u").persist()
    # force SMJ: under a broadcast of the tiny test score side the edge
    # side has no partitioning requirement and a lost persist would
    # pass undetected
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e_by_u.count()
        e_by_u = e_by_u.withColumn("w", F.lit(1.0))
        scores = spark.createDataFrame(
            [(str(i), 1.0) for i in range(97)], "node string, s double")
        plan = _spark_plan(_hits_round(e_by_u, scores, "u", "v"))
        lines = plan.splitlines()
        scans = [i for i, l in enumerate(lines)
                 if "InMemoryTableScan" in l]
        assert scans, plan
        # the executed region between the cache scan and the join must
        # carry no added shuffle (the cached plan BELOW the scan echoes
        # its own REPARTITION_BY_COL lineage — not executed, ignored)
        for i in scans:
            above = "\n".join(lines[max(0, i - 4):i])
            assert "ENSURE_REQUIREMENTS" not in above, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        e_by_u.unpersist()
