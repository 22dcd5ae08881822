"""Graph materialization (north rule's 'graph materialize' step):
node/edge rollups over the triple table must reconcile exactly with the
raw triples they summarize."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def triples(spark, fixture_dir, model):
    """The materializer's real input: the pipeline's emitted triples
    (NE columns included), produced by the same annotate + link path
    the batch runner uses."""
    from morra_spark.plans.pipeline import (align_tool_turns,
                                            content_triples,
                                            entity_candidates_df)

    bc = spark.sparkContext.broadcast(model)
    src = spark.read.parquet(f"{fixture_dir}/transcripts") \
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    content = content_triples(src, bc, entity_candidates_df(spark, model), 16)
    t = align_tool_turns(content, src, 16) \
        .select("conv_id", "turn_idx", "subj", "pred", "obj",
                "subj_ne", "obj_ne").persist()
    t.count()
    yield t
    t.unpersist()


def test_edges_reconcile_with_triples(spark, triples):
    from morra_spark.operators.kg_graph import graph_edges

    t = triples
    e = graph_edges(t).persist()
    try:
        # weights sum back to the raw triple count; every edge has >= 1
        assert e.agg(F.sum("weight")).first()[0] == t.count()
        assert e.filter(F.col("weight") < 1).count() == 0
        # edge key set == distinct LOGICAL triple key set: a triple
        # asserted under differing NE tags is still one edge (ADVICE r4)
        assert e.count() == t.select("subj", "pred", "obj") \
            .distinct().count()
        assert e.select("subj", "pred", "obj").distinct().count() == \
            e.count()
        # resolved NE tags are always present (picked from a real row)
        assert e.filter(F.col("subj_ne").isNull()
                        | F.col("obj_ne").isNull()).count() == 0
        # n_convs is bounded by weight and by the true distinct count of
        # a spot-checked edge
        assert e.filter(F.col("n_convs") > F.col("weight")).count() == 0
        probe = e.orderBy(F.desc("weight"), "subj", "pred", "obj").first()
        true_nc = (t.filter((F.col("subj") == probe.subj)
                            & (F.col("pred") == probe.pred)
                            & (F.col("obj") == probe.obj))
                   .select("conv_id").distinct().count())
        assert probe.n_convs == true_nc
        assert e.filter(F.col("first_turn") > F.col("last_turn")).count() == 0
    finally:
        e.unpersist()


def test_nodes_reconcile_with_triples(spark, triples):
    from morra_spark.operators.kg_graph import graph_edges, graph_nodes

    t = triples
    n = graph_nodes(t).persist()
    try:
        # node universe == distinct endpoints
        endpoints = (t.select(F.col("subj").alias("e"))
                     .unionByName(t.select(F.col("obj").alias("e")))
                     .distinct())
        assert n.count() == endpoints.count()
        assert n.join(endpoints, n.entity == endpoints.e, "left_anti") \
            .count() == 0
        # mention counts sum to 2x triple count (subj + obj per triple)
        assert n.agg(F.sum("n_mentions")).first()[0] == 2 * t.count()
        # degree totals both equal the distinct edge count
        ne = graph_edges(t).count()
        assert n.agg(F.sum("out_degree")).first()[0] == ne
        assert n.agg(F.sum("in_degree")).first()[0] == ne
        # every entity carries a resolved NE type
        assert n.filter(F.col("ne_type").isNull()).count() == 0
    finally:
        n.unpersist()


def test_approx_convs_agrees_with_exact(spark, triples):
    """VERDICT r4 #5: graph_nodes reports conversation reach via
    approx_count_distinct (default rsd 0.05) to keep the node aggregate
    mergeable; pin the error against the exact distinct count at the
    same grain so the tolerance is a tested number, not a comment."""
    from morra_spark.operators.kg_graph import graph_nodes

    t = triples
    n = graph_nodes(t)
    exact = (t.select(F.col("subj").alias("entity"), "conv_id")
             .unionByName(t.select(F.col("obj").alias("entity"), "conv_id"))
             .groupBy("entity")
             .agg(F.countDistinct("conv_id").alias("exact_convs")))
    joined = n.join(exact, "entity").select(
        "entity", "approx_convs", "exact_convs",
        (F.abs(F.col("approx_convs") - F.col("exact_convs"))
         / F.col("exact_convs")).alias("rel_err"))
    worst = joined.agg(F.max("rel_err").alias("m"),
                       F.count(F.lit(1)).alias("n")).first()
    assert worst.n > 0
    # HLL++ at rsd=0.05: small cardinalities are exact (linear counting
    # regime); allow the documented 5% plus an absolute slack of 2 for
    # the boundary — pin via either bound per entity
    bad = joined.filter(
        (F.col("rel_err") > 0.05)
        & (F.abs(F.col("approx_convs") - F.col("exact_convs")) > 2)
    ).count()
    assert bad == 0, f"approx_convs outside tolerance for {bad} entities"


def test_null_subj_edge_survives_and_reconciles(spark):
    """code-review r5: a pass-through triple with subj=NULL (unresolved
    pronoun from resolve_triple_anaphora) forms a null group in both of
    graph_edges' groupBys; the join between them must be null-safe or
    the edge silently vanishes while graph_nodes still counts the obj
    endpoint — breaking weight-sum and degree reconciliation."""
    from morra_spark.operators.kg_graph import graph_edges, graph_nodes

    t = spark.createDataFrame(
        [("c1", 1, None, "likes", "tea", None, "MISC"),
         ("c1", 2, None, "likes", "tea", None, "MISC"),
         ("c2", 1, "bob", "likes", "tea", "PER", "MISC")],
        "conv_id string, turn_idx int, subj string, pred string,"
        " obj string, subj_ne string, obj_ne string")
    e = graph_edges(t)
    assert e.count() == 2                      # null-subj edge kept
    assert e.agg(F.sum("weight")).first()[0] == 3
    null_edge = e.filter(F.col("subj").isNull()).first()
    assert null_edge is not None and null_edge.weight == 2
    n = graph_nodes(t)
    # degrees still reconcile: each edge contributes one out + one in
    assert n.agg(F.sum("out_degree")).first()[0] == 2
    assert n.agg(F.sum("in_degree")).first()[0] == 2
    # the null entity keeps its node row (null-safe node joins)
    null_node = n.filter(F.col("entity").isNull()).first()
    assert null_node is not None and null_node.out_degree == 1


def test_negative_samples_single_object_vocab_is_empty(spark):
    """code-review r5: M=1 object vocabulary made the mix expression
    `x % (M-1)` — modulo zero, a DIVIDE_BY_ZERO crash under Spark 4
    ANSI. The filtered protocol implies the EMPTY result instead (every
    corruption self-collides with the one real object)."""
    from morra_spark.operators.kg_graph import negative_samples

    pos = spark.createDataFrame(
        [("a", "p", "only"), ("b", "p", "only")],
        "subj string, pred string, obj string")
    assert negative_samples(pos, n_neg=2).count() == 0


def test_materialize_roundtrip_and_determinism(spark, triples, tmp_path):
    from morra_spark.operators.kg_graph import materialize_graph

    t = triples
    out = str(tmp_path / "kg_graph")
    res = materialize_graph(t, out)
    assert res["n_edges"] > 0 and res["n_nodes"] > 0
    nodes1 = spark.read.parquet(res["nodes_dir"]).orderBy("entity").collect()
    # re-materialize (idempotent overwrite) over a REPARTITIONED input:
    # every value, including the NE-type tie-break, must be identical
    res2 = materialize_graph(t.repartition(7), out)
    assert (res2["n_edges"], res2["n_nodes"]) == (res["n_edges"],
                                                  res["n_nodes"])
    nodes2 = spark.read.parquet(res["nodes_dir"]).orderBy("entity").collect()
    assert nodes1 == nodes2


def test_negative_samples_filtered_and_deterministic(spark):
    from morra_spark.operators.kg_graph import negative_samples

    # 3 subjects x a 5-object vocabulary; s1 asserts 3 of the 5 objects
    # so some corruptions MUST collide with positives and be filtered
    pos_rows = [("s1", "p", "o1"), ("s1", "p", "o2"), ("s1", "p", "o3"),
                ("s2", "p", "o4"), ("s3", "p", "o5")]
    pos = spark.createDataFrame(pos_rows, "subj string, pred string, obj string")
    out = negative_samples(pos, n_neg=2)
    rows = [(r.subj, r.pred, r.neg_obj, r.r) for r in out.collect()]
    # (a) no emitted negative is a positive
    assert not ({(s, p, o) for s, p, o, _ in rows}
                & set(pos_rows)), rows
    # (b) every negative object comes from the positive-object vocab
    vocab = {o for _, _, o in pos_rows}
    assert all(o in vocab for _, _, o, _ in rows)
    # (c) at most n_pos * n_neg rows, and collisions were actually
    # dropped (s1 has 3/5 of the vocab as positives, so across its 6
    # corruption slots at least one collision is guaranteed)
    assert len(rows) < len(pos_rows) * 2
    # (d) bit-stable across re-runs (no RNG anywhere)
    rows2 = [(r.subj, r.pred, r.neg_obj, r.r)
             for r in negative_samples(pos, n_neg=2).collect()]
    assert sorted(rows) == sorted(rows2)


def test_negative_samples_r1_always_survives_disjoint_subjects(spark):
    from morra_spark.operators.kg_graph import negative_samples

    # 4 subjects each asserting ONE distinct object: vocab M=4, mix in
    # [1, M-1] = [1,3]. The r=1 corruption (idx+mix)%4 can never hit the
    # subject's own object (mix != 0 mod 4) nor another positive (other
    # positives have different subjects), so all 4 r=1 slots MUST
    # survive. The r=2 slot self-collides exactly when mix = 2
    # ((idx + 2*2) % 4 = idx) — allowed to be filtered, never emitted
    # as a positive.
    pos = spark.createDataFrame(
        [("s", "p", "o1"), ("t", "p", "o2"), ("u", "p", "o3"),
         ("v", "p", "o4")],
        "subj string, pred string, obj string")
    out = [(r.subj, r.neg_obj, r.r)
           for r in negative_samples(pos, n_neg=2).collect()]
    r1 = {s for s, _, r in out if r == 1}
    assert r1 == {"s", "t", "u", "v"}
    own = {"s": "o1", "t": "o2", "u": "o3", "v": "o4"}
    assert all(own[s] != o for s, o, _ in out)
    assert 4 <= len(out) <= 8


def test_predicate_signatures_hand_computed(spark):
    from morra_spark.operators.kg_graph import predicate_signatures

    t = spark.createDataFrame(
        [("a", "PER", "likes", "x", "ORG"),
         ("b", "PER", "likes", "y", "ORG"),
         ("c", "PER", "likes", "z", "LOC"),
         ("d", "ORG", "owns", "w", "LOC")],
        "subj string, subj_ne string, pred string, obj string,"
        " obj_ne string")
    out = {(r["pred"], r["subj_ne"], r["obj_ne"]): r
           for r in predicate_signatures(t).collect()}
    likes_org = out[("likes", "PER", "ORG")]
    assert likes_org["n"] == 2 and likes_org["rank"] == 1
    assert likes_org["share"] == pytest.approx(2 / 3, abs=1e-6)
    likes_loc = out[("likes", "PER", "LOC")]
    assert likes_loc["n"] == 1 and likes_loc["rank"] == 2
    owns = out[("owns", "ORG", "LOC")]
    assert owns["share"] == pytest.approx(1.0) and owns["rank"] == 1
    # signatures sum to 1 within every predicate
    shares = predicate_signatures(t).groupBy("pred") \
        .agg(F.round(F.sum("share"), 4).alias("s")).collect()
    assert all(r["s"] == pytest.approx(1.0, abs=1e-3) for r in shares)


def test_entity_profiles_topk_and_totals(spark):
    from morra_spark.operators.kg_graph import entity_profiles

    e = spark.createDataFrame(
        [("a", "p1", "x", 5), ("a", "p1", "y", 3), ("a", "p2", "z", 3),
         ("a", "p3", "w", 1), ("b", "p1", "x", 2)],
        "subj string, pred string, obj string, weight long")
    out = entity_profiles(e, k=2).collect()
    a = sorted([r for r in out if r["entity"] == "a"],
               key=lambda r: r["rank"])
    # totals come from ALL edges, not just the kept top-k
    assert a[0]["out_degree"] == 4 and a[0]["total_weight"] == 12
    assert [(r["rank"], r["pred"], r["neighbor"], r["weight"])
            for r in a] == [(1, "p1", "x", 5), (2, "p1", "y", 3)]
    # weight tie (3): p1 < p2 wins deterministically
    b = [r for r in out if r["entity"] == "b"]
    assert len(b) == 1 and b[0]["out_degree"] == 1
    assert b[0]["rank"] == 1 and b[0]["neighbor"] == "x"


def test_predicate_cardinality_functional_verdict(spark):
    from morra_spark.operators.kg_graph import predicate_cardinality

    t = spark.createDataFrame(
        # born_in: functional (1 obj/subj, repeated assertion ok)
        [("a", "born_in", "x"), ("a", "born_in", "x"),
         ("b", "born_in", "y"),
         # likes: multi-valued (a asserts 3 distinct objects)
         ("a", "likes", "p"), ("a", "likes", "q"), ("a", "likes", "r"),
         ("b", "likes", "p")],
        "subj string, pred string, obj string")
    out = {r["pred"]: r for r in predicate_cardinality(t).collect()}
    born = out["born_in"]
    assert born["functional"] and born["n_subjects"] == 2
    assert born["n_pairs"] == 2 and born["n_assertions"] == 3
    assert born["avg_obj_per_subj"] == pytest.approx(1.0)
    likes = out["likes"]
    assert not likes["functional"] and likes["max_obj_per_subj"] == 3
    assert likes["avg_obj_per_subj"] == pytest.approx(2.0)


def test_node_type_conflicts_report(spark):
    from morra_spark.operators.kg_graph import node_type_conflicts

    t = spark.createDataFrame(
        # "acme" is ORG twice as subject, LOC once as object -> 2 types,
        # dominant ORG 2/3; "bob" always PER -> not in the report
        [("acme", "ORG", "p", "bob", "PER"),
         ("acme", "ORG", "p", "bob", "PER"),
         ("bob", "PER", "visits", "acme", "LOC"),
         # "zed": 50/50 split -> conflicted, tie broken to larger tag
         ("zed", "AAA", "p", "bob", "PER"),
         ("zed", "BBB", "p", "bob", "PER")],
        "subj string, subj_ne string, pred string, obj string,"
        " obj_ne string")
    out = {r["entity"]: r for r in node_type_conflicts(t).collect()}
    assert set(out) == {"acme", "zed"}
    acme = out["acme"]
    assert acme["n_types"] == 2 and acme["n_mentions"] == 3
    assert acme["dominant_ne"] == "ORG"
    assert acme["dominant_share"] == pytest.approx(2 / 3, abs=1e-6)
    assert acme["conflicted"]  # 0.667 < 0.8
    zed = out["zed"]
    assert zed["dominant_ne"] == "BBB" and zed["conflicted"]
    assert zed["dominant_share"] == pytest.approx(0.5)


def test_kg_report_runner_reconciles(spark, triples, tmp_path):
    """The composed report job writes every artifact and its summary
    reconciles with the standalone operators on the same triples."""
    from morra_spark.operators.kg_graph import (graph_edges,
                                                predicate_cardinality)
    from morra_spark.plans.kg_report import run_kg_report

    out = str(tmp_path / "kg_report")
    s = run_kg_report(spark, triples=triples, out_dir=out, profile_k=2)
    assert s["n_triples"] == triples.count()
    assert s["n_edges"] == graph_edges(triples).count() > 0
    card = predicate_cardinality(triples.select("subj", "pred", "obj"))
    assert s["n_predicates"] == card.count()
    assert (s["n_functional_predicates"]
            == card.filter("functional").count())
    # artifacts written and self-consistent
    prof = spark.read.parquet(f"{out}/profiles")
    assert prof.filter(F.col("rank") > 2).count() == 0
    sig = spark.read.parquet(f"{out}/signatures")
    bad = (sig.groupBy("pred").agg(F.round(F.sum("share"), 3).alias("s"))
           .filter(F.abs(F.col("s") - 1.0) > 0.01).count())
    assert bad == 0
    summary = spark.read.parquet(f"{out}/summary").collect()
    assert len(summary) == 1
    assert summary[0]["n_nodes"] == s["n_nodes"]
    # degree histogram reconciles with the edge table: entity totals
    # per direction match distinct endpoints, and the summary's
    # max_out_degree is the true hottest subject
    edges = spark.read.parquet(f"{out}/edges")
    hist = spark.read.parquet(f"{out}/degree_hist")
    n_out = hist.filter("direction = 'out'") \
        .agg(F.sum("n_entities")).first()[0]
    assert n_out == edges.select("subj").distinct().count()
    true_max = (edges.groupBy("subj").count()
                .agg(F.max("count")).first()[0])
    assert s["max_out_degree"] == true_max


def test_coparticipation_hand_computed(spark):
    from morra_spark.operators.kg_graph import coparticipation_pairs

    e = spark.createDataFrame(
        # under p: a={x,y,z}, b={x,y,w}, c={x} -> (a,b) share {x,y};
        # c shares only x with each (below min_shared); duplicate
        # membership rows must not inflate counts; pred q is separate
        [("a", "p", "x"), ("a", "p", "x"), ("a", "p", "y"), ("a", "p", "z"),
         ("b", "p", "x"), ("b", "p", "y"), ("b", "p", "w"),
         ("c", "p", "x"),
         ("a", "q", "x"), ("b", "q", "x")],
        "subj string, pred string, obj string")
    out = coparticipation_pairs(e, min_shared=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["pred"], r["subj_a"], r["subj_b"]) == ("p", "a", "b")
    assert r["n_shared"] == 2 and r["n_a"] == 3 and r["n_b"] == 3
    assert r["jaccard"] == pytest.approx(2 / 4, abs=1e-6)


def test_coparticipation_obj_cap_bounds_hub_objects(spark):
    from morra_spark.operators.kg_graph import coparticipation_pairs

    # hub object "hot" touched by 10 subjects; cap 2 keeps s0, s1 only,
    # so the only surviving pair is (s0, s1) via {hot, extra}
    rows = [("s%d" % i, "p", "hot") for i in range(10)]
    rows += [("s0", "p", "extra"), ("s1", "p", "extra")]
    out = coparticipation_pairs(
        spark.createDataFrame(rows, "subj string, pred string, obj string"),
        min_shared=2, obj_cap=2).collect()
    assert [(r["subj_a"], r["subj_b"], r["n_shared"]) for r in out] \
        == [("s0", "s1", 2)]


# ------------------------------------------------- type inference (LP)

def _lp_frames(spark, nodes, edges):
    n = spark.createDataFrame(nodes, "entity string, ne_type string")
    e = spark.createDataFrame(edges, "subj string, obj string, weight long")
    return n, e


def test_infer_types_weighted_majority_and_conf(spark):
    from morra_spark.operators.kg_graph import infer_node_types

    n, e = _lp_frames(
        spark,
        [("a", "PER"), ("b", "ORG"), ("x", None)],
        # direction must not matter: x votes arrive via both orientations
        [("x", "a", 3), ("b", "x", 1)])
    got = {r.entity: (r.ne_type, r.inferred, r.conf)
           for r in infer_node_types(n, e, iters=1).collect()}
    assert got["x"] == ("PER", True, 0.75)
    assert got["a"] == ("PER", False, 1.0)
    assert got["b"] == ("ORG", False, 1.0)


def test_infer_types_tie_breaks_to_largest_tag(spark):
    from morra_spark.operators.kg_graph import infer_node_types

    n, e = _lp_frames(spark,
                      [("a", "LOC"), ("b", "PER"), ("x", None)],
                      [("x", "a", 2), ("x", "b", 2)])
    got = {r.entity: r.ne_type
           for r in infer_node_types(n, e, iters=1).collect()}
    assert got["x"] == "PER"  # the graph_nodes rule: largest tag wins


def test_infer_types_propagates_iters_hops(spark):
    from morra_spark.operators.kg_graph import infer_node_types

    n, e = _lp_frames(spark,
                      [("seed", "PER"), ("x1", None), ("x2", None)],
                      [("seed", "x1", 1), ("x1", "x2", 1)])
    one = {r.entity: r.ne_type
           for r in infer_node_types(n, e, iters=1).collect()}
    assert one["x1"] == "PER" and one["x2"] is None
    two = {r.entity: (r.ne_type, r.inferred)
           for r in infer_node_types(n, e, iters=2).collect()}
    assert two["x1"] == ("PER", True) and two["x2"] == ("PER", True)


def test_infer_types_seeds_clamped_and_isolated_stay_null(spark):
    from morra_spark.operators.kg_graph import infer_node_types

    n, e = _lp_frames(
        spark,
        [("b", "ORG"), ("p1", "PER"), ("p2", "PER"), ("p3", "PER"),
         ("lonely", None)],
        [("b", "p1", 5), ("b", "p2", 5), ("b", "p3", 5)])
    got = {r.entity: (r.ne_type, r.inferred, r.conf)
           for r in infer_node_types(n, e, iters=3).collect()}
    assert got["b"] == ("ORG", False, 1.0)  # outvoted but clamped
    assert got["lonely"] == (None, False, None)  # no guess, ever


def test_infer_types_folds_multiedges_and_is_partition_invariant(spark):
    from morra_spark.operators.kg_graph import infer_node_types

    n, e = _lp_frames(
        spark,
        [("a", "LOC"), ("b", "PER"), ("x", None)],
        # two parallel (x, a) edges must SUM to 2 and beat (x, b)'s 1;
        # if parallel edges were wrongly distinct-folded this would tie
        # and the largest-tag rule would flip the answer to PER
        [("x", "a", 1), ("x", "a", 1), ("x", "b", 1)])
    ref = {r.entity: (r.ne_type, r.conf)
           for r in infer_node_types(n, e, iters=1).collect()}
    assert ref["x"][0] == "LOC"
    rep = {r.entity: (r.ne_type, r.conf)
           for r in infer_node_types(
               n.repartition(7), e.repartition(5), iters=1).collect()}
    assert rep == ref


def test_infer_types_recovers_masked_fixture_types(spark, triples):
    """End-to-end homophily check on the real fixture KG: mask ~30% of
    node types (deterministic md5 bucket), propagate over the
    CO-PARTICIPATION graph (the same-role projection — direct KG edges
    are anti-homophilous, see the operator docstring), and demand >=90%
    of the recovered types agree with the originals."""
    from morra_spark.operators.kg_graph import (coparticipation_pairs,
                                                graph_edges, graph_nodes,
                                                infer_node_types)

    edges = graph_edges(triples)
    nodes = graph_nodes(triples, edges=edges)
    cop = coparticipation_pairs(triples, min_shared=1).select(
        F.col("subj_a").alias("subj"), F.col("subj_b").alias("obj"),
        F.col("n_shared").alias("weight"))
    bucket = (F.conv(F.substring(F.md5("entity"), 1, 15), 16, 10)
              .cast("long") % 10)
    masked = nodes.select(
        "entity",
        F.when(bucket < 3, None).otherwise(F.col("ne_type"))
        .alias("ne_type"))
    out = infer_node_types(masked, cop, iters=3)
    truth = nodes.select("entity", F.col("ne_type").alias("true_t"))
    j = out.filter("inferred").join(truth, "entity")
    tot = j.count()
    ok = j.filter("ne_type = true_t").count()
    assert tot > 10  # the mask actually bit, and LP actually reached
    assert ok / tot >= 0.9


def test_materialize_type_completion_fills_untagged(spark, tmp_path):
    """Opt-in flag: an entity whose mentions never carried a tag gets
    one from its same-role co-participants; default stays bit-identical
    (no new columns, NULL kept)."""
    from morra_spark.operators.kg_graph import materialize_graph

    t = spark.createDataFrame(
        [("c1", 1, "alice", "likes", "x", "PER", "MISC"),
         ("c1", 2, "bob", "likes", "x", "PER", "MISC"),
         ("c1", 3, "mystery", "likes", "x", None, "MISC")],
        "conv_id string, turn_idx int, subj string, pred string,"
        " obj string, subj_ne string, obj_ne string")
    off = str(tmp_path / "off")
    materialize_graph(t, off)
    n_off = {r.entity: r for r in
             spark.read.parquet(f"{off}/nodes").collect()}
    assert n_off["mystery"].ne_type is None
    assert "ne_inferred" not in spark.read.parquet(f"{off}/nodes").columns

    on = str(tmp_path / "on")
    materialize_graph(t, on, type_completion=True)
    n_on = {r.entity: r for r in
            spark.read.parquet(f"{on}/nodes").collect()}
    assert (n_on["mystery"].ne_type, n_on["mystery"].ne_inferred) \
        == ("PER", True)
    assert n_on["alice"].ne_type == "PER" and not n_on["alice"].ne_inferred
    assert n_on["x"].ne_type == "MISC" and not n_on["x"].ne_inferred
    # node universe and every other column unchanged by the flag
    assert set(n_on) == set(n_off)
    assert all(n_on[e].n_mentions == n_off[e].n_mentions for e in n_off)


def test_mine_horn_rules_hand_computed(spark):
    """Transitivity fixture: a→b→c with the derived a→c present and
    d→b→c with d→c missing ⇒ the L∧L⇒L rule scores support 1 over
    body 2, head 4."""
    from morra_spark.operators.kg_graph import mine_horn_rules

    t = spark.createDataFrame(
        [("a", "L", "b"), ("b", "L", "c"), ("d", "L", "b"),
         ("a", "L", "c"),
         # duplicate assertion must NOT inflate any count
         ("a", "L", "b")],
        "subj string, pred string, obj string")
    rules = {(r.p1, r.p2, r.p3): r for r in
             mine_horn_rules(t, min_support=1).collect()}
    r = rules[("L", "L", "L")]
    assert (r.support, r.body_size, r.head_size) == (1, 2, 4)
    assert r.confidence == pytest.approx(0.5)
    assert r.head_coverage == pytest.approx(0.25)
    # min_support=2 gates it out
    assert mine_horn_rules(t, min_support=2) \
        .filter("p1='L' and p2='L' and p3='L'").count() == 0
    # min_confidence above 0.5 gates it out
    assert mine_horn_rules(t, min_support=1, min_confidence=0.6) \
        .filter("p1='L' and p2='L' and p3='L'").count() == 0


def test_mine_horn_rules_mid_cap_drops_hub(spark):
    """A mid node with fan-out beyond the cap contributes no body
    instantiations (the documented recall bound), so the rule it alone
    witnesses disappears."""
    from morra_spark.operators.kg_graph import mine_horn_rules

    rows = [("x", "p1", "hub")]
    rows += [("hub", "p2", f"y{i}") for i in range(10)]
    rows += [("x", "p3", "y0")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    assert mine_horn_rules(t, min_support=1, mid_cap=64) \
        .filter("p1='p1' and p2='p2'").count() > 0
    assert mine_horn_rules(t, min_support=1, mid_cap=5) \
        .filter("p1='p1' and p2='p2'").count() == 0


def test_apply_horn_rules_emits_only_missing_with_best_witness(spark):
    """Completion emits exactly the body-derivable pairs whose head
    edge is absent; a candidate derivable by two rules keeps the
    higher-confidence witness and counts both."""
    from morra_spark.operators.kg_graph import (apply_horn_rules,
                                                mine_horn_rules)

    t = spark.createDataFrame(
        [("a", "L", "b"), ("b", "L", "c"), ("d", "L", "b"),
         ("a", "L", "c"),
         # second rule family M∧L⇒L: e's derived edge exists (support),
         # d's and f's don't → conf 1/3, below L∧L's 1/2
         ("d", "M", "b"), ("e", "M", "b"), ("f", "M", "b"),
         ("e", "L", "c")],
        "subj string, pred string, obj string")
    rules = mine_horn_rules(t, min_support=1, min_confidence=0.0)
    out = {(r.subj, r.pred, r.obj): r
           for r in apply_horn_rules(t, rules).collect()}
    # known edges (a, L, c) / (e, L, c) are NOT re-emitted
    assert ("a", "L", "c") not in out and ("e", "L", "c") not in out
    cand = out[("d", "L", "c")]
    # witnessed by L∧L⇒L (body {(a,c),(d,c)}, support {(a,c)} →
    # conf 1/2) and M∧L⇒L (conf 1/3) → best confidence wins
    assert cand.n_rules == 2
    assert cand.confidence == pytest.approx(0.5)
    assert (cand.rule_p1, cand.rule_p2) == ("L", "L")
    # f's pair only derivable via the weaker rule
    f_cand = out[("f", "L", "c")]
    assert f_cand.n_rules == 1
    assert f_cand.confidence == pytest.approx(1 / 3)
    assert (f_cand.rule_p1, f_cand.rule_p2) == ("M", "L")


def test_mine_horn_rules_fixture_kg_deterministic(spark, triples):
    """On the real fixture KG: mining is repartition-invariant, scores
    are internally consistent, and completion never re-emits a known
    edge."""
    from morra_spark.operators.kg_graph import (apply_horn_rules,
                                                mine_horn_rules)

    r1 = mine_horn_rules(triples, min_support=2).persist()
    try:
        assert r1.count() > 0
        assert r1.filter((F.col("confidence") > 1.0)
                         | (F.col("head_coverage") > 1.0)
                         | (F.col("support") > F.col("body_size"))
                         | (F.col("support") > F.col("head_size"))
                         ).count() == 0
        r2 = mine_horn_rules(triples.repartition(7), min_support=2)
        assert r1.exceptAll(r2).count() == 0
        assert r2.exceptAll(r1).count() == 0
        top = r1.orderBy(F.desc("confidence"), "p1", "p2", "p3").limit(5)
        cands = apply_horn_rules(triples, top)
        known = triples.select("subj", "pred", "obj").distinct()
        assert cands.join(known, ["subj", "pred", "obj"], "inner") \
            .count() == 0
    finally:
        r1.unpersist()


def test_kg_report_structure_flag(spark, triples, tmp_path):
    """--structure writes the kcore2/ and clustering/ audits and the
    summary reconciles with the standalone operators on the same
    aggregated edges; the default path writes neither."""
    from morra_spark.operators.components import (clustering_coefficient,
                                                  kcore)
    from morra_spark.plans.kg_report import run_kg_report

    out = str(tmp_path / "kg_report_s")
    s = run_kg_report(spark, triples=triples, out_dir=out, profile_k=2,
                      structure=True)
    edges = spark.read.parquet(f"{out}/edges")
    und = edges.selectExpr("subj as src", "obj as dst")
    assert s["n_core2_nodes"] == kcore(und, 2).count()
    got_core = {r.node for r in
                spark.read.parquet(f"{out}/kcore2").collect()}
    assert got_core == {r.node for r in kcore(und, 2).collect()}
    cc = spark.read.parquet(f"{out}/clustering")
    want = {r.node: (r.deg, r.n_triangles, r.coeff)
            for r in clustering_coefficient(und).collect()}
    assert {r.node: (r.deg, r.n_triangles, r.coeff)
            for r in cc.collect()} == want
    assert s["n_clustered_nodes"] == sum(1 for v in want.values()
                                         if v[2] > 0)
    hits = {r.node: (r.hub, r.authority)
            for r in spark.read.parquet(f"{out}/hits").collect()}
    from morra_spark.operators.components import hits_scores
    want_hits = {r.node: (r.hub, r.authority)
                 for r in hits_scores(edges, src="subj", dst="obj",
                                      weight_col="weight").collect()}
    # two independent executions: float-fold order can wobble a score
    # sitting on a rounding boundary by one last-decimal grain (the
    # documented pagerank-family caveat), so compare with tolerance
    assert set(hits) == set(want_hits)
    for n, (h, a) in want_hits.items():
        assert hits[n][0] == pytest.approx(h, abs=2e-6)
        assert hits[n][1] == pytest.approx(a, abs=2e-6)
    assert s["top_authority_milli"] == pytest.approx(round(
        1000 * max(a for _, a in want_hits.values())), abs=1)
    from morra_spark.operators.components import ktruss
    truss = {(r.x, r.y): r.support
             for r in spark.read.parquet(f"{out}/truss3").collect()}
    assert truss == {(r.x, r.y): r.support
                     for r in ktruss(und, 3).collect()}
    assert s["n_truss3_edges"] == len(truss)

    import os
    out2 = str(tmp_path / "kg_report_d")
    s2 = run_kg_report(spark, triples=triples, out_dir=out2, profile_k=2)
    assert "n_core2_nodes" not in s2
    assert not os.path.exists(f"{out2}/kcore2")
    assert not os.path.exists(f"{out2}/hits")


def test_predicate_similarity_hand_and_invariance(spark):
    """Hand-computed overlap scores, the merge-vs-subsume direction
    read-out, duplicate-assertion immunity, the min_shared gate, and
    repartition invariance."""
    from morra_spark.operators.kg_graph import predicate_similarity

    rows = [("a", "spouse", "b"), ("c", "spouse", "d"),
            ("e", "spouse", "f"),
            ("a", "married", "b"), ("c", "married", "d"),
            ("a", "married", "b"),               # duplicate assertion
            ("a", "knows", "b"), ("x", "knows", "y"),
            ("z", "knows", "w")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    for df in (t, t.repartition(5)):
        got = {(r.pred_a, r.pred_b): r
               for r in predicate_similarity(df).collect()}
        # knows shares only 1 pair with each -> below min_shared
        assert set(got) == {("married", "spouse")}
        r = got[("married", "spouse")]
        assert (r.n_shared, r.n_a, r.n_b) == (2, 2, 3)
        assert r.jaccard == round(2 / 3, 6)
        # married => spouse always holds; spouse => married at 2/3:
        # married is a SUB-predicate of spouse, not a synonym
        assert r.conf_ab == 1.0
        assert r.conf_ba == round(2 / 3, 6)
    low = {(r.pred_a, r.pred_b)
           for r in predicate_similarity(t, min_shared=1).collect()}
    assert ("knows", "spouse") in low and ("knows", "married") in low


def test_predicate_merge_map_and_apply(spark):
    """Chained synonyms collapse to one lexicographically-smallest
    canonical through components, sub-predicates and unrelated
    predicates survive untouched, and the rewrite preserves every
    non-pred column."""
    from morra_spark.operators.kg_graph import (apply_predicate_map,
                                                graph_edges,
                                                predicate_merge_map)

    shared = [("a", "b"), ("c", "d"), ("e", "f")]
    rows = []
    # wed ~ spouse ~ married: identical pair sets (jaccard 1.0), but
    # only adjacent pairs need to clear the threshold for the chain
    for p in ("spouse", "married", "wed"):
        rows += [(s, p, o) for s, o in shared]
    # "knows" subsumes them all (superset): conf high, jaccard low
    rows += [(s, "knows", o) for s, o in shared]
    rows += [("x", "knows", "y"), ("p", "knows", "q"),
             ("r", "knows", "t"), ("u", "knows", "v"),
             ("w", "knows", "z"), ("m", "knows", "n")]
    rows += [("g", "hires", "h"), ("i", "hires", "j")]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")

    m = {r.pred: r.canon
         for r in predicate_merge_map(t, min_jaccard=0.8).collect()}
    assert m == {"spouse": "married", "married": "married",
                 "wed": "married"}

    out = apply_predicate_map(t, predicate_merge_map(t, min_jaccard=0.8))
    preds = {r.pred for r in out.select("pred").distinct().collect()}
    assert preds == {"married", "knows", "hires"}
    assert out.count() == t.count()
    assert out.columns == t.columns
    # merged predicates re-aggregate at the edge grain: 3 predicates x
    # 3 shared pairs collapse to weight-3 "married" edges
    e = graph_edges(out.withColumn("subj_ne", F.lit("PER"))
                    .withColumn("obj_ne", F.lit("PER"))
                    .withColumn("conv_id", F.lit("c"))
                    .withColumn("turn_idx", F.lit(0)))
    w = {(r.subj, r.obj): r.weight
         for r in e.filter("pred = 'married'").collect()}
    assert w == {("a", "b"): 3, ("c", "d"): 3, ("e", "f"): 3}


def test_predicate_similarity_ignores_null_endpoint_rows(spark):
    """Null-endpoint triples (kept pipeline-wide for unresolved
    pronouns) can never match the null-rejecting (subj, obj) self-join,
    so counting them into n_a/n_b would deflate jaccard for predicates
    with unresolved rows: two true synonyms each carrying null-subj
    rows must still score jaccard 1.0."""
    from morra_spark.operators.kg_graph import predicate_similarity

    rows = [("a", "spouse", "b"), ("c", "spouse", "d"),
            ("a", "married", "b"), ("c", "married", "d"),
            (None, "spouse", "q1"), (None, "spouse", "q2"),
            (None, "married", "q3"), ("x", "married", None)]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {(r.pred_a, r.pred_b): r
           for r in predicate_similarity(t).collect()}
    r = got[("married", "spouse")]
    assert (r.n_shared, r.n_a, r.n_b) == (2, 2, 2)
    assert r.jaccard == 1.0 and r.conf_ab == 1.0 and r.conf_ba == 1.0


def test_infer_types_fractional_weights_vote_exactly(spark):
    """The docstring invites near-dup/similarity pair sets whose
    weights are fractional scores in (0,1); a bare cast("long") would
    truncate them all to 0 and degenerate the weighted vote to the
    lexicographic tie-break. Weights are quantized to 1e6-grain longs
    instead: PER (0.9) must beat ORG (0.5) with conf 0.9/1.4."""
    from morra_spark.operators.kg_graph import infer_node_types

    n = spark.createDataFrame([("a", "PER"), ("b", "ORG"), ("x", None)],
                              "entity string, ne_type string")
    e = spark.createDataFrame([("x", "a", 0.9), ("b", "x", 0.5)],
                              "subj string, obj string, weight double")
    got = {r.entity: (r.ne_type, r.inferred, r.conf)
           for r in infer_node_types(n, e, iters=1).collect()}
    typ, inferred, conf = got["x"]
    assert (typ, inferred) == ("PER", True)
    assert abs(conf - 0.9 / 1.4) < 1e-9


def test_infer_types_rejects_missing_weight_col(spark):
    """A misspelled ``weight_col`` raises instead of silently running
    the unweighted vote; ``weight_col=None`` is the explicit opt-out."""
    from morra_spark.operators.kg_graph import infer_node_types

    n, e = _lp_frames(spark, [("a", "PER"), ("x", None)], [("x", "a", 3)])
    with pytest.raises(ValueError, match="weigth"):
        infer_node_types(n, e, weight_col="weigth")
    got = {r.entity: r.ne_type
           for r in infer_node_types(n, e.drop("weight"), iters=1,
                                     weight_col=None).collect()}
    assert got["x"] == "PER"


def test_negative_samples_subject_corruption_mode(spark):
    """corrupt='subj' mirrors the protocol: negatives are (s', p, o)
    with s' from the SUBJECT vocabulary, no collision with positives,
    bit-stable, and the historical obj-mode output is untouched by the
    new parameter (same rows as a default call)."""
    from morra_spark.operators.kg_graph import negative_samples

    pos_rows = [("s1", "p", "o1"), ("s2", "p", "o1"), ("s3", "p", "o1"),
                ("s4", "p", "o2"), ("s5", "p", "o3")]
    pos = spark.createDataFrame(pos_rows,
                                "subj string, pred string, obj string")
    out = negative_samples(pos, n_neg=2, corrupt="subj")
    assert out.columns == ["neg_subj", "pred", "obj", "r"]
    rows = [(r.neg_subj, r.pred, r.obj, r.r) for r in out.collect()]
    assert rows, "subject corruption produced nothing"
    # no emitted negative is a positive; vocab is the subject side
    assert not ({(s, p, o) for s, p, o, _ in rows} & set(pos_rows))
    subj_vocab = {s for s, _, _ in pos_rows}
    assert all(s in subj_vocab for s, _, _, _ in rows)
    # o1 carries 3/5 subjects as positives -> filtered protocol bites
    assert len(rows) < len(pos_rows) * 2
    rows2 = [(r.neg_subj, r.pred, r.obj, r.r)
             for r in negative_samples(pos, n_neg=2,
                                       corrupt="subj").collect()]
    assert sorted(rows) == sorted(rows2)
    # default-mode output unchanged by the parametrization
    a = sorted((r.subj, r.pred, r.neg_obj, r.r)
               for r in negative_samples(pos, n_neg=2).collect())
    b = sorted((r.subj, r.pred, r.neg_obj, r.r)
               for r in negative_samples(pos, n_neg=2,
                                         corrupt="obj").collect())
    assert a == b
    with pytest.raises(ValueError, match="corrupt"):
        negative_samples(pos, corrupt="pred")
