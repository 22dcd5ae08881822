"""KG graph materialization — the explicit node/edge tables behind the
north rule's "graph materialize" step (BASELINE.json north_rule; the
partitioned triple sink is the raw edge-list form, this is the
aggregated graph a consumer queries).

* ``graph_nodes``: one row per canonical entity — mention count, in/out
  degree, conversation reach, and the entity's NE type resolved
  deterministically (most frequent, ties to the lexicographically
  LARGEST tag — so re-runs and engines agree bit-for-bit).
* ``graph_edges``: one row per distinct (subj, pred, obj) — weight =
  supporting triple count, n_convs = distinct conversations asserting
  it, first/last turn seen, NE tags resolved by the same
  most-frequent/largest rule as nodes (a triple asserted with differing
  NE tags across mentions is still ONE edge — ADVICE r4). The
  confidence-ish signal every downstream linker/ranker wants without
  re-reading raw triples.

100 TB shape: two partial-aggregating groupBys over the triple table
(edge grain, then node grain over the exploded endpoints) — hub
entities ("Alice" in every conversation) partial-aggregate map-side, so
a skewed entity costs one hot reduce key carrying counts, never bodies;
distinct-conversation counts use approx_count_distinct at the node
grain (exact at edge grain via the two-level rollup) to keep the node
aggregate mergeable. No window, no driver state; output is small
(entity vocabulary), so downstream joins against nodes broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def graph_edges(triples: DataFrame) -> DataFrame:
    """Aggregate raw triples to the distinct (subj, pred, obj) grain.

    weight (supporting triples), n_convs (exact distinct
    conversations), first_turn/last_turn (min/max turn_idx as a
    recency signal — (conv_id, turn_idx) evidence is
    conversation-local). NE tags are resolved per edge with the node
    rule: most frequent (subj_ne, obj_ne) pair, ties to the
    lexicographically largest pair, so a triple asserted under
    differing NE tags across mentions stays ONE edge and never
    inflates node degrees (ADVICE r4). Both aggregates partial-combine
    map-side and join co-keyed on the edge key — hub predicates cost
    one hot reduce key carrying counts, never bodies.
    """
    key = ["subj", "pred", "obj"]
    base = (triples.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("weight"),
                 F.countDistinct("conv_id").alias("n_convs"),
                 F.min("turn_idx").alias("first_turn"),
                 F.max("turn_idx").alias("last_turn")))
    # max_by over the SAME struct(n, subj_ne, obj_ne) in both picks so
    # the chosen tags come from one source row (a coherent pair), not a
    # mix of two different mentions' tags
    ne = (triples.groupBy(*key, "subj_ne", "obj_ne")
          .agg(F.count(F.lit(1)).alias("n"))
          .groupBy(*key)
          .agg(F.expr("max_by(subj_ne, struct(n, subj_ne, obj_ne))")
               .alias("subj_ne"),
               F.expr("max_by(obj_ne, struct(n, subj_ne, obj_ne))")
               .alias("obj_ne")))
    # null-SAFE equi-join (still hash/SMJ-plannable): a pass-through
    # triple with subj=NULL (resolve_triple_anaphora keeps unresolved
    # pronouns as null-subj rows) forms a null group in BOTH groupBys —
    # a null-rejecting join would silently drop its edge while
    # graph_nodes still counted the obj endpoint (code-review r5)
    cond = [base[c].eqNullSafe(ne[c]) for c in key]
    return base.join(ne, cond).select(
        *[base[c] for c in key], ne["subj_ne"], ne["obj_ne"],
        "weight", "n_convs", "first_turn", "last_turn")


def graph_nodes(triples: DataFrame,
                edges: DataFrame | None = None) -> DataFrame:
    """Aggregate triple endpoints to the entity grain.

    Degrees are counted over DISTINCT edges (the aggregated graph, not
    raw mentions), mention counts over raw triples; ne_type is the most
    frequent NE tag for the entity with a lexicographic tie-break
    (max_by over a (count, reversed-tag) pair would need a custom
    ordering, so the rank is made explicit and deterministic).

    Pass ``edges`` (a ``graph_edges`` result, e.g. the just-written
    table) to skip recomputing the edge aggregation — without it the
    two corpus-sized edge-grain groupBys run a second time inside this
    call (code-review r5; ``materialize_graph`` reuses its written
    edges this way).
    """
    if edges is None:
        edges = graph_edges(triples)
    out_deg = edges.groupBy(F.col("subj").alias("_out_e")) \
        .agg(F.count(F.lit(1)).alias("out_degree"))
    in_deg = edges.groupBy(F.col("obj").alias("_in_e")) \
        .agg(F.count(F.lit(1)).alias("in_degree"))
    mentions = (triples.select(F.col("subj").alias("entity"),
                               F.col("subj_ne").alias("ne_type"),
                               "conv_id")
                .unionByName(triples.select(F.col("obj").alias("entity"),
                                            F.col("obj_ne").alias("ne_type"),
                                            "conv_id")))
    m_stats = (mentions.groupBy("entity")
               .agg(F.count(F.lit(1)).alias("n_mentions"),
                    F.approx_count_distinct("conv_id").alias("approx_convs")))
    ne_rank = (mentions.groupBy("entity", "ne_type")
               .agg(F.count(F.lit(1)).alias("n"))
               .groupBy(F.col("entity").alias("_ne_e"))
               .agg(F.expr("max_by(ne_type, struct(n, ne_type))")
                    .alias("ne_type")))
    # max_by on struct(n, ne_type): highest count wins, ties resolve to
    # the lexicographically LARGEST tag — a fixed, engine-stable rule.
    # Joins are null-SAFE so the null entity (unresolved-pronoun subj)
    # keeps its row and its degrees, matching graph_edges (code-review r5)
    return (m_stats
            .join(ne_rank, F.col("entity").eqNullSafe(F.col("_ne_e")))
            .drop("_ne_e")
            .join(out_deg, F.col("entity").eqNullSafe(F.col("_out_e")),
                  "left").drop("_out_e")
            .join(in_deg, F.col("entity").eqNullSafe(F.col("_in_e")),
                  "left").drop("_in_e")
            .select("entity", "ne_type", "n_mentions", "approx_convs",
                    F.coalesce("out_degree", F.lit(0)).cast("long")
                    .alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).cast("long")
                    .alias("in_degree")))


def negative_samples(positives: DataFrame, n_neg: int = 1,
                     subj: str = "subj", pred: str = "pred",
                     obj: str = "obj", corrupt: str = "obj") -> DataFrame:
    """Filtered deterministic negative sampling — the corrupt-triple
    generator KG-embedding training (TransE/DistMult-style) needs next
    to every positive triple table. For each positive (s, p, o) emit
    ``n_neg`` corrupted triples (s, p, o') with o' drawn from the
    object vocabulary, then drop FALSE negatives (corruptions that
    collide with a real positive — 'filtered' protocol, Bordes et al.).

    ``corrupt="subj"`` runs the mirror protocol — (s', p, o) with s'
    from the SUBJECT vocabulary, returning (neg_subj, pred, obj, r) —
    the other half of the standard both-sides corruption; full-protocol
    training takes the union of one call per side (each side's filter
    and vocabulary are independent, so a union mode would just hide
    that composition). ``corrupt="obj"`` output is byte-identical to
    the historical single-mode form (oracle-pinned).

    Determinism (and hence SQL-oracle replay) instead of RNG: the
    object vocabulary gets a dense sort-rank index 0..M-1, and sample
    ``r`` for a positive at index ``i`` is the entity at
    ``(i + mix(s, p) * r) % M``, where ``mix`` is the repo's
    engine-portable md5 integer reduced to [1, M-1]. The self-collision
    (o' = o) needs no special case: (s, p, o) is itself a positive, so
    the filter join removes it.

    100 TB shape: the vocabulary is entity-dim-sized — orders smaller
    than the triple table — so the rank window runs on the DIM side
    (its single-partition sort is a vocab-sized op, never applied to
    the fact table; at extreme vocab sizes swap in a two-level
    zipWithIndex-style ranking) and the (idx -> entity) map BROADCASTS
    to both the positive-indexing join and the negative-resolution
    join. The fact-side work is two broadcast joins + one map-side
    md5 + the final LEFT ANTI against positives, co-keyed on
    (subj, pred, obj) — no shuffle carries more than key columns, and
    the anti-join is the only fact-fact exchange.

    Returns (subj, pred, neg_obj, r) — one row per surviving
    corruption, r in 1..n_neg (``neg_subj`` leading instead under
    ``corrupt="subj"``).
    """
    from pyspark.sql import Window

    if corrupt not in ("obj", "subj"):
        raise ValueError(f"corrupt must be 'obj' or 'subj', got "
                         f"{corrupt!r}")
    # one body, two roles: the corrupted column supplies the
    # vocabulary; the md5 mix runs over the UNCORRUPTED key pair
    corrupt_col = obj if corrupt == "obj" else subj
    mix_cols = (subj, pred) if corrupt == "obj" else (pred, obj)
    out_name = "neg_obj" if corrupt == "obj" else "neg_subj"
    out_cols = ([subj, pred, out_name] if corrupt == "obj"
                else [out_name, pred, obj])
    key = [subj, pred, obj]
    pos = positives.select(*key).distinct()
    vocab = (pos.select(F.col(corrupt_col).alias("_ent")).distinct()
             .withColumn("idx", F.row_number().over(
                 Window.orderBy("_ent")) - 1))
    m = vocab.agg(F.count(F.lit(1)).alias("_m"))  # 1-row broadcast, no collect
    # greatest(_m - 1, 1): a single-entity vocabulary (_m = 1) would be
    # x % 0 — DIVIDE_BY_ZERO under Spark 4 ANSI. With the guard, every
    # corruption self-collides and the filter join yields the empty
    # result the filtered protocol implies (code-review r5)
    mix = (F.conv(F.substring(
        F.md5(F.concat_ws("|", *[F.col(c) for c in mix_cols])), 1, 15),
        16, 10)
        .cast("long") % F.greatest(F.col("_m") - 1, F.lit(1)) + 1)
    indexed = (pos
               .join(F.broadcast(vocab.withColumnRenamed("_ent",
                                                         corrupt_col)),
                     corrupt_col)
               .crossJoin(F.broadcast(m))
               .withColumn("_mix", mix)
               .withColumn("r", F.explode(F.sequence(F.lit(1),
                                                     F.lit(int(n_neg)))))
               .withColumn("_nidx",
                           (F.col("idx") + F.col("_mix") * F.col("r"))
                           % F.col("_m")))
    resolve = vocab.select(F.col("idx").alias("_nidx"),
                           F.col("_ent").alias(out_name))
    cand = (indexed.join(F.broadcast(resolve), "_nidx")
            .select(*out_cols, "r"))
    return cand.join(
        pos.withColumnRenamed(corrupt_col, out_name),
        out_cols, "left_anti")


def resolve_functional(assertions: DataFrame, subj: str, obj: str,
                       ts: str = "ts", tau_days: float = 7.0,
                       round_to: int = 6) -> DataFrame:
    """Knowledge fusion for a functional predicate: one resolved object
    per subject, by recency-decayed vote.

    A transcript corpus asserts conflicting values for single-valued
    facts ("user's current plan", "entity's type") — mentions pile up
    over months and the NEWEST evidence should outweigh stale bulk.
    Each assertion votes with weight ``exp(-age_days / tau_days)``
    (age in whole days before the corpus anchor = the newest assertion
    anywhere, so the job is deterministic and re-runnable); per
    (subj, obj) the votes sum, and the subject resolves to the object
    with the highest decayed score (ties broken by the
    lexicographically smallest object — a fixed, engine-stable rule).

    Determinism across engines: the age is an INTEGER day count
    (``floor(seconds / 86400)``) so the ``exp`` argument is identical
    bit-for-bit on both sides, and the argmax orders by the score
    quantized to micro-units (``round(score * 1e6)`` as a long) —
    double summation-order noise (~1e-10 relative) can never flip the
    winner, and both engines pick the same row.

    100 TB shape: ONE partial-aggregating groupBy on (subj, obj) —
    map-side combine absorbs hot subjects — then a subject-keyed window
    over the (subj, obj) grain, which is orders smaller than the
    assertion table. No window ever touches raw assertions.

    Returns (subj, resolved obj, score, votes, support, n_candidates):
    ``support`` = winner's share of the subject's total decayed score,
    ``n_candidates`` = number of distinct objects asserted.
    """
    from pyspark.sql import Window

    anchor = assertions.agg(F.max(ts).alias("_anchor"))  # 1-row broadcast
    weighted = (assertions
                .crossJoin(F.broadcast(anchor))
                .withColumn("_age_d", F.floor(
                    (F.unix_timestamp("_anchor") - F.unix_timestamp(ts))
                    / F.lit(86400.0)))
                .withColumn("_w", F.exp(-F.col("_age_d")
                                        / F.lit(float(tau_days)))))
    scored = weighted.groupBy(subj, obj).agg(
        F.sum("_w").alias("_score"),
        F.count(F.lit(1)).alias("votes"))
    w_subj = Window.partitionBy(subj)
    ranked = (scored
              .withColumn("_score_u",
                          F.round(F.col("_score") * 1e6).cast("long"))
              .withColumn("_total", F.sum("_score").over(w_subj))
              .withColumn("n_candidates", F.count(F.lit(1)).over(w_subj))
              .withColumn("_rn", F.row_number().over(
                  w_subj.orderBy(F.col("_score_u").desc(), F.col(obj)))))
    return (ranked.filter(F.col("_rn") == 1)
            .select(subj, obj,
                    F.round("_score", round_to).alias("score"),
                    "votes",
                    F.round(F.col("_score") / F.col("_total"),
                            round_to).alias("support"),
                    "n_candidates"))


def predicate_signatures(triples: DataFrame, round_to: int = 6) -> DataFrame:
    """Ontology induction over an extracted triple set: the
    (subj_ne, pred, obj_ne) type-signature profile — for every
    predicate, which NE-type pairs it actually connects, with support
    and within-predicate share. This is the schema report every KG
    build ships (it's how you notice ``born_in`` connecting Org→Person,
    i.e. an extraction bug, before a consumer does) and the prior a
    type-aware linker uses to rescore ambiguous candidates.

    Deterministic: share rounds to ``round_to``; rank orders by
    (n desc, subj_ne, obj_ne) so ties are stable across engines,
    partitionings, and re-runs.

    100 TB shape: ONE partial-aggregating groupBy over the triples —
    the signature space is |preds| × |NE types|² (hundreds), so hub
    predicates combine map-side and the window runs over the aggregated
    signature grain, never corpus rows.
    """
    from pyspark.sql import Window

    sig = (triples.groupBy("pred", "subj_ne", "obj_ne")
           .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("pred")
    return (sig
            .withColumn("share", F.round(
                F.col("n") / F.sum("n").over(w), round_to))
            .withColumn("rank", F.row_number().over(
                w.orderBy(F.col("n").desc(), "subj_ne", "obj_ne")))
            .select("pred", "subj_ne", "obj_ne", "n", "share", "rank"))


def predicate_cardinality(triples: DataFrame,
                          functional_max_avg: float = 1.05,
                          round_to: int = 6) -> DataFrame:
    """Predicate cardinality profile — decides WHERE knowledge fusion
    applies: a predicate whose subjects each assert ~one distinct
    object is functional (``resolve_functional`` should arbitrate its
    conflicts); one with many objects per subject is multi-valued and
    must NOT be collapsed. Reports, per predicate: distinct subjects,
    distinct (subj, obj) pairs, assertion count, average and max
    distinct objects per subject, and the functional verdict
    (avg ≤ ``functional_max_avg`` — a hair above 1.0 so a few
    extraction errors don't flip a genuinely functional predicate).

    100 TB shape: one partial-aggregating groupBy to the
    (pred, subj) grain (hub subjects combine map-side; the count of
    distinct objects is exact at that grain), then one tiny aggregate
    to predicate grain. No window, no distinct over raw triples.
    """
    per_subj = (triples.groupBy("pred", "subj")
                .agg(F.countDistinct("obj").alias("n_obj"),
                     F.count(F.lit(1)).alias("n_assert")))
    return (per_subj.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n_subjects"),
                 F.sum("n_obj").alias("n_pairs"),
                 F.sum("n_assert").alias("n_assertions"),
                 F.round(F.sum("n_obj") / F.count(F.lit(1)),
                         round_to).alias("avg_obj_per_subj"),
                 F.max("n_obj").alias("max_obj_per_subj"))
            .withColumn("functional",
                        F.col("avg_obj_per_subj")
                        <= F.lit(float(functional_max_avg))))


def node_type_conflicts(triples: DataFrame, min_share: float = 0.8,
                        round_to: int = 6) -> DataFrame:
    """NE-type conflict audit — the graph-quality report behind
    ``graph_nodes``' deterministic type pick: entities asserted under
    MORE than one NE tag across their mentions (subject and object
    positions both count), with the dominant tag's share. A low
    dominant share means the type pick is genuinely ambiguous
    (extraction bug, or a real polysemous surface the linker should
    split); ``conflicted`` flags share < ``min_share``. Entities with
    one tag never appear — the report is the exception list.

    100 TB shape: endpoint explode → ONE partial-aggregating groupBy at
    (entity, ne) grain (hub entities combine map-side) → entity-grain
    aggregate with max_by for the dominant tag (ties to the
    lexicographically largest, same rule as graph_nodes). Output is
    bounded by the conflicted vocabulary.
    """
    mentions = (triples.select(F.col("subj").alias("entity"),
                               F.col("subj_ne").alias("ne"))
                .unionByName(triples.select(F.col("obj").alias("entity"),
                                            F.col("obj_ne").alias("ne"))))
    per_tag = (mentions.groupBy("entity", "ne")
               .agg(F.count(F.lit(1)).alias("n")))
    agg = (per_tag.groupBy("entity")
           .agg(F.count(F.lit(1)).alias("n_types"),
                F.sum("n").alias("n_mentions"),
                F.expr("max_by(ne, struct(n, ne))").alias("dominant_ne"),
                F.max(F.struct("n", "ne")).getField("n").alias("_dom_n")))
    return (agg.filter(F.col("n_types") > 1)
            .withColumn("dominant_share", F.round(
                F.col("_dom_n") / F.col("n_mentions"), round_to))
            .withColumn("conflicted",
                        F.col("dominant_share") < F.lit(float(min_share)))
            .select("entity", "n_types", "n_mentions", "dominant_ne",
                    "dominant_share", "conflicted"))


def infer_node_types(nodes: DataFrame, edges: DataFrame, *,
                     iters: int = 3, subj: str = "subj", obj: str = "obj",
                     weight_col: str | None = "weight") -> DataFrame:
    """Semi-supervised NE-type completion by label propagation — fill
    the NULL ``ne_type`` of untyped entities from their graph
    neighborhood (the classic clamped-seed LP: Zhu & Ghahramani-style
    majority vote, here in its hard-label weighted form).

    Why: ``graph_nodes`` types an entity only from its OWN mention
    tags; entities that only ever appear untyped (pronoun-resolved
    subjects, tool-emitted ids, fused canonical forms whose variants
    carried no tag) stay NULL and fall out of every type-filtered
    query.

    INPUT GRAPH CHOICE IS THE MODEL — LP assumes homophily (neighbors
    share types), and the DIRECT KG edge set violates it: subjects
    link to objects of OTHER types, so propagating over
    ``graph_edges`` output anti-predicts (measured on the fixture KG:
    0/41 masked types recovered). Feed a SAME-ROLE graph instead —
    ``coparticipation_pairs`` (subjects sharing objects under one
    predicate: selectional-preference homophily; 32/33 masked types
    recovered on the same fixture, the pinned
    ``test_infer_types_recovers_masked_fixture_types``) or any
    near-dup/similarity pair set.

    Semantics (deterministic, engine-stable):
    * Seeds (non-null input types) are CLAMPED — never overwritten,
      ``inferred=false, conf=1.0``.
    * Per iteration, every still-untyped node takes the
      edge-weight-majority type among its TYPED neighbors (symmetrized
      edge set, multi-edge weights folded by sum); ties resolve to the
      lexicographically largest tag — the exact ``graph_nodes`` rule,
      so both typers agree on ambiguity. ``conf`` is the winning share
      of that node's typed-neighbor weight in its assignment round.
    * Nodes labeled in round r vote from round r+1 on, so types flow
      ``iters`` hops into untyped regions; nodes with no typed
      neighbor within reach stay NULL (never guessed).

    100 TB shape: the symmetrized weighted edge list is aggregated once
    and checkpointed (the ``pagerank_fixed`` loop-invariant
    discipline); each fixed iteration is ONE equi-join of edges against
    the typed label set plus two partial-aggregating groupBys
    ((node, type) weight fold, then a max_by argmax at node grain) —
    no window, no driver state, no Python. Hub entities cost one hot
    reduce key of counts; weights are quantized to 1e6-grain longs
    before the fold so the vote is exact integer arithmetic even for
    fractional similarity weights (no float-summation order
    sensitivity).
    """
    if weight_col is not None and weight_col not in edges.columns:
        # a misspelled weight column must not silently degrade the
        # weighted vote to an unweighted one (ADVICE r5)
        raise ValueError(f"weight_col {weight_col!r} not in edge columns "
                         f"{edges.columns}; pass weight_col=None for an "
                         "unweighted vote")
    # quantize to 1e6-grain longs (the embed_nodes discipline): a bare
    # cast("long") would truncate the fractional similarity weights the
    # docstring invites to 0, silently degenerating the weighted vote;
    # integer weights scale by exactly 1e6 so the vote and the
    # conf = _wmax/_wtot ratio are unchanged for them
    w = (F.round(F.col(weight_col) * 1e6).cast("long")
         if weight_col is not None else F.lit(1_000_000).cast("long"))
    e = edges.select(F.col(subj).alias("u"), F.col(obj).alias("v"),
                     w.alias("w"))
    sym = (e.unionByName(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v"), "w"))
           .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
           .groupBy("u", "v").agg(F.sum("w").alias("w"))
           .localCheckpoint(eager=True))
    labels = nodes.select(
        "entity", "ne_type",
        F.lit(False).alias("inferred"),
        F.when(F.col("ne_type").isNotNull(), F.lit(1.0)).alias("conf"))
    for _ in range(iters):
        votes = (sym
                 .join(labels.filter(F.col("ne_type").isNotNull())
                       .select(F.col("entity").alias("v"),
                               F.col("ne_type").alias("_nbr_t")), "v")
                 .groupBy(F.col("u"), "_nbr_t")
                 .agg(F.sum("w").alias("_tw"))
                 .groupBy("u")
                 .agg(F.expr("max_by(_nbr_t, struct(_tw, _nbr_t))")
                      .alias("_cand"),
                      F.max("_tw").alias("_wmax"),
                      F.sum("_tw").alias("_wtot")))
        fresh = F.col("ne_type").isNull() & F.col("_cand").isNotNull()
        labels = (labels.join(votes, labels["entity"] == votes["u"],
                              "left")
                  .select("entity",
                          F.coalesce("ne_type", "_cand").alias("ne_type"),
                          F.when(fresh, F.lit(True))
                          .otherwise(F.col("inferred")).alias("inferred"),
                          F.when(fresh,
                                 F.col("_wmax") / F.col("_wtot"))
                          .otherwise(F.col("conf")).alias("conf"))
                  # labels feeds BOTH the vote join and the outer join,
                  # so without a per-round lineage cut the plan doubles
                  # per iteration (the connected_components discipline)
                  .localCheckpoint(eager=True))
    return labels


def entity_profiles(edges: DataFrame, k: int = 3) -> DataFrame:
    """Per-entity ego summary — the serving-layer row a KG consumer
    (RAG context assembly, entity cards, disambiguation UIs) reads
    instead of scanning edges: each subject's out-degree, total edge
    weight, and its top-``k`` outgoing (pred, obj) neighbors by weight
    (ties: pred asc, obj asc — deterministic). LONG form (one row per
    kept neighbor, rank 1..k) so the row stays narrow at any k.

    Input grain: aggregated edges (subj, pred, obj, weight) —
    ``graph_edges`` output, orders smaller than raw triples. One
    subject-keyed window over that grain; per-subject totals share the
    same window partition, so the whole profile costs ONE exchange.
    A hub subject costs one sorted partition of its own edges — at
    10^9-edge hubs, cap upstream with the same two-phase trick as
    reassembly (only over-k subjects need the full sort).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("subj")
    ranked = (edges
              .withColumn("out_degree", F.count(F.lit(1)).over(w))
              .withColumn("total_weight", F.sum("weight").over(w))
              .withColumn("rank", F.row_number().over(
                  w.orderBy(F.col("weight").desc(), "pred", "obj"))))
    return (ranked.filter(F.col("rank") <= k)
            .select(F.col("subj").alias("entity"), "out_degree",
                    "total_weight", "rank", "pred",
                    F.col("obj").alias("neighbor"), "weight"))


def comention_edges(mentions: DataFrame, doc_col: str = "doc_id",
                    entity_col: str = "entity", min_pairs: int = 2,
                    doc_cap: int = 64, round_to: int = 6) -> DataFrame:
    """Entity co-mention edges weighted by normalized PMI — the
    relation-SUGGESTION layer of KG construction: two entities that
    co-occur in far more documents than independence predicts are edge
    candidates even when no extraction pattern fired between them
    (the classic distributional signal; NPMI normalizes PMI to [-1, 1]
    so thresholds transfer across corpus sizes).

    Semantics: co-occurrence is at the DISTINCT (doc, entity) grain —
    mentioning an entity ten times in one document counts once, so a
    repetitive document cannot fabricate association strength.
    npmi = ln(P(a,b) / (P(a) P(b))) / -ln(P(a,b)) with probabilities
    over documents; pairs ordered (entity_a < entity_b); pairs with
    fewer than ``min_pairs`` supporting docs are cut BEFORE the
    vocabulary joins (the tail is the bulk).

    100 TB shape: the only corpus-sized work is the distinct-mention
    groupBy (partial-aggregating, 32-byte-ish rows). The pair self-join
    runs per document over its distinct-entity list with a hard
    ``doc_cap`` (deterministic keep: first by entity string) — an
    entity-soup document otherwise contributes O(n²) pairs; capped docs
    contribute O(cap²) and the cap is reported honestly by callers that
    surface it. Entity document-frequencies are an entity-vocabulary-
    grain aggregate (broadcast-joinable); the doc total rides a 1-row
    broadcast. No window touches corpus rows.
    """
    dm = (mentions.select(F.col(doc_col).alias("_d"),
                          F.col(entity_col).alias("_e"))
          .distinct())
    from pyspark.sql import Window
    rn = F.row_number().over(Window.partitionBy("_d").orderBy("_e"))
    dm_capped = dm.withColumn("_rn", rn).filter(F.col("_rn") <= doc_cap) \
                  .drop("_rn")
    n_docs = mentions.select(F.col(doc_col).alias("_d")).distinct() \
        .agg(F.count(F.lit(1)).alias("_n_docs"))  # 1-row broadcast
    ent_df = dm_capped.groupBy("_e").agg(F.count(F.lit(1)).alias("_df"))
    a = dm_capped.select("_d", F.col("_e").alias("entity_a"))
    b = dm_capped.select("_d", F.col("_e").alias("entity_b"))
    pairs = (a.join(b, "_d")
             .filter(F.col("entity_a") < F.col("entity_b"))
             .groupBy("entity_a", "entity_b")
             .agg(F.count(F.lit(1)).alias("n_docs_both"))
             .filter(F.col("n_docs_both") >= min_pairs))
    out = (pairs
           .join(F.broadcast(ent_df.withColumnRenamed("_e", "entity_a")
                             .withColumnRenamed("_df", "df_a")), "entity_a")
           .join(F.broadcast(ent_df.withColumnRenamed("_e", "entity_b")
                             .withColumnRenamed("_df", "df_b")), "entity_b")
           .crossJoin(F.broadcast(n_docs)))
    p_ab = F.col("n_docs_both") / F.col("_n_docs")
    p_a = F.col("df_a") / F.col("_n_docs")
    p_b = F.col("df_b") / F.col("_n_docs")
    # p_ab == 1 (the pair co-occurs in EVERY doc) makes the normalizer
    # -ln(p_ab) = 0; NPMI is defined as 1 there, not NaN
    npmi = F.when(F.col("n_docs_both") == F.col("_n_docs"), F.lit(1.0)) \
        .otherwise(F.log(p_ab / (p_a * p_b)) / -F.log(p_ab))
    return (out.select("entity_a", "entity_b", "n_docs_both",
                       F.col("df_a").alias("docs_a"),
                       F.col("df_b").alias("docs_b"),
                       F.round(npmi, round_to).alias("npmi")))


def coparticipation_pairs(edges: DataFrame, min_shared: int = 2,
                          obj_cap: int = 64,
                          round_to: int = 6) -> DataFrame:
    """Relation inference by co-participation: two subjects that share
    ≥ ``min_shared`` distinct objects under the SAME predicate are
    related even though no sentence ever asserted it (the classic
    bipartite-projection signal: two customers returning the same parts,
    two engineers touching the same services). Scored with Jaccard over
    their object sets so a promiscuous subject doesn't rank above a
    genuinely overlapping pair.

    Structure = the df-capped n-gram-Jaccard dedup operator transplanted
    to the KG grain: distinct (pred, obj, subj) first, a hard
    deterministic ``obj_cap`` on subjects per (pred, obj) — a hub object
    ("the login page") otherwise mints O(n²) pairs — then ONE co-keyed
    self-join on (pred, obj) and a pair-grain aggregate. Per-subject
    distinct-object counts aggregate at the (pred, subj) grain and join
    back co-keyed — deliberately NOT broadcast: subject cardinality is
    unbounded at corpus scale, the same reason ADVICE r3 removed the
    corpus-cardinality broadcast from ngram_jaccard_pairs (dedup.py).
    Nothing ever joins raw triples.
    """
    from pyspark.sql import Window

    po = (edges.select("pred", "obj", "subj").distinct())
    rn = F.row_number().over(
        Window.partitionBy("pred", "obj").orderBy("subj"))
    po_capped = po.withColumn("_rn", rn).filter(F.col("_rn") <= obj_cap) \
        .drop("_rn")
    # per-subject object counts from the CAPPED stream, so jaccard's
    # denominator and numerator agree on which memberships exist
    n_obj = po_capped.groupBy("pred", "subj") \
        .agg(F.count(F.lit(1)).alias("_n"))
    a = po_capped.select("pred", "obj", F.col("subj").alias("subj_a"))
    b = po_capped.select("pred", "obj", F.col("subj").alias("subj_b"))
    pairs = (a.join(b, ["pred", "obj"])
             .filter(F.col("subj_a") < F.col("subj_b"))
             .groupBy("pred", "subj_a", "subj_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    na = n_obj.select("pred", F.col("subj").alias("subj_a"),
                      F.col("_n").alias("n_a"))
    nb = n_obj.select("pred", F.col("subj").alias("subj_b"),
                      F.col("_n").alias("n_b"))
    out = (pairs.join(na, ["pred", "subj_a"])
           .join(nb, ["pred", "subj_b"]))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b")
                               - F.col("n_shared"))
    return out.select("pred", "subj_a", "subj_b", "n_shared",
                      "n_a", "n_b", F.round(jac, round_to).alias("jaccard"))


def edge_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """KG build-over-build CDC at the aggregated edge grain — the graph
    twin of ``snapshot.snapshot_diff``: label every (subj, pred, obj)
    edge ``added`` / ``removed`` / ``changed`` / ``unchanged`` between
    two builds and carry both weights (+ delta) so a release gate can
    alert on "10% of edges vanished" before a consumer does.

    Inputs are edge tables with a ``weight`` column (``graph_edges``
    output or any aggregate at that grain). ONE co-keyed full-outer
    join on the edge key; weights ride along so the diff never re-reads
    raw triples. 100 TB shape: the edge grain is already the reduced
    grain (vocabulary-sized, not assertion-sized), the join is
    hash-plannable, and the output is bounded by |old ∪ new|.
    """
    key = ["subj", "pred", "obj"]
    o = old.select(*key, F.col("weight").alias("w_old"))
    n = new.select(*key, F.col("weight").alias("w_new"))
    j = o.join(n, key, "full_outer")
    status = (F.when(F.col("w_old").isNull(), "added")
              .when(F.col("w_new").isNull(), "removed")
              .when(F.col("w_old") != F.col("w_new"), "changed")
              .otherwise("unchanged"))
    return j.select(
        *key, status.alias("status"),
        F.coalesce("w_old", F.lit(0)).cast("long").alias("w_old"),
        F.coalesce("w_new", F.lit(0)).cast("long").alias("w_new"),
        (F.coalesce("w_new", F.lit(0)) - F.coalesce("w_old", F.lit(0)))
        .cast("long").alias("delta"))


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree histogram over the aggregated edge grain —
    the hub/skew audit a 100 TB KG build publishes next to its node
    table: how heavy is the tail, and did this build grow a new
    super-hub (the entity that will skew every downstream join)?

    Per direction (``out`` over subj, ``in`` over obj): degree per
    entity, then ``bucket = floor(log2(degree))`` so the report is a
    fixed ~40 rows regardless of graph size. Two partial-aggregating
    groupBys per direction (entity grain, then bucket grain) — the
    entity-grain aggregate is the only corpus-sized work and it
    combines map-side; the histogram itself is driver-displayable.
    Also carries ``max_degree`` per bucket so the single worst hub is
    identifiable without a second scan.
    """
    def one(col: str, direction: str) -> DataFrame:
        deg = (edges.groupBy(F.col(col).alias("entity"))
               .agg(F.count(F.lit(1)).alias("deg")))
        return (deg.select(
            F.lit(direction).alias("direction"),
            F.floor(F.log2("deg")).cast("long").alias("bucket"),
            F.col("deg"))
            .groupBy("direction", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_entities"),
                 F.max("deg").cast("long").alias("max_degree")))

    return one("subj", "out").unionByName(one("obj", "in"))


def compose_relations(e1: DataFrame, e2: DataFrame,
                      mid_cap: int = 64) -> DataFrame:
    """2-hop relation composition — derive ``subj -[p1∘p2]-> obj`` from
    ``subj -[p1]-> mid -[p2]-> obj`` (the triple-pattern path query a
    KG serving layer answers, and the rule-mining primitive behind
    "customer ordered_part part" style derived predicates).

    Inputs are edge sets at the AGGREGATED (subj, obj) grain (e.g.
    ``graph_edges`` output projected to two columns); output is one row
    per derived (subj, obj) pair with ``n_paths`` (distinct mid nodes
    witnessing the composition) and ``top_mid`` (the lexicographically
    smallest witness, a stable example for display/debugging).

    100 TB shape: ONE equi-join on the mid key + one partial-aggregating
    groupBy. The scale hazard of relation composition is the hub mid
    node (an order shared by every part, a "USA" entity linked to
    everything): a mid with fan-in f1 and fan-out f2 contributes
    f1 × f2 join rows. ``mid_cap`` applies the df-cap discipline from
    ``dedup.ngram_jaccard_pairs``: mids whose fan-out under p2 exceeds
    the cap are dropped BEFORE the join (and reported is the caller's
    job — the cap is a documented recall bound, not silent truncation),
    so the worst-case join fan-out is bounded by cap × |e1|. Both
    groupBys partial-aggregate map-side.
    """
    a = (e1.select(F.col("subj"), F.col("obj").alias("mid"))
         .distinct())
    b = (e2.select(F.col("subj").alias("mid"), F.col("obj"))
         .distinct())
    fanout = b.groupBy("mid").agg(F.count(F.lit(1)).alias("_fo"))
    kept = (b.join(fanout.filter(F.col("_fo") <= mid_cap), "mid")
            .select("mid", "obj"))
    return (a.join(kept, "mid")
            .groupBy("subj", "obj")
            .agg(F.count(F.lit(1)).cast("long").alias("n_paths"),
                 F.min("mid").alias("top_mid")))


def _rule_bodies(triples: DataFrame, mid_cap: int) -> tuple[DataFrame,
                                                            DataFrame]:
    """Shared body-instantiation block for ``mine_horn_rules`` /
    ``apply_horn_rules`` — mining and application MUST see the same
    body population (same null handling, same mid-fan-out cap) or
    rules get applied to candidates inconsistent with the confidences
    they were scored on. Returns ``(edges, body)``: the distinct
    non-null edge set and the distinct (p1, p2, x, y) body pairs with
    hub mids (total fan-out > ``mid_cap``) dropped before the join.
    """
    edges = (triples.select("subj", "pred", "obj")
             .filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
             .distinct())
    # df-cap at the mid node: total out-fan-out across predicates
    fanout = (edges.groupBy(F.col("subj").alias("mid"))
              .agg(F.count(F.lit(1)).alias("_fo")))
    right = (edges.select(F.col("subj").alias("mid"),
                          F.col("pred").alias("p2"),
                          F.col("obj").alias("y"))
             .join(fanout.filter(F.col("_fo") <= mid_cap), "mid")
             .select("mid", "p2", "y"))
    body = (edges.select(F.col("subj").alias("x"),
                         F.col("pred").alias("p1"),
                         F.col("obj").alias("mid"))
            .join(right, "mid")
            .select("p1", "p2", "x", "y")
            .distinct())
    return edges, body


def mine_horn_rules(triples: DataFrame, *, min_support: int = 2,
                    min_confidence: float = 0.0, mid_cap: int = 64,
                    round_to: int = 6) -> DataFrame:
    """AMIE-style closed 2-hop horn-rule mining — for every predicate
    triple (p1, p2, p3), score the rule ``p1(x,z) ∧ p2(z,y) ⇒
    p3(x,y)`` against the extracted KG itself. This is the KG-completion
    primitive a construction pipeline ships next to its schema report
    (``predicate_signatures``): high-confidence rules flag redundant /
    derivable predicates, drive missing-edge candidate generation, and
    catch extraction asymmetries ("works_for∘based_in ⇒ located_in
    holds at 0.95 — why do 5% of people miss the derived edge?").

    Scores per rule (the standard AMIE measures):
    * ``support``       — # distinct (x, y) pairs where body AND head hold
    * ``body_size``     — # distinct (x, y) pairs where the body holds
    * ``head_size``     — # distinct (x, y) pairs where the head holds
    * ``confidence``    — support / body_size (CWA confidence)
    * ``head_coverage`` — support / head_size

    Output is one row per (p1, p2, p3) passing the ``min_support`` /
    ``min_confidence`` gates, with deterministic values (exact integer
    counts; ratios rounded to ``round_to``) — ordering is the caller's
    choice, every column is engine-stable.

    100 TB shape: everything runs at the DISTINCT edge grain, never
    assertion grain. One mid-keyed equi-join builds body
    instantiations, with the ``compose_relations`` df-cap discipline —
    a mid node whose total fan-out exceeds ``mid_cap`` is dropped
    before the join (documented recall bound, not silent truncation:
    hub mids like "USA" would contribute fan-in × fan-out join rows
    and their witnessed rules are the least informative). Body pairs
    reduce to the (p1, p2, x, y) distinct grain immediately (one
    partial-aggregating distinct), the head probe is a co-keyed
    (x, y) equi-join against the same distinct edge set, and the final
    rule-grain aggregates are |preds|³-bounded — driver-displayable.
    """
    edges, body = _rule_bodies(triples, mid_cap)
    body_sizes = (body.groupBy("p1", "p2")
                  .agg(F.count(F.lit(1)).alias("body_size")))
    heads = edges.select(F.col("subj").alias("x"),
                         F.col("pred").alias("p3"),
                         F.col("obj").alias("y"))
    head_sizes = (heads.groupBy("p3")
                  .agg(F.count(F.lit(1)).alias("head_size")))
    support = (body.join(heads, ["x", "y"])
               .groupBy("p1", "p2", "p3")
               .agg(F.count(F.lit(1)).alias("support")))
    return (support
            .filter(F.col("support") >= int(min_support))
            .join(body_sizes, ["p1", "p2"])
            .join(head_sizes, ["p3"])
            .select("p1", "p2", "p3",
                    F.col("support").cast("long").alias("support"),
                    F.col("body_size").cast("long").alias("body_size"),
                    F.col("head_size").cast("long").alias("head_size"),
                    F.round(F.col("support") / F.col("body_size"),
                            round_to).alias("confidence"),
                    F.round(F.col("support") / F.col("head_size"),
                            round_to).alias("head_coverage"))
            .filter(F.col("confidence") >= float(min_confidence)))


def apply_horn_rules(triples: DataFrame, rules: DataFrame, *,
                     mid_cap: int = 64) -> DataFrame:
    """Materialize the MISSING edges a mined rule set predicts — the
    completion step that turns ``mine_horn_rules`` scores into
    candidate triples: for every accepted rule ``p1∧p2 ⇒ p3`` and every
    body instantiation (x, z, y) whose head edge p3(x, y) is NOT yet in
    the KG, emit one candidate row with the witnessing rule's
    confidence (a candidate derivable by several rules keeps its best
    confidence and a deterministic witness rule).

    Output: (subj, pred, obj, confidence, rule_p1, rule_p2,
    n_rules) at distinct candidate grain — ready for a human-review
    queue or a threshold-gated merge into the triple table.

    100 TB shape: the rule set is rule-grain (|preds|³-bounded) and
    BROADCASTS into the body join; body instantiation reuses the same
    df-capped mid join as mining; the "not already known" probe is one
    co-keyed LEFT ANTI join on the full edge key. No window over
    corpus-sized data — the best-rule argmax folds in the same
    partial-aggregating groupBy that dedups candidates.
    """
    from pyspark.sql.functions import broadcast

    edges, body = _rule_bodies(triples, mid_cap)
    cand = (body.join(broadcast(rules.select("p1", "p2", "p3",
                                             "confidence")),
                      ["p1", "p2"])
            .select(F.col("x").alias("subj"), F.col("p3").alias("pred"),
                    F.col("y").alias("obj"), "confidence", "p1", "p2"))
    missing = cand.join(edges, ["subj", "pred", "obj"], "left_anti")
    # best-confidence witness per candidate; ties break to the
    # lexicographically smallest (p1, p2) so output is engine-stable
    pick = F.expr("min_by(struct(confidence, p1, p2), "
                  "struct(-confidence, p1, p2))")
    return (missing.groupBy("subj", "pred", "obj")
            .agg(pick.alias("_w"),
                 F.count(F.lit(1)).cast("long").alias("n_rules"))
            .select("subj", "pred", "obj",
                    F.col("_w.confidence").alias("confidence"),
                    F.col("_w.p1").alias("rule_p1"),
                    F.col("_w.p2").alias("rule_p2"),
                    "n_rules"))


def functional_history(assertions: DataFrame,
                       subj: str = "subj", pred: str = "pred",
                       obj: str = "obj", ts: str = "ts") -> DataFrame:
    """SCD2 validity intervals at triple grain — the TEMPORAL twin of
    ``resolve_functional``: where fusion keeps only the current value
    of a functional predicate, this keeps the full value HISTORY as
    ``(subj, pred, obj, valid_from, valid_to, is_current)`` intervals
    (``valid_to`` is null on the open current interval). The audit/
    time-travel read a KG consumer runs to ask "what did we believe
    about X at time T".

    Change-point compression over one window: assertions are first
    collapsed to DISTINCT (subj, pred, ts, obj) — re-assertions of the
    same value at the same instant are redundant for interval
    construction, and that distinct is the skew mitigation (a hot
    entity asserted 10^6 times a day costs the window its distinct
    (ts, obj) rows, not its raw mention count). Rows where the value
    differs from the previous value open an interval; ``valid_to`` is
    the next interval's start. Equal-ts conflicting values order by
    (ts, obj) — a fixed, engine-stable tie-break (the earlier-sorted
    value gets a zero-length interval), same determinism discipline as
    the NE-tag rules above.

    100 TB shape: both window passes (lag to find change points, lead
    to close intervals) partition by (subj, pred) and sort by (ts, obj)
    — Catalyst plans them over ONE exchange + sort
    (test_plan_shape pins it). Per-key work is inherently sequential
    (SCD2 needs the per-key total order), so the parallelism unit is
    the (subj, pred) key — billions of keys spread over the cluster,
    and the pre-distinct bounds any one key's row count by its distinct
    (ts, value) change events.
    """
    from pyspark.sql.window import Window

    # null obj carries no assertable value and would conflate with
    # lag()'s first-row null below (a change point would be silently
    # dropped) — excluded explicitly, same posture as resolve_functional.
    # null ts has no position in the per-key order: it would sort FIRST
    # (ASC nulls-first), open an interval with valid_from=null that
    # swallows a later real assertion's change point, and then vanish
    # from every as_of snapshot (null <= t is null) — also excluded
    # (code-review r5; keeps byte-parity with streaming/history.py)
    d = (assertions.select(F.col(subj).alias("subj"),
                           F.col(pred).alias("pred"),
                           F.col(obj).alias("obj"),
                           F.col(ts).alias("ts"))
         .filter(F.col("obj").isNotNull() & F.col("ts").isNotNull())
         .distinct())
    w = Window.partitionBy("subj", "pred").orderBy("ts", "obj")
    marked = d.withColumn("_prev", F.lag("obj").over(w))
    starts = (marked
              .filter(F.col("_prev").isNull()
                      | (F.col("obj") != F.col("_prev")))
              .select("subj", "pred", "obj",
                      F.col("ts").alias("valid_from")))
    w2 = Window.partitionBy("subj", "pred").orderBy("valid_from", "obj")
    return (starts
            .withColumn("valid_to", F.lead("valid_from").over(w2))
            .withColumn("is_current", F.col("valid_to").isNull()))


def as_of(history: DataFrame, ts) -> DataFrame:
    """Point-in-time read over ``functional_history`` output — the
    "what did we believe about X at time T" query the SCD2 intervals
    exist for. Returns one (subj, pred, obj) row per key whose interval
    covers ``ts``: ``valid_from <= ts < valid_to`` with an open
    ``valid_to`` treated as infinity. Keys first asserted after ``ts``
    are absent (nothing was believed yet).

    Map-only — one filter over the interval table, no shuffle, no
    window: the interval construction already paid the per-key
    ordering, so every historical snapshot afterwards is scan-speed.
    Half-open intervals make snapshots exact at change points: at the
    instant a value changes, the NEW value holds (zero-length intervals
    from equal-ts conflicts are skipped by the same rule).
    """
    t = F.lit(ts)
    return (history
            .filter((F.col("valid_from") <= t)
                    & (F.col("valid_to").isNull()
                       | (F.col("valid_to") > t)))
            .select("subj", "pred", "obj",
                    "valid_from", "valid_to"))


def materialize_graph(triples: DataFrame, out_dir: str,
                      n_parts: int = 16,
                      type_completion: bool = False) -> dict:
    """Write nodes/ and edges/ parquet under ``out_dir``.

    Edges are laid out by hash(subj) so a per-entity neighborhood read
    prunes to one partition family; nodes are small enough to write as
    ``n_parts`` plain files (they broadcast downstream anyway).

    ``type_completion`` (opt-in, like the pipeline's fuzzy/pronoun
    stages): nodes whose mentions carried NO NE tag anywhere (NULL
    ``ne_type`` after the own-mention vote) are filled by
    ``infer_node_types`` label propagation over the same-role
    co-participation projection (the homophilous input — see that
    docstring's measurements), and the node table gains
    ``ne_inferred`` / ``ne_conf`` columns. Costs one extra pass over
    the triples (the co-participation self-join at the distinct-
    membership grain); with the default off, output is bit-identical
    to previous builds.
    """
    from pyspark.sql import Observation

    # row counts come from the write jobs' own observed metrics — a
    # re-read would be a second pair of jobs (footer-count scans locally,
    # full LIST + footer reads on object storage at 100 TB)
    e_obs, n_obs = Observation("edges"), Observation("nodes")
    (graph_edges(triples).observe(e_obs, F.count(F.lit(1)).alias("n"))
     .repartition(n_parts, "subj")
     .write.mode("overwrite").parquet(f"{out_dir}/edges"))
    # nodes reuse the JUST-WRITTEN edges (already materialized, orders
    # smaller than triples) instead of re-running the edge aggregation
    # inside graph_nodes — the old call re-paid both corpus-sized
    # edge-grain groupBys per materialize (code-review r5)
    spark = triples.sparkSession
    written_edges = spark.read.parquet(f"{out_dir}/edges")
    nodes = graph_nodes(triples, edges=written_edges)
    if type_completion:
        cop = coparticipation_pairs(triples, min_shared=1).select(
            F.col("subj_a").alias("subj"), F.col("subj_b").alias("obj"),
            F.col("n_shared").alias("weight"))
        inferred = infer_node_types(
            nodes.select("entity", "ne_type"), cop).select(
            F.col("entity").alias("_e"), "ne_type",
            F.col("inferred").alias("ne_inferred"),
            F.col("conf").alias("ne_conf"))
        # null-safe: the null-entity node (unresolved pronouns) must
        # keep its row columns — a null-rejecting join would blank them
        nodes = (nodes.drop("ne_type")
                 .join(inferred, nodes["entity"].eqNullSafe(F.col("_e")),
                       "left")
                 .drop("_e"))
    (nodes
     .observe(n_obs, F.count(F.lit(1)).alias("n"))
     .repartition(n_parts)
     .write.mode("overwrite").parquet(f"{out_dir}/nodes"))
    return {"n_edges": e_obs.get["n"], "n_nodes": n_obs.get["n"],
            "edges_dir": f"{out_dir}/edges", "nodes_dir": f"{out_dir}/nodes"}


def predicate_similarity(triples: DataFrame, *, min_shared: int = 2,
                         round_to: int = 6) -> DataFrame:
    """Distributional predicate alignment — for every predicate pair,
    how much their DISTINCT (subj, obj) pair sets overlap: the
    synonym-predicate detector a construction pipeline runs next to
    ``predicate_signatures``. Extraction mints near-duplicate
    predicates freely ("married_to" vs "spouse_of", "works_for" vs
    "employed_by"); this surfaces them by behavior, not by string —
    the 1-hop sibling of ``mine_horn_rules``'s 2-hop compositions.

    Output per unordered pair (``pred_a < pred_b``, ``n_shared ≥
    min_shared``):

    * ``n_shared`` / ``n_a`` / ``n_b`` — exact distinct-(s,o) counts
    * ``jaccard``  — n_shared / (n_a + n_b − n_shared): symmetric
      merge candidate score
    * ``conf_ab`` / ``conf_ba`` — n_shared/n_a and n_shared/n_b: the
      DIRECTIONAL 1-hop implication confidences (conf_ab ≈ 1 with a
      low conf_ba = a is a SUB-predicate of b, not a synonym — the
      merge-vs-subsume distinction a reviewer needs)

    100 TB shape: everything at the distinct (pred, subj, obj) grain,
    never assertions. ONE co-keyed self-join on (subj, obj) + pair-
    grain and predicate-grain partial aggregates; per-predicate sizes
    join back co-keyed (NOT broadcast — predicate cardinality is
    ontology-sized but the rule from coparticipation_pairs stands:
    never bake a cardinality assumption into a broadcast). The join's
    per-(s,o) fan-out is bounded by |predicates asserting that pair|²
    — ontology-sized by nature, not corpus-sized, which is why this
    join needs no df-cap where the entity-grain ones do.
    """
    # null endpoints (kept pipeline-wide for unresolved pronouns) can
    # never match the null-rejecting (subj, obj) self-join below, so
    # counting them into n_a/n_b would systematically deflate jaccard
    # for predicates with unresolved rows — filter first, the
    # mine_horn_rules rule
    pso = (triples.select("pred", "subj", "obj")
           .filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
           .distinct())
    sizes = pso.groupBy("pred").agg(F.count(F.lit(1)).alias("_n"))
    a = pso.select(F.col("pred").alias("pred_a"), "subj", "obj")
    b = pso.select(F.col("pred").alias("pred_b"), "subj", "obj")
    pairs = (a.join(b, ["subj", "obj"])
             .filter(F.col("pred_a") < F.col("pred_b"))
             .groupBy("pred_a", "pred_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    na = sizes.select(F.col("pred").alias("pred_a"),
                      F.col("_n").alias("n_a"))
    nb = sizes.select(F.col("pred").alias("pred_b"),
                      F.col("_n").alias("n_b"))
    s, da, db = F.col("n_shared"), F.col("n_a"), F.col("n_b")
    return (pairs.join(na, "pred_a").join(nb, "pred_b")
            .select("pred_a", "pred_b", "n_shared",
                    da.cast("long").alias("n_a"),
                    db.cast("long").alias("n_b"),
                    F.round(s / (da + db - s), round_to).alias("jaccard"),
                    F.round(s / da, round_to).alias("conf_ab"),
                    F.round(s / db, round_to).alias("conf_ba")))


def predicate_merge_map(triples: DataFrame, *, min_jaccard: float = 0.8,
                        min_shared: int = 2) -> DataFrame:
    """Turn ``predicate_similarity`` detections into an executable
    merge plan: ``(pred, canon)`` for every predicate belonging to a
    synonym cluster, where clusters are the connected components of the
    jaccard ≥ ``min_jaccard`` alignment graph (so "married_to" ~
    "spouse_of" ~ "wed_to" chains collapse even when the two ends were
    never directly compared — the same transitive-closure argument
    behind the dedup survivors) and ``canon`` is the lexicographically
    smallest member (``connected_components``'s min-label IS that
    pick — no second pass). Identity rows (pred == canon) are kept so
    the map is total over clustered predicates and auditable as-is.

    Thresholding on the symmetric jaccard deliberately leaves
    SUB-predicate pairs (conf_ab ≈ 1, low jaccard) out of the merge —
    subsumption is a review decision (``mine_horn_rules`` territory),
    not a rewrite this map should silently perform.

    100 TB shape: ``predicate_similarity``'s one self-join dominates;
    the clustering runs on the alignment graph, whose node count is
    the predicate vocabulary — ontology-sized, so the component loop
    converges in a handful of scheduler-latency-bound rounds.
    """
    from morra_spark.operators.components import connected_components

    sim = predicate_similarity(triples, min_shared=min_shared)
    pairs = (sim.filter(F.col("jaccard") >= min_jaccard)
             .select(F.col("pred_a").alias("src"),
                     F.col("pred_b").alias("dst")))
    return (connected_components(pairs)
            .select(F.col("node").alias("pred"),
                    F.col("comp").alias("canon")))


def apply_predicate_map(triples: DataFrame,
                        mapping: DataFrame) -> DataFrame:
    """Rewrite ``pred`` through a ``(pred, canon)`` merge map —
    unmapped predicates pass through unchanged. The predicate twin of
    ``entity_resolution.canonicalize_triples``'s endpoint rewrite:
    the triple stream is touched by ONE vocabulary-sized broadcast
    hash join (predicate maps are ontology-sized by nature — this is
    the dictionary-join shape the whole repo broadcasts deliberately),
    never shuffled. Downstream aggregated-grain consumers
    (``graph_edges`` etc.) re-aggregate merged predicates correctly
    because they group by the rewritten value.
    """
    m = F.broadcast(mapping.select(F.col("pred").alias("_p"),
                                   F.col("canon").alias("_c")))
    return (triples.join(m, F.col("pred") == F.col("_p"), "left")
            .withColumn("pred", F.coalesce(F.col("_c"), F.col("pred")))
            .drop("_p", "_c"))
