"""Seeded random-walk corpus generation — the KG→embedding bridge.

DeepWalk-family node embeddings (and the skip-gram trainers behind
them) consume a corpus of truncated random walks: each walk is a
"sentence" whose tokens are node ids, and co-occurrence within a walk
window becomes the training signal. This module generates that corpus
distributively over the materialized graph (``kg_graph.graph_edges``
output, near-dup pair graphs, or any edge list).

Determinism is the design center, exactly like the repo's sampling /
negative-sampling operators: every neighbor pick is the engine-portable
md5 of ``seed|walk_id|step`` reduced mod degree — NOT an RNG. The same
(edges, seed) produce bit-identical walks on any partitioning, any
retry, any executor count, and a plain-Python reference can replay
every pick (pytest does). A walk corpus that changes under retries
would silently change the downstream embedding — the same argument as
``curation.split_assign``.

Uniform walks only (the node2vec p=q=1 case): the p/q-biased variant
needs the previous step's neighbor SET membership per candidate, which
turns each step's one equi-join into a join + array-contains over the
frontier — a real cost at hub nodes for a bias whose gains are
task-dependent. Documented out of scope rather than half-shipped.

100 TB shape: the adjacency is aggregated ONCE to (node, sorted
neighbor array) and localCheckpointed (the ``pagerank_fixed`` loop-
invariant discipline); each of the L-1 steps is then ONE equi-join of
the frontier against it (co-keyed on the current node) plus map-only
pick arithmetic — no window, no Python, no driver state. Hub-node
array blow-up (a 10^6-degree node would carry a 10^6-element array
through every join) is bounded by ``max_degree``: a deterministic
md5-ranked neighbor cap (the GraphSAGE neighbor-sampling standard;
rank by hash, not lexicographically, so the kept set is an unbiased
fixed sample). Path arrays are bounded by ``walk_length``. Lineage is
cut every few steps (eager localCheckpoint) so Catalyst analysis stays
linear in L instead of compounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _pick(walk_id: Column, step: int, seed: int, n: Column) -> Column:
    """Deterministic index in [0, n): 60-bit portable-md5 of
    ``seed|walk_id|step`` mod n (replayable as
    ``int(md5(...).hexdigest()[:15], 16) % n`` — pytest pins it)."""
    h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit(str(seed)), walk_id, F.lit(str(step)))), 1, 15),
        16, 10).cast("long")
    return (h % n.cast("long")).cast("int")


def random_walks(edges: DataFrame, *, walk_length: int = 10,
                 walks_per_node: int = 2, seed: int = 42,
                 src: str = "src", dst: str = "dst",
                 directed: bool = False, max_degree: int | None = None,
                 checkpoint_every: int = 8) -> DataFrame:
    """(src, dst) edges → ``(walk_id, start, path)`` walk corpus:
    ``walks_per_node`` walks of up to ``walk_length`` nodes from every
    node with an outgoing neighbor, each step a uniform (seeded,
    portable-md5) pick among the current node's neighbors. Undirected
    by default (edges symmetrized, so every non-null endpoint starts
    walks); in ``directed`` mode a sink node starts no walk, and a walk
    reaching one simply ends there (shorter path, never a null token).
    ``max_degree`` caps each node's neighbor list to a deterministic
    md5-ranked sample before any walking — the standard hub-node bound
    for walk corpora.
    """
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    if walks_per_node < 1:
        # sequence(0, n-1) auto-steps -1 for n <= 0 and would silently
        # emit phantom walks with negative rep ids
        raise ValueError(
            f"walks_per_node must be >= 1, got {walks_per_node}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.unionByName(e.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
    e = e.filter(F.col("a").isNotNull() & F.col("b").isNotNull()).distinct()
    if max_degree is not None:
        # hash-ranked cap: same exchange as the groupBy below (both key
        # on `a`), so the window costs no extra shuffle
        rk = F.row_number().over(
            Window.partitionBy("a").orderBy(
                F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("a"),
                                  F.col("b"), F.lit("cap"))), "b"))
        e = e.withColumn("_rk", rk).filter(F.col("_rk") <= max_degree) \
            .drop("_rk")
    adj = (e.groupBy(F.col("a").alias("node"))
           .agg(F.sort_array(F.collect_set("b")).alias("nbrs"))
           .localCheckpoint(eager=True))  # loop invariant, reused L-1x

    walks = (adj.select("node")
             .select(F.col("node").alias("start"),
                     F.explode(F.sequence(
                         F.lit(0), F.lit(walks_per_node - 1))).alias("rep"))
             .select("start",
                     F.concat_ws("#", "start", "rep").alias("walk_id"),
                     F.array("start").alias("path"),
                     F.col("start").alias("cur")))
    for step in range(1, walk_length):
        stepped = (walks
                   .join(adj, walks["cur"] == adj["node"], "left")
                   .drop("node"))
        idx = _pick(F.col("walk_id"), step, seed, F.size("nbrs"))
        nxt = F.when(F.col("nbrs").isNotNull() & F.col("cur").isNotNull(),
                     F.element_at("nbrs", idx + 1))
        walks = (stepped
                 .select("start", "walk_id",
                         F.when(nxt.isNotNull(),
                                F.concat("path", F.array(nxt)))
                         .otherwise(F.col("path")).alias("path"),
                         nxt.alias("cur")))
        if step % checkpoint_every == 0:
            walks = walks.localCheckpoint(eager=True)
    return walks.select("walk_id", "start", "path")


def walk_skipgram_pairs(walks: DataFrame, *, window: int = 2,
                        path_col: str = "path") -> DataFrame:
    """Walk corpus → aggregated skip-gram co-occurrence pairs
    ``(center, context, n)``: every ordered pair of nodes at distance
    1..window inside a walk, both directions, counted corpus-wide —
    the input grain a word2vec-style trainer (or a PMI factorization)
    consumes directly.

    Shape: MAP-ONLY pair generation — posexplode each path, slice the
    SAME row's path array for the ≤``window`` forward neighbors (no
    self-join: the path already carries its own context), emit each
    forward pair in both orders, then one partial-aggregating groupBy.
    Per-row fan-out is exactly min(window, remaining path) ≤ window —
    an explicit small constant — and the only shuffle is the final
    count aggregate on (center, context)."""
    toks = walks.select(F.col(path_col).alias("_p"),
                        F.posexplode(path_col).alias("i", "center"))
    fwd = (toks
           .select("center", F.explode(
               F.slice("_p", F.col("i") + 2, window)).alias("context")))
    both = fwd.unionByName(
        fwd.select(F.col("context").alias("center"),
                   F.col("center").alias("context")))
    return (both.groupBy("center", "context")
            .agg(F.count(F.lit(1)).alias("n")))


def ppmi_scores(pairs: DataFrame, *, shift: float = 0.0,
                round_to: int = 6) -> DataFrame:
    """Skip-gram pair counts → shifted PPMI association scores:
    ``max(0, ln(n·N / (n_center·n_context)) − shift)`` — the classic
    count-based reweighting (Levy & Goldberg: SGNS implicitly
    factorizes this matrix), turning raw co-occurrence into the signal
    an embedding projection should preserve. Rows whose shifted PMI is
    ≤ 0 are DROPPED (that's the "P" in PPMI) — the output is the
    sparse positive association matrix at (center, context) grain.

    100 TB shape: two partial-aggregating marginal groupBys over the
    already-aggregated pair grain plus one 1-row total that BROADCASTS
    back (the repo's scalar crossJoin rule); the marginal joins are
    co-keyed equi-joins. Nothing touches walk-corpus grain. ``ln`` is
    deterministic per-value; ``round_to`` pins the emitted score so
    downstream folds see engine-stable inputs.
    """
    cm = pairs.groupBy("center").agg(F.sum("n").alias("_nc"))
    xm = (pairs.groupBy(F.col("context").alias("_ctx"))
          .agg(F.sum("n").alias("_nx")))
    total = pairs.agg(F.sum("n").alias("_nt"))
    # marginals multiply as doubles: a long-by-long _nc*_nx wraps
    # negative at ~3e9 × ~3e9 (hub × hub at corpus scale) under
    # non-ANSI, nulling log() and silently dropping the heaviest pairs
    pmi = (F.log(F.col("n").cast("double") * F.col("_nt")
                 / (F.col("_nc").cast("double")
                    * F.col("_nx").cast("double")))
           - F.lit(float(shift)))
    return (pairs
            .join(cm, "center")
            .join(xm, pairs["context"] == F.col("_ctx"))
            .crossJoin(F.broadcast(total))
            .select("center", "context", "n",
                    F.round(pmi, round_to).alias("ppmi"))
            .filter(F.col("ppmi") > 0))


def embed_nodes(scored: DataFrame, *, dim: int = 64, n_hashes: int = 4,
                seed: int = 7, score_col: str = "ppmi") -> DataFrame:
    """Sparse association rows → dense L2-normalized ``array<float>``
    node embeddings by deterministic feature-hashed projection (the
    hashing-trick random projection: each context feature lands in
    ``n_hashes`` signed buckets of a ``dim``-wide vector). Training-free
    and closed-form — the count-based endpoint of the walk corpus →
    skip-gram → PPMI lifecycle — and the output column is exactly the
    ``array<float>`` the similarity/ANN operators consume
    (``embedding_near_dup``, ``ann_*``: rename ``node`` → ``vec_id``).

    Determinism is bit-exact, not approximate: bucket index and sign
    are portable-md5 of ``seed|g|context`` (Python-replayable, same
    scheme as ``random_walks._pick``), and contributions are quantized
    to 1e-6 grain LONGS before the fold so the sum is exact integer
    arithmetic — no float-summation order sensitivity on any
    partitioning or retry (the ``infer_node_types`` integer-fold rule).

    100 TB shape: map-only fan-out of exactly ``n_hashes`` per scored
    row (small constant), ONE partial-aggregating groupBy to
    (node, bucket) grain, one groupBy to node grain assembling the
    dense array via map lookup over ``sequence(0, dim-1)`` — no
    window, no Python, no driver state; hub nodes fold map-side.
    """
    gs = F.array(*[F.struct(F.lit(g).alias("_g")) for g in range(n_hashes)])
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("_e._g"),
                          F.col("context")))
    idx = (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
           % F.lit(dim)).cast("int")
    sign = F.when(F.conv(F.substring(h, 16, 1), 16, 10)
                  .cast("int") % 2 == 0, 1).otherwise(-1)
    contrib = (F.round(F.col(score_col) * sign * 1e6)
               .cast("long").alias("_q"))
    cells = (scored
             .select(F.col("center").alias("node"), score_col, "context",
                     F.explode(gs).alias("_e"))
             .select("node", idx.alias("_i"), contrib)
             .groupBy("node", "_i").agg(F.sum("_q").alias("_v")))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("_m", i), F.lit(0)).cast("double")
        / 1e6)
    norm = F.sqrt(F.aggregate(
        "_vec", F.lit(0.0), lambda a, x: a + x * x))
    return (cells
            .groupBy("node")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("_i", "_v"))).alias("_m"))
            .select("node", vec.alias("_vec"))
            .select("node", "_vec", norm.alias("_n"))
            # a node whose quantized contributions cancel to the zero
            # vector has no direction to embed — dropped, not NaN-filled
            .filter(F.col("_n") > 0)
            .select("node",
                    F.transform(
                        "_vec", lambda x: (x / F.col("_n"))
                        .cast("float")).alias("embedding")))
