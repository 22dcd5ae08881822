"""Random-walk corpus generator (operators/walks.py): exact replay
against a plain-Python md5 reference, determinism/partitioning
invariance, edge validity, directed dead-ends, the hub cap, and the
map-only skip-gram pair aggregate."""

from __future__ import annotations

import hashlib
import random

import pytest

from pyspark.sql import functions as F


def _py_walks(edges, *, walk_length, walks_per_node, seed,
              directed=False):
    """Plain-Python replay of random_walks' portable-md5 picks."""
    es = set()
    for a, b in edges:
        es.add((a, b))
        if not directed:
            es.add((b, a))
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
    adj = {k: sorted(v) for k, v in adj.items()}
    out = {}
    for node in adj:
        for rep in range(walks_per_node):
            wid = f"{node}#{rep}"
            path, cur = [node], node
            for step in range(1, walk_length):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                h = int(hashlib.md5(
                    f"{seed}|{wid}|{step}".encode()).hexdigest()[:15], 16)
                cur = nbrs[h % len(nbrs)]
                path.append(cur)
            out[wid] = path
    return out


def _rand_edges(seed, n_nodes=12, n_edges=30):
    rng = random.Random(seed)
    return sorted({(f"v{rng.randrange(n_nodes)}",
                    f"v{rng.randrange(n_nodes)}")
                   for _ in range(n_edges)})


def test_walks_match_python_reference(spark):
    from morra_spark.operators.walks import random_walks

    edges = [(a, b) for a, b in _rand_edges(3) if a != b]
    got = {r.walk_id: list(r.path)
           for r in random_walks(
               spark.createDataFrame(edges, ["src", "dst"]),
               walk_length=8, walks_per_node=2, seed=7).collect()}
    assert got == _py_walks(edges, walk_length=8, walks_per_node=2, seed=7)


def test_walks_directed_reference_and_dead_end(spark):
    from morra_spark.operators.walks import random_walks

    edges = [("a", "b"), ("b", "c")]  # c is a sink
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.walk_id: list(r.path)
           for r in random_walks(df, walk_length=6, walks_per_node=1,
                                 seed=1, directed=True).collect()}
    assert got == _py_walks(edges, walk_length=6, walks_per_node=1,
                            seed=1, directed=True)
    assert got["a#0"] == ["a", "b", "c"]  # stops at the sink, no nulls
    assert "c#0" not in got  # sinks start no walk


def test_walks_partitioning_invariant_and_seed_sensitive(spark):
    from morra_spark.operators.walks import random_walks

    edges = [(a, b) for a, b in _rand_edges(5) if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ref = {r.walk_id: list(r.path)
           for r in random_walks(df, walk_length=10, seed=7).collect()}
    rep = {r.walk_id: list(r.path)
           for r in random_walks(df.repartition(13), walk_length=10,
                                 seed=7).collect()}
    assert rep == ref
    other = {r.walk_id: list(r.path)
             for r in random_walks(df, walk_length=10, seed=8).collect()}
    assert other != ref  # the seed actually steers the picks


def test_every_step_is_an_edge_and_counts_line_up(spark):
    from morra_spark.operators.walks import random_walks

    edges = [(a, b) for a, b in _rand_edges(9) if a != b]
    sym = set(edges) | {(b, a) for a, b in edges}
    nodes = {a for a, _ in sym}
    walks = random_walks(spark.createDataFrame(edges, ["src", "dst"]),
                         walk_length=12, walks_per_node=3,
                         seed=2).collect()
    assert len(walks) == 3 * len(nodes)
    for r in walks:
        # symmetrized + connected-enough: never a dead end mid-walk
        assert len(r.path) == 12 and r.path[0] == r.start
        for u, v in zip(r.path, r.path[1:]):
            assert (u, v) in sym


def test_max_degree_caps_the_neighbor_pool(spark):
    from morra_spark.operators.walks import random_walks

    star = [("hub", f"leaf{i}") for i in range(10)]
    df = spark.createDataFrame(star, ["src", "dst"])
    walks = random_walks(df, walk_length=2, walks_per_node=40, seed=3,
                         max_degree=3).collect()
    hub_next = {r.path[1] for r in walks if r.start == "hub"}
    assert len(hub_next) <= 3  # picks confined to the capped sample
    again = random_walks(df, walk_length=2, walks_per_node=40, seed=3,
                         max_degree=3).collect()
    assert ({r.walk_id: list(r.path) for r in walks}
            == {r.walk_id: list(r.path) for r in again})


def test_skipgram_pairs_hand_computed(spark):
    from morra_spark.operators.walks import walk_skipgram_pairs

    walks = spark.createDataFrame(
        [("w0", ["a", "b", "c", "a"])], "walk_id string, path array<string>")
    got = {(r.center, r.context): r.n
           for r in walk_skipgram_pairs(walks, window=2).collect()}
    # forward pairs within 2: (a,b) (a,c) (b,c) (b,a) (c,a) — then both
    # directions; (a,b): fwd a->b once + b->a's reverse once = 2, etc.
    want_fwd = {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1,
                ("b", "a"): 1, ("c", "a"): 1}
    want = {}
    for (u, v), n in want_fwd.items():
        want[(u, v)] = want.get((u, v), 0) + n
        want[(v, u)] = want.get((v, u), 0) + n
    assert got == want
    # symmetry is structural: counts match transposed
    assert all(got[(b, a)] == n for (a, b), n in got.items())


def test_skipgram_plan_is_maponly_plus_one_aggregate(spark):
    """The pair generator must stay join-free (the path array carries
    its own context — no self-join) with the count groupBy as the ONLY
    exchange (the test_plan_shape.py discipline applied locally)."""
    from morra_spark.operators.walks import walk_skipgram_pairs

    w = spark.createDataFrame([("w0", ["a", "b", "c"])],
                              "walk_id string, path array<string>")
    plan = (walk_skipgram_pairs(w)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("Join") == 0
    assert plan.count("Exchange") == 1


def test_ppmi_hand_computed_and_positivity(spark):
    """n=10 corpus: PMI(a,x)=ln(1.6), PMI(a,y)=ln(2), PMI(b,x)=ln(0.4)
    is negative and must be dropped; the shift lowers scores and drops
    newly non-positive rows."""
    import math

    from morra_spark.operators.walks import ppmi_scores

    pairs = spark.createDataFrame(
        [("a", "x", 4), ("a", "y", 1), ("b", "x", 1), ("b", "z", 4)],
        "center string, context string, n long")
    got = {(r.center, r.context): r.ppmi
           for r in ppmi_scores(pairs).collect()}
    assert ("b", "x") not in got
    assert got[("a", "x")] == round(math.log(1.6), 6)
    assert got[("a", "y")] == round(math.log(2.0), 6)
    assert got[("b", "z")] == round(math.log(2.0), 6)
    shifted = {(r.center, r.context): r.ppmi
               for r in ppmi_scores(pairs, shift=0.5).collect()}
    assert set(shifted) == {("a", "y"), ("b", "z")}
    assert shifted[("a", "y")] == round(math.log(2.0) - 0.5, 6)


def test_embed_nodes_python_replay_and_bit_invariance(spark):
    """Bucket index + sign replay from plain-Python md5 (the _pick
    contract applied to feature hashing), exact integer-quantized fold,
    unit norm, and BIT-exact equality under repartitioning."""
    from morra_spark.operators.walks import embed_nodes

    dim, n_hashes, seed = 8, 3, 7
    scored = spark.createDataFrame(
        [("a", "x", 0.5), ("a", "y", 1.25), ("b", "x", 2.0)],
        "center string, context string, ppmi double")
    got = {r.node: list(r.embedding)
           for r in embed_nodes(scored, dim=dim, n_hashes=n_hashes,
                                seed=seed).collect()}

    def py_embed(feats):
        vec = [0] * dim
        for ctx, score in feats:
            for g in range(n_hashes):
                h = hashlib.md5(f"{seed}|{g}|{ctx}".encode()).hexdigest()
                i = int(h[:15], 16) % dim
                sign = 1 if int(h[15], 16) % 2 == 0 else -1
                vec[i] += round(score * sign * 1e6)
        dbl = [v / 1e6 for v in vec]
        norm = sum(x * x for x in dbl) ** 0.5
        return [x / norm for x in dbl]

    for node, feats in {"a": [("x", 0.5), ("y", 1.25)],
                        "b": [("x", 2.0)]}.items():
        want = py_embed(feats)
        assert got[node] == pytest.approx(want, abs=1e-6)
        assert sum(x * x for x in got[node]) == pytest.approx(1.0, 1e-5)
    again = {r.node: list(r.embedding)
             for r in embed_nodes(scored.repartition(5), dim=dim,
                                  n_hashes=n_hashes, seed=seed).collect()}
    assert got == again  # bit-exact, not approx: integer fold


def test_walk_to_embedding_lifecycle_separates_communities(spark):
    """End-to-end count-based embedding sanity on two 5-cliques joined
    by one bridge: walks → skip-gram → PPMI → hashed projection must
    place intra-clique pairs closer (mean cosine) than cross-clique
    pairs — the homophily signal the lifecycle exists to extract."""
    from morra_spark.operators.walks import (embed_nodes, ppmi_scores,
                                             random_walks,
                                             walk_skipgram_pairs)

    rows = []
    for tag in ("l", "r"):
        nodes = [f"{tag}{i}" for i in range(5)]
        rows += [(a, b) for a in nodes for b in nodes if a < b]
    rows.append(("l0", "r0"))
    edges = spark.createDataFrame(rows, "src string, dst string")
    walks = random_walks(edges, walk_length=8, walks_per_node=8, seed=11)
    emb = {r.node: r.embedding for r in
           embed_nodes(ppmi_scores(walk_skipgram_pairs(walks, window=2)),
                       dim=32, n_hashes=4).collect()}
    assert len(emb) == 10

    def cos(u, v):
        return sum(a * b for a, b in zip(emb[u], emb[v]))

    def mean(vals):
        vals = list(vals)
        return sum(vals) / len(vals)

    intra = mean(cos(a, b) for a in emb for b in emb
                 if a < b and a[0] == b[0])
    inter = mean(cos(a, b) for a in emb for b in emb if a[0] < b[0])
    assert intra > inter + 0.1


def test_ppmi_marginal_product_does_not_overflow_long(spark):
    """Corpus-scale marginals (~4e9 x 4e9) would wrap a long-by-long
    _nc*_nx product negative, nulling log() and silently dropping
    exactly the heaviest pairs; the marginals must multiply as doubles.
    Expected PPMI for (a, b): ln(n * N / (n_a * n_b)) = ln(2)."""
    import math

    from morra_spark.operators.walks import ppmi_scores

    heavy = 4_000_000_000
    pairs = spark.createDataFrame(
        [("a", "b", heavy), ("e", "f", heavy)],
        "center string, context string, n long")
    got = {(r.center, r.context): r.ppmi
           for r in ppmi_scores(pairs).collect()}
    assert got[("a", "b")] == round(math.log(2.0), 6)
    assert got[("e", "f")] == round(math.log(2.0), 6)


def test_random_walks_rejects_nonpositive_walks_per_node(spark):
    """sequence(0, n-1) auto-steps -1 for n <= 0 and would emit phantom
    walks with negative rep ids instead of zero walks."""
    from morra_spark.operators.walks import random_walks

    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    for bad in (0, -2):
        with pytest.raises(ValueError, match="walks_per_node"):
            random_walks(e, walks_per_node=bad)


def test_embedding_build_runner_end_to_end(spark, tmp_path):
    """The composed runner writes (vec_id, embedding) vectors identical
    to hand-chaining the four stages; a second identical build drifts
    nowhere (all kept, cosine floor 1.0); a perturbed-graph rebuild
    reports real drift numbers through the gate summary."""
    from morra_spark.operators.walks import (embed_nodes, ppmi_scores,
                                             random_walks,
                                             walk_skipgram_pairs)
    from morra_spark.plans.embeddings import run_embedding_build

    edges = [(a, b) for a, b in _rand_edges(9, n_nodes=10, n_edges=24)
             if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out1 = str(tmp_path / "b1")
    s1 = run_embedding_build(df, out_dir=out1, dim=16, seed=5)
    got = {r.vec_id: list(r.embedding) for r in
           spark.read.parquet(f"{out1}/embeddings").collect()}
    want = {r.node: list(r.embedding) for r in embed_nodes(
        ppmi_scores(walk_skipgram_pairs(random_walks(df, seed=5))),
        dim=16, seed=5).collect()}
    assert got == want  # bit-exact: the walks.py determinism contract
    assert s1["n_vectors"] == len(want) > 0

    out2 = str(tmp_path / "b2")
    s2 = run_embedding_build(df, out_dir=out2, dim=16, seed=5,
                             prev_path=f"{out1}/embeddings")
    assert s2["n_added"] == s2["n_removed"] == 0
    assert s2["n_kept"] == s1["n_vectors"]
    assert s2["min_kept_cosine"] == 1.0  # identical rebuild: no drift

    # rewire some edges: the gate must report movement, not silence
    edges3 = edges[:-4] + [("v0", "v9"), ("v1", "v8")]
    out3 = str(tmp_path / "b3")
    s3 = run_embedding_build(
        spark.createDataFrame(edges3, ["src", "dst"]), out_dir=out3,
        dim=16, seed=5, prev_path=f"{out1}/embeddings")
    assert s3["n_kept"] > 0
    assert s3["min_kept_cosine"] is None or s3["min_kept_cosine"] < 1.0


def test_embedding_build_refuses_in_place_drift(spark, tmp_path):
    """--prev inside --out would be destroyed by the overwrite before
    the lazy drift read, making the gate compare the fresh build
    against itself (always-green) — refused, with the blue-green
    layout named in the error."""
    from morra_spark.plans.embeddings import run_embedding_build

    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    out = str(tmp_path / "emb")
    for bad in (f"{out}/embeddings", out, f"{out}/"):
        with pytest.raises(ValueError, match="inside out_dir"):
            run_embedding_build(df, out_dir=out, prev_path=bad)


def test_embedding_build_refuses_in_place_drift_via_unnormalized_path(
        spark, tmp_path):
    """The --prev-inside---out guard resolves both paths first: a
    ``file:`` URI, a ``..`` detour or a symlink to the same directory
    must be refused like the plain path."""
    import os

    from morra_spark.plans.embeddings import run_embedding_build

    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    out = str(tmp_path / "emb")
    os.makedirs(out)
    link = str(tmp_path / "emb_link")
    os.symlink(out, link)
    for bad in (f"file:{out}/embeddings", f"file://{out}",
                f"{tmp_path}/x/../emb/embeddings", f"{link}/embeddings"):
        with pytest.raises(ValueError, match="inside out_dir"):
            run_embedding_build(df, out_dir=out, prev_path=bad)
