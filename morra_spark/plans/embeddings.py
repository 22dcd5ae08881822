"""Node-embedding build runner — the composed lifecycle job that turns
the walk→association→projection pieces into one reproducible artifact
with a release gate:

    python -m morra_spark.plans.embeddings \
        --pairs /path/to/edges --src subj --dst obj --out /tmp/emb \
        [--prev /prior/out/embeddings]

Pipeline (all deterministic — same (edges, seed) ⇒ bit-identical
corpus and bit-exact projection, the ``walks.py`` contract):

1. ``walks.random_walks``      — seeded DeepWalk corpus (md5 picks);
2. ``walks.walk_skipgram_pairs`` — map-only context pairs;
3. ``walks.ppmi_scores``       — shifted-PPMI association matrix;
4. ``walks.embed_nodes``       — feature-hashed L2-normalized
   ``array<float>`` vectors, written to ``<out>/embeddings`` under the
   (vec_id, embedding) schema every ANN / near-dup operator consumes;
5. (with ``--prev``) ``similarity.embedding_drift`` against the prior
   build, written to ``<out>/drift`` — and the summary carries the
   kept/added/removed counts plus the kept-cosine floor, so a deploy
   script can gate the serving-table swap on "how far did vectors
   move" (the CDC release-gate pattern, ``test_embedding_drift_*``).

Why a runner: the stage ORDER and parameters are the reproducibility
contract — an embedding rebuilt with a different window or hash seed
is a different vector space, and downstream ANN indexes go silently
stale. This pins the parameters into one place, the same argument as
``plans/pretrain.py``'s leak-proof ordering and
``plans/linkpred.py``'s pinned protocol.

100 TB shape: nothing beyond its parts — each stage's scale story
lives in its operator docstring; the runner adds only the writes. The
walk corpus (the one intermediate bigger than its output) flows
straight into the map-only pair expansion without materializing.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_embedding_build(pairs: DataFrame, *, out_dir: str,
                        src: str = "src", dst: str = "dst",
                        walk_length: int = 10, walks_per_node: int = 2,
                        window: int = 2, shift: float = 0.0,
                        dim: int = 64, n_hashes: int = 4,
                        seed: int = 42, max_degree: int | None = None,
                        prev_path: str | None = None) -> dict:
    """Run the build; returns a flat summary dict (vector count, and
    with ``prev_path`` the drift gate numbers)."""
    from pyspark.sql import Observation

    from morra_spark.operators.similarity import embedding_drift
    from morra_spark.operators.walks import (embed_nodes, ppmi_scores,
                                             random_walks,
                                             walk_skipgram_pairs)

    if prev_path is not None:
        # the overwrite below lands BEFORE the (lazy) prev read: a prev
        # inside out_dir would be destroyed first and the drift gate
        # would compare the fresh build against itself — always-green,
        # prior build gone (code-review r5). Builds are blue-green by
        # design: write each build to its OWN dir, gate, then swap.
        # compare resolved local paths, so "file:" URIs, "..", "./" and
        # symlinks cannot slip a prev inside out_dir past the check
        norm = lambda p: os.path.realpath(  # noqa: E731
            p[len("file:"):] if p.startswith("file:") else p)
        if (norm(prev_path) == norm(out_dir)
                or norm(prev_path).startswith(norm(out_dir) + "/")):
            raise ValueError(
                f"prev_path {prev_path!r} lies inside out_dir "
                f"{out_dir!r}: the overwrite would destroy the prior "
                "build before the drift gate reads it — write the new "
                "build to its own directory and swap after gating")

    walks = random_walks(pairs, walk_length=walk_length,
                         walks_per_node=walks_per_node, seed=seed,
                         src=src, dst=dst, max_degree=max_degree)
    scored = ppmi_scores(walk_skipgram_pairs(walks, window=window),
                         shift=shift)
    emb = (embed_nodes(scored, dim=dim, n_hashes=n_hashes, seed=seed)
           .select(F.col("node").alias("vec_id"), "embedding"))
    # counts ride the write's own observed metrics (the kg_report rule)
    e_obs = Observation("embeddings")
    (emb.observe(e_obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(f"{out_dir}/embeddings"))
    summary: dict = {"n_vectors": int(e_obs.get["n"] or 0), "dim": dim,
                     "seed": seed}

    if prev_path is not None:
        spark: SparkSession = pairs.sparkSession
        old = spark.read.parquet(prev_path)
        new = spark.read.parquet(f"{out_dir}/embeddings")
        d_obs = Observation("drift")
        (embedding_drift(old, new)
         .observe(d_obs,
                  F.sum((F.col("status") == "kept").cast("long"))
                  .alias("kept"),
                  F.sum((F.col("status") == "added").cast("long"))
                  .alias("added"),
                  F.sum((F.col("status") == "removed").cast("long"))
                  .alias("removed"),
                  F.min("cosine").alias("min_cos"))
         .write.mode("overwrite").parquet(f"{out_dir}/drift"))
        summary.update({
            "n_kept": int(d_obs.get["kept"] or 0),
            "n_added": int(d_obs.get["added"] or 0),
            "n_removed": int(d_obs.get["removed"] or 0),
            # the gate number: a deploy script swaps the serving table
            # only when the kept-cosine floor clears its threshold
            "min_kept_cosine": (round(float(d_obs.get["min_cos"]), 6)
                                if d_obs.get["min_cos"] is not None
                                else None),
        })
    return summary


def main() -> None:
    from morra_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pairs", required=True,
                    help="edge-pair parquet (e.g. the kg_report edges/)")
    ap.add_argument("--src", default="src")
    ap.add_argument("--dst", default="dst")
    ap.add_argument("--out", required=True)
    ap.add_argument("--walk-length", type=int, default=10)
    ap.add_argument("--walks-per-node", type=int, default=2)
    ap.add_argument("--window", type=int, default=2)
    ap.add_argument("--shift", type=float, default=0.0)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--n-hashes", type=int, default=4)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--max-degree", type=int, default=None)
    ap.add_argument("--prev", default=None,
                    help="prior build's embeddings/ for the drift gate")
    ap.add_argument("--json", action="store_true",
                    help="print ONE machine-readable JSON line (the "
                         "bench.py convention) instead of the table")
    args = ap.parse_args()
    spark = get_spark("embeddings")
    s = run_embedding_build(
        spark.read.parquet(args.pairs), out_dir=args.out,
        src=args.src, dst=args.dst, walk_length=args.walk_length,
        walks_per_node=args.walks_per_node, window=args.window,
        shift=args.shift, dim=args.dim, n_hashes=args.n_hashes,
        seed=args.seed, max_degree=args.max_degree,
        prev_path=args.prev)
    if args.json:
        import json
        print(json.dumps(s))
    else:
        for k, v in s.items():
            print(f"{k:>16}: {v}")


if __name__ == "__main__":
    main()
