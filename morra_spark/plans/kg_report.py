"""KG build report — the one composed job a graph consumer runs after
(or instead of re-running) the extraction pipeline: materialize the
node/edge tables plus every audit and serving artifact this engine
derives from a triple table, under one output directory.

    python -m morra_spark.plans.kg_report \
        --triples /path/to/triples --out /tmp/kg_report

Artifacts (each a parquet dir under ``--out``):

* ``edges/``, ``nodes/`` — the aggregated graph
  (``operators/kg_graph.materialize_graph``: edges hash-laid-out by
  subj for neighborhood pruning);
* ``signatures/`` — per-predicate NE-type signature profile
  (ontology induction);
* ``cardinality/`` — predicate cardinality + the functional verdict
  (which predicates ``resolve_functional`` may collapse);
* ``type_conflicts/`` — entities asserted under >1 NE tag (the
  exception list behind the nodes' deterministic type pick);
* ``profiles/`` — per-entity top-k ego rows (the serving table);
* ``degree_hist/`` — log2-bucketed in/out degree histogram with the
  per-bucket worst hub (the release-gate skew audit: a new super-hub
  shows up here at build time, not in a downstream join stall);
* ``summary/`` — one row of headline counts;
* (``--structure``, opt-in) ``kcore2/`` — the 2-core membership
  (nodes whose assertions are corroborated by surrounding structure,
  vs pendant one-shot extractions), ``clustering/`` — per-node local
  clustering coefficient, ``hits/`` — directed hub/authority scores
  (which entities are the trusted targets vs the prolific sources),
  and ``truss3/`` — the 3-truss edges (each closes ≥1 triangle: the
  edge-grain corroboration twin of the 2-core); all four run on the
  AGGREGATED edge grain, so the flag never rescans triples.

Plan economics: the triple scan feeds edges, nodes, signatures,
cardinality, and type_conflicts — five independent reduced-grain
aggregates over one input. The input is localCheckpointed once so five
write jobs share a single materialization of the (possibly expensive)
upstream lineage instead of recomputing it per sink; profiles reuse the
just-written edges (aggregated grain, orders smaller). At 100 TB each
aggregate partial-combines map-side; nothing windows raw triples.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_kg_report(spark: SparkSession, *, triples: DataFrame | None = None,
                  triples_path: str | None = None, out_dir: str,
                  profile_k: int = 3, n_parts: int = 16,
                  structure: bool = False) -> dict:
    """Materialize the full report; returns headline counts."""
    from morra_spark.operators.kg_graph import (degree_distribution,
                                                entity_profiles,
                                                materialize_graph,
                                                node_type_conflicts,
                                                predicate_cardinality,
                                                predicate_signatures)

    from pyspark.sql import Observation

    if triples is None:
        triples = spark.read.parquet(triples_path)
    t = triples.select("conv_id", "turn_idx", "subj", "pred", "obj",
                       "subj_ne", "obj_ne").localCheckpoint(eager=True)

    g = materialize_graph(t, out_dir, n_parts=n_parts)
    # summary counts ride the write jobs' own observed metrics (the
    # materialize_graph pattern) — re-reading the just-written parquet
    # for counts would be a second job per artifact (code-review
    # finding; full LIST + footer reads on object storage at 100 TB)
    sig_obs = Observation("signatures")
    card_obs, conf_obs = Observation("card"), Observation("conf")
    (predicate_signatures(t)
     .observe(sig_obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(f"{out_dir}/signatures"))
    (predicate_cardinality(t.select("subj", "pred", "obj"))
     .observe(card_obs, F.count(F.lit(1)).alias("n"),
              F.sum(F.col("functional").cast("long")).alias("n_func"))
     .write.mode("overwrite").parquet(f"{out_dir}/cardinality"))
    (node_type_conflicts(t)
     .observe(conf_obs, F.count(F.lit(1)).alias("n"),
              F.sum(F.col("conflicted").cast("long")).alias("n_conf"))
     .write.mode("overwrite").parquet(f"{out_dir}/type_conflicts"))
    edges = spark.read.parquet(g["edges_dir"])
    entity_profiles(edges, k=profile_k).write.mode("overwrite") \
        .parquet(f"{out_dir}/profiles")
    # degree histogram also reads the just-written aggregated edges —
    # vocabulary-grain input, fixed ~40-row output; max out-hub rides
    # the write's observed metrics like the other audits
    hub_obs = Observation("degree_hist")
    (degree_distribution(edges)
     .observe(hub_obs,
              F.max(F.when(F.col("direction") == "out",
                           F.col("max_degree"))).alias("max_out"))
     .write.mode("overwrite").parquet(f"{out_dir}/degree_hist"))

    summary = {
        "n_triples": t.count(),  # checkpointed input: count is local
        "n_edges": g["n_edges"], "n_nodes": g["n_nodes"],
        "n_signatures": sig_obs.get["n"],
        "n_predicates": card_obs.get["n"],
        "n_functional_predicates": int(card_obs.get["n_func"] or 0),
        "n_type_conflicted_entities": int(conf_obs.get["n_conf"] or 0),
        "max_out_degree": int(hub_obs.get["max_out"] or 0),
    }

    if structure:
        # opt-in structural audits (the materialize_graph flag pattern):
        # all four run on the aggregated edge grain, orders smaller than
        # the triple scan, so the flag costs nothing on the default path
        from morra_spark.operators.components import (
            clustering_coefficient, hits_scores, kcore, ktruss)

        und = edges.select(F.col("subj").alias("src"),
                           F.col("obj").alias("dst"))
        core_obs = Observation("kcore2")
        (kcore(und, k=2)
         .observe(core_obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(f"{out_dir}/kcore2"))
        cc_obs = Observation("clustering")
        (clustering_coefficient(und)
         .observe(cc_obs, F.sum((F.col("coeff") > 0).cast("long"))
                  .alias("n_pos"))
         .write.mode("overwrite").parquet(f"{out_dir}/clustering"))
        # hits keeps DIRECTION (subj->obj), unlike the two audits
        # above, and weights each edge by its supporting-triple count —
        # trust scales with corroboration, not just fan-out
        hits_obs = Observation("hits")
        (hits_scores(edges, src="subj", dst="obj", weight_col="weight")
         .observe(hits_obs,
                  F.max(F.col("authority")).alias("max_auth"))
         .write.mode("overwrite").parquet(f"{out_dir}/hits"))
        # 2-core says which NODES are structurally corroborated;
        # 3-truss says which EDGES are (each closes >= 1 triangle)
        truss_obs = Observation("truss3")
        (ktruss(und, k=3)
         .observe(truss_obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(f"{out_dir}/truss3"))
        summary["n_core2_nodes"] = int(core_obs.get["n"] or 0)
        summary["n_clustered_nodes"] = int(cc_obs.get["n_pos"] or 0)
        summary["top_authority_milli"] = int(
            round(1000 * float(hits_obs.get["max_auth"] or 0.0)))
        summary["n_truss3_edges"] = int(truss_obs.get["n"] or 0)
    spark.createDataFrame(
        [tuple(summary.values())],
        ", ".join(f"{k} long" for k in summary)) \
        .write.mode("overwrite").parquet(f"{out_dir}/summary")
    return summary


def main() -> None:
    from morra_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--triples", required=True,
                    help="triple table parquet path (the pipeline sink)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--profile-k", type=int, default=3)
    ap.add_argument("--n-parts", type=int, default=16)
    ap.add_argument("--structure", action="store_true",
                    help="also write the kcore2/, clustering/, hits/ and "
                         "truss3/ audits")
    args = ap.parse_args()
    spark = get_spark("kg_report")
    s = run_kg_report(spark, triples_path=args.triples, out_dir=args.out,
                      profile_k=args.profile_k, n_parts=args.n_parts,
                      structure=args.structure)
    for k, v in s.items():
        print(f"{k:>28}: {v}")


if __name__ == "__main__":
    main()
