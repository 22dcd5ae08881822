"""ANN recall/latency benchmark — the tuning harness for the IVF index:

    python -m morra_spark.plans.annbench \
        --emb /path/to/embeddings --k 10 --nprobes 1,2,4

Answers the one question an ANN deployment actually tunes: which
``nprobe`` buys which recall at which cost. Protocol (pinned here, the
``plans/linkpred.py`` argument):

* queries are a DETERMINISTIC sample of the corpus itself (the
  ``train_ivf_centroids`` crc32-ordered trick — engine/partitioning
  stable, no RNG), with the trivial self-match excluded from truth and
  candidates alike;
* ground truth is the brute-force exact cosine top-k — the explicitly
  non-scale baseline (one broadcast crossJoin of n_queries against the
  corpus: fine for a benchmark sample, never the serving path);
* each swept ``nprobe`` runs the REAL ``ann_ivf_topk`` operator
  (broadcast probe table, partition-prunable cid layout) and reports
  ``recall@k`` — the MACRO average of per-query |IVF∩truth|/|truth| —
  plus wall seconds for the retrieval alone (materialized inside the
  timer; scoring joins run outside it, so the sec column compares the
  same work brute_sec measures — local, relative numbers: recall is
  the portable result, timing is box-specific);
* zero-norm vectors are dropped up front (their cosine is NaN, which
  Spark sorts ABOVE every finite value descending — one zero vector
  would silently pollute every query's truth list); the count is
  reported as ``n_zero_dropped``, never hidden.

Recall is computed with joins and counts — nothing query-grain ever
collects. Monotonicity (recall non-decreasing in nprobe, 1.0 when
probing every bucket) is pinned by pytest on a clustered fixture.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_ann_benchmark(emb: DataFrame, *, n_queries: int = 32, k: int = 10,
                      n_centroids: int = 16,
                      nprobes: tuple[int, ...] = (1, 2, 4),
                      lsh_planes: tuple[int, ...] = (),
                      seed: int = 7,
                      vec_col: str = "embedding") -> dict:
    """Run the sweep; returns {n_queries, k, n_centroids, brute_sec,
    sweep: {nprobe: {recall_at_k, sec}}, lsh_sweep: {n_planes: ...}}.

    ``lsh_planes`` additionally sweeps the hyperplane-LSH tier: corpus
    and queries bucketed by the SAME seeded planes, candidates = one
    bucket equi-join, exact rescore inside. Because ``_hyperplanes`` is
    a fixed-seed row-major draw, the first p planes are identical for
    every sweep point — buckets at more planes strictly REFINE buckets
    at fewer, so LSH recall is non-increasing in n_planes (pinned by
    pytest) while candidate cost shrinks: the mirror-image knob of
    IVF's nprobe.
    """
    from pyspark.sql import Window

    from morra_spark.operators.similarity import (_cosine, _probe_dim,
                                                  ann_ivf_topk,
                                                  ivf_assign,
                                                  lsh_bucket_ids,
                                                  train_ivf_centroids)

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_queries < 1:
        raise ValueError(f"n_queries must be >= 1, got {n_queries}")
    bad = [n for n in (*nprobes, *lsh_planes) if int(n) < 1]
    if bad:
        # nprobe=0 would report a fake 0-recall operating point; a
        # NEGATIVE nprobe is worse — numpy slicing order[:, :n] probes
        # n_centroids+n buckets mislabeled as nprobe=n
        raise ValueError(
            f"nprobes/lsh_planes must all be >= 1, got {bad}")
    # zero-norm vectors have no direction: their cosine is NaN and
    # Spark sorts NaN first under desc, so ONE such vector would sit
    # atop every query's truth list — drop and report, never hide
    sq = F.aggregate(F.transform(vec_col,
                                 lambda x: x.cast("double") * x),
                     F.lit(0.0), lambda a, x: a + x)
    total = emb.count()
    emb = emb.filter(sq > 0)
    n_zero = total - emb.count()
    # deterministic query sample (crc32 bucket, id tiebreak — the
    # train_ivf_centroids sampling rule; disjoint-ish from its pool is
    # NOT required: centroid training never sees labels)
    qs = (emb.select(F.col("vec_id").alias("qid"),
                     F.col(vec_col).alias("q"))
          .withColumn("_h", F.crc32(F.col("qid").cast("string")) % 997)
          .orderBy(F.desc("_h"), "qid").limit(int(n_queries))
          .drop("_h").localCheckpoint(eager=True))
    nq = qs.count()
    if nq == 0:
        raise ValueError("empty embedding table (after zero-vector drop)")

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    t0 = time.time()
    truth = (emb.crossJoin(F.broadcast(qs))
             .filter(F.col("vec_id") != F.col("qid"))   # no self-match
             .withColumn("cosine", _cosine(vec_col, "q"))
             .withColumn("_r", F.row_number().over(w))
             .filter(F.col("_r") <= k)
             .select("qid", "vec_id")
             .localCheckpoint(eager=True))
    brute_sec = round(time.time() - t0, 3)
    n_truth = truth.count()   # ≤ nq*k (small corpora give short lists)

    C = train_ivf_centroids(emb, n_centroids=n_centroids, seed=seed,
                            vec_col=vec_col)
    assigned = (ivf_assign(emb, C, vec_col)
                .localCheckpoint(eager=True))  # index built once, reused
    summary: dict = {"n_queries": nq, "k": k, "n_centroids": len(C),
                     "n_truth_rows": n_truth, "n_zero_dropped": n_zero,
                     "brute_sec": brute_sec, "sweep": {}}
    tr_per_q = truth.groupBy("qid").agg(F.count(F.lit(1)).alias("_t"))

    def macro_recall(got: DataFrame) -> float:
        # MACRO recall: mean over queries of |got∩truth| / |truth| —
        # robust to uneven truth lists, matches the documented metric
        hit_per_q = (got.join(truth, ["qid", "vec_id"], "left_semi")
                     .groupBy("qid").agg(F.count(F.lit(1)).alias("_h")))
        rec = (tr_per_q.join(hit_per_q, "qid", "left")
               .select((F.coalesce("_h", F.lit(0)) / F.col("_t"))
                       .alias("r"))
               .agg(F.avg("r")).first()[0])
        return round(float(rec), 6) if rec is not None else 0.0

    for nprobe in nprobes:
        t1 = time.time()
        # ask for k+1 then drop the self-match and re-rank: the operator
        # legitimately returns the query itself at cosine 1 when queries
        # are corpus members. The re-rank recomputes full-precision
        # cosine — the operator's output is rounded to 4 decimals, and
        # truth ranks unrounded, so near-ties at the k boundary would
        # otherwise fall to vec_id. The timer covers retrieval only
        # (probe + re-rank, materialized here); the scoring joins below
        # run OUTSIDE it so sec compares the same work brute_sec measures
        cand = (ann_ivf_topk(assigned, qs, C, k=k + 1, nprobe=int(nprobe),
                             vec_col=vec_col)
                .filter(F.col("vec_id") != F.col("qid"))
                .select("qid", "vec_id"))
        got = (assigned.select("vec_id", vec_col)
               .join(F.broadcast(cand), "vec_id")
               .join(F.broadcast(qs), "qid")
               .withColumn("cosine", _cosine(vec_col, "q"))
               .withColumn("_r", F.row_number().over(w))
               .filter(F.col("_r") <= k)
               .select("qid", "vec_id")
               .localCheckpoint(eager=True))
        sec = round(time.time() - t1, 3)
        summary["sweep"][int(nprobe)] = {
            "recall_at_k": macro_recall(got), "sec": sec,
        }

    if lsh_planes:
        summary["lsh_sweep"] = {}
        dim = _probe_dim(emb, vec_col)
        for n_planes in lsh_planes:
            t1 = time.time()
            corpus_b = lsh_bucket_ids(emb, n_planes=int(n_planes),
                                      dim=dim, vec_col=vec_col)
            q_b = (lsh_bucket_ids(
                qs.select("qid", F.col("q").alias(vec_col)),
                n_planes=int(n_planes), dim=dim, vec_col=vec_col)
                .select("qid", F.col(vec_col).alias("q"), "bucket"))
            got = (corpus_b.join(F.broadcast(q_b), "bucket")
                   .filter(F.col("vec_id") != F.col("qid"))
                   .withColumn("cosine", _cosine(vec_col, "q"))
                   .withColumn("_r", F.row_number().over(w))
                   .filter(F.col("_r") <= k)
                   .select("qid", "vec_id")
                   .localCheckpoint(eager=True))
            sec = round(time.time() - t1, 3)
            summary["lsh_sweep"][int(n_planes)] = {
                "recall_at_k": macro_recall(got), "sec": sec,
            }
    return summary


def main() -> None:
    from morra_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--emb", required=True,
                    help="(vec_id, embedding) parquet — e.g. the "
                         "plans/embeddings.py output or the testdata "
                         "embeddings table")
    ap.add_argument("--n-queries", type=int, default=32)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-centroids", type=int, default=16)
    ap.add_argument("--nprobes", default="1,2,4")
    ap.add_argument("--lsh-planes", default="",
                    help="optional hyperplane sweep, e.g. 4,6,8")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--json", action="store_true",
                    help="print ONE machine-readable JSON line (the "
                         "bench.py convention) instead of the table")
    args = ap.parse_args()
    spark = get_spark("annbench")
    s = run_ann_benchmark(
        spark.read.parquet(args.emb), n_queries=args.n_queries,
        k=args.k, n_centroids=args.n_centroids,
        nprobes=tuple(int(x) for x in args.nprobes.split(",")),
        lsh_planes=tuple(int(x) for x in args.lsh_planes.split(",")
                         if x.strip()),
        seed=args.seed)
    if args.json:
        import json
        print(json.dumps(s))
        return
    for key, v in s.items():
        if key not in ("sweep", "lsh_sweep"):
            print(f"{key:>14}: {v}")
    for nprobe, row in s["sweep"].items():
        print(f"   nprobe={nprobe:<3} recall@{s['k']}="
              f"{row['recall_at_k']:<9} {row['sec']}s")
    for n_planes, row in s.get("lsh_sweep", {}).items():
        print(f"   planes={n_planes:<3} recall@{s['k']}="
              f"{row['recall_at_k']:<9} {row['sec']}s")


if __name__ == "__main__":
    main()
