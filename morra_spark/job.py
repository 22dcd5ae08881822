"""Production job entry point for ``spark-submit``.

Cluster usage (the north-rule ship shape)::

    zip -r morra_spark.zip morra_spark
    spark-submit \
      --master yarn --deploy-mode cluster \
      --py-files morra_spark.zip \
      --files models/kg_model.pkl \
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      job_main.py --transcripts <iceberg table or path> \
                  --out <warehouse path> --model kg_model.pkl

Locally: ``python -m morra_spark.job --transcripts ... --out ...``.
The model pickle is loaded ONCE driver-side and broadcast; executors
never read it from disk (SURVEY.md §2 A14).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="morra_spark KG-construction job")
    ap.add_argument("--transcripts", required=True,
                    help="transcript table path (parquet dir; Iceberg table on cluster)")
    ap.add_argument("--out", required=True, help="output warehouse dir")
    ap.add_argument("--model", default="models/kg_model.pkl")
    ap.add_argument("--run-id", default=None,
                    help="reuse a run id to resume an interrupted run")
    ap.add_argument("--n-parts", type=int, default=64)
    ap.add_argument("--pos-mode", default=None,
                    choices=["level1", "two_pass", "voting"],
                    help="override the artifact's A8 POS mode for this run")
    ap.add_argument("--ner-mode", default=None,
                    choices=["joint", "combine"],
                    help="override the artifact's A12 NER mode for this run")
    ap.add_argument("--master", default=None,
                    help="override master (default: local[<host cores>], or "
                         "local[$SPARK_GRAFT_CPUS]; "
                         "unset under spark-submit which provides its own)")
    ap.add_argument("--materialize-graph", action="store_true",
                    help="also write the aggregated node/edge tables "
                         "(north rule 'graph materialize') under "
                         "<out>/graph/")
    args = ap.parse_args()

    from morra_spark.plans.pipeline import run_pipeline
    from morra_spark.session import get_spark

    # CLI names -> meta values: 'level1'/'joint' disable the ensembles
    # (meta None); absent flags leave the artifact's stamped modes alone
    pos_mode = {"level1": ""}.get(args.pos_mode, args.pos_mode)
    ner_mode = {"joint": ""}.get(args.ner_mode, args.ner_mode)

    spark = get_spark("morra_spark_job", master=args.master)
    try:
        summary = run_pipeline(
            spark, transcripts_path=args.transcripts, out_dir=args.out,
            model_path=args.model, run_id=args.run_id, n_parts=args.n_parts,
            pos_mode=pos_mode, ner_mode=ner_mode)
        if args.materialize_graph:
            from morra_spark.operators.kg_graph import materialize_graph

            triples = spark.read.parquet(summary["triples_dir"])
            summary["graph"] = materialize_graph(
                triples, f"{args.out}/graph", n_parts=max(args.n_parts // 4, 1))
        print(json.dumps(summary))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
