"""spark-submit entry point for the ER pipeline.

Production launch (north_rule):
  spark-submit --py-files er.zip main.py \
      --input cat.db.transcripts --warehouse s3://…/er_warehouse

Local smoke (master defaults to local[$SPARK_GRAFT_CPUS], else one
task thread per CPU this process may use):
  python main.py --synthetic 200 --warehouse .data/warehouse

Every run materialises the whole DAG; stages resume from their last
committed snapshot via StageStore.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    from entity_resolution__spark.plans.pipeline import ERConfig

    p = argparse.ArgumentParser()
    p.add_argument("--input", help="transcripts table/path (parquet dir or table)")
    p.add_argument("--synthetic", type=int, default=0, help="generate N synthetic entities instead of --input")
    p.add_argument("--warehouse", default=".data/warehouse")
    p.add_argument("--master", default=None)
    p.add_argument("--keep-threshold", type=float, default=ERConfig.keep_threshold)
    p.add_argument("--cluster-threshold", type=float, default=ERConfig.cluster_threshold)
    p.add_argument("--output", help="optional parquet path for final clusters")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from entity_resolution__spark.plans.checkpoint import StageStore
    from entity_resolution__spark.plans.pipeline import ERConfig, run_pipeline
    from entity_resolution__spark.schema import TRANSCRIPTS
    from entity_resolution__spark.session import get_spark

    spark = get_spark("er-main", master=args.master)
    if args.synthetic:
        from entity_resolution__spark.data.synth import make_transcripts

        transcripts = spark.createDataFrame(
            make_transcripts(seed=42, n_entities=args.synthetic), schema=TRANSCRIPTS
        )
    elif args.input:
        transcripts = (
            spark.read.table(args.input)
            if "." in args.input and not os.path.exists(args.input)
            else spark.read.parquet(args.input)
        )
    else:
        print("need --input or --synthetic", file=sys.stderr)
        return 2

    cfg = ERConfig(
        keep_threshold=args.keep_threshold,
        cluster_threshold=args.cluster_threshold,
    )
    store = StageStore(args.warehouse)
    t0 = time.monotonic()
    res = run_pipeline(spark, transcripts, cfg, store=store)
    n = res.clusters.count()
    wall = time.monotonic() - t0
    if args.output:
        res.clusters.write.mode("overwrite").parquet(args.output)
    print(
        json.dumps(
            {
                "rows": n,
                "wall_sec": round(wall, 2),
                "cc_iterations": res.cc_iterations,
                "warehouse": args.warehouse,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
