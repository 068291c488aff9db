"""spark-submit entry point: export KG-embedding training data.

Deployment form (same --py-files shape as tools/submit_pipeline.py):

    zip -r ckg_spark.zip ckg_spark/
    spark-submit --py-files ckg_spark.zip tools/submit_kgtrain.py \
        --edges s3://bucket/graph/41_edges --out s3://bucket/kg_train \
        --preds CO_MENTIONED_WITH,MAPS_TO --k 4 --val-rate 0.05

Composes the engine's own operators into the standard TransE/ComplEx
training-data recipe over a constructed graph:

  positives   = distinct (subj, pred, obj) for the selected predicates
  negatives   = kg_qa.negative_triples (deterministic md5 draw over the
                node pool, accidental positives anti-joined out)
  train/val   = sampling.hash_uniform on the positive triple key — the
                split is a pure function of (seed, triple), so any rerun
                or cluster size emits the identical datasets, and a
                negative always lands in its positive's split (no leakage
                of a validation edge into training as a corruption)

Writes parquet train/ and val/ (subj, pred, obj, neg_idx, obj_neg rows:
neg_idx NULL = the positive itself) and prints ONE JSON line.

Sandbox form:

    python tools/submit_kgtrain.py --edges /tmp/kg/41_edges \
        --out /tmp/kg_train --preds CO_MENTIONED_WITH --k 2
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--edges", required=True,
                    help="edges snapshot table (a run_pipeline out_dir's 41_edges)")
    ap.add_argument("--out", required=True, help="output dir (train/, val/)")
    ap.add_argument("--preds", default="CO_MENTIONED_WITH",
                    help="comma list of predicates to train on")
    ap.add_argument("--k", type=int, default=2, help="negatives per positive")
    ap.add_argument("--val-rate", type=float, default=0.05)
    ap.add_argument("--seed", default="kgtrain")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from ckg_spark.session import get_spark
    from ckg_spark.operators.kg_qa import negative_triples
    from ckg_spark.operators.sampling import hash_uniform
    from ckg_spark.plans import table as T

    spark = get_spark("submit_kgtrain", cpus=args.cpus,
                      shuffle_partitions=args.cpus)
    t0 = time.time()
    preds = [p.strip() for p in args.preds.split(",") if p.strip()]
    edges = T.read(spark, args.edges)
    # persist the positive set: every downstream leg (pool index, draw,
    # anti-join, both writes) hangs off it, and without the persist the
    # whole read->distinct lineage re-runs ~5x (review finding)
    pos = (edges.where(F.col("pred").isin(preds))
           .select("subj", "pred", "obj").distinct().persist())
    pool = (pos.select(F.col("subj").alias("id"))
            .unionAll(pos.select(F.col("obj").alias("id"))).distinct())
    neg = negative_triples(pos, pool, k=args.k, seed=args.seed)

    key = F.concat_ws("|", "subj", "pred", "obj")
    rows = (pos.select("subj", "pred", "obj",
                       F.lit(None).cast("int").alias("neg_idx"),
                       F.lit(None).cast("string").alias("obj_neg"))
            .unionByName(neg)
            .withColumn("_is_val",
                        hash_uniform(key, seed=f"{args.seed}:split")
                        < F.lit(args.val_rate)))
    rows.where(~F.col("_is_val")).drop("_is_val").write.mode(
        "overwrite").parquet(os.path.join(args.out, "train"))
    rows.where(F.col("_is_val")).drop("_is_val").write.mode(
        "overwrite").parquet(os.path.join(args.out, "val"))

    # report counts from the WRITTEN datasets (cheap parquet count-scans)
    # instead of re-running the construction lineage per metric
    tr = spark.read.parquet(os.path.join(args.out, "train"))
    va = spark.read.parquet(os.path.join(args.out, "val"))
    both = tr.unionByName(va)
    n_pos = both.where(F.col("neg_idx").isNull()).count()
    n_neg = both.where(F.col("neg_idx").isNotNull()).count()
    out = {
        "positives": n_pos,
        "negatives": n_neg,
        "entities": pool.count(),
        "train_rows": tr.count(),
        "val_rows": va.count(),
        "val_positive_rows": va.where(F.col("neg_idx").isNull()).count(),
        "wall_sec": round(time.time() - t0, 2),
    }
    pos.unpersist()
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
