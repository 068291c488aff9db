"""spark-submit entry point for the KG quality-assurance pass.

Deployment form (same --py-files shape as tools/submit_pipeline.py):

    zip -r ckg_spark.zip ckg_spark/
    spark-submit --py-files ckg_spark.zip tools/submit_kgqa.py \
        --nodes s3://bucket/graph/40_nodes --edges s3://bucket/graph/41_edges \
        [--rules rules.csv] [--comention-triangles]

Runs the release-gate checks a graph build should pass before a bulk
load: dangling edge endpoints vs the node table (both directions;
MENTIONED_IN_TURN objs are turn keys by design and are skipped), full
domain/range validation when a rules CSV (pred,subj_type,obj_type) is
given (node type = the nodes table's label column), and optionally the
triangle census of the co-mention subgraph. Prints ONE JSON line.

Sandbox form:

    python tools/submit_kgqa.py --nodes /tmp/kg/40_nodes \
        --edges /tmp/kg/41_edges --comention-triangles
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--nodes", required=True,
                    help="nodes snapshot table (a run_pipeline out_dir's 40_nodes)")
    ap.add_argument("--edges", required=True,
                    help="edges snapshot table (a run_pipeline out_dir's 41_edges)")
    ap.add_argument("--rules", help="CSV of pred,subj_type,obj_type allowed combos")
    ap.add_argument("--comention-triangles", action="store_true")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from ckg_spark.session import get_spark
    from ckg_spark.operators.kg_qa import schema_violations, violation_summary
    from ckg_spark.operators.graph_algos import triangle_counts
    from ckg_spark.plans import table as T

    spark = get_spark("submit_kgqa", cpus=args.cpus, shuffle_partitions=args.cpus)
    t0 = time.time()
    nodes = T.read(spark, args.nodes)
    edges = T.read(spark, args.edges)
    ids = nodes.select("id")
    out = {
        "edges": edges.count(),
        "nodes": nodes.count(),
        "dangling_subj": edges.join(
            F.broadcast(ids.withColumnRenamed("id", "subj")), "subj",
            "left_anti").count(),
        "dangling_obj": edges.where(F.col("pred") != "MENTIONED_IN_TURN")
        .join(F.broadcast(ids.withColumnRenamed("id", "obj")), "obj",
              "left_anti").count(),
    }
    if args.rules:
        cols = ["pred", "subj_type", "obj_type"]
        with open(args.rules) as f:
            raw = [r for r in csv.reader(f) if r]
        if raw and [c.strip().lower() for c in raw[0]] == cols:
            raw = raw[1:]  # tolerate a header row
        for i, r in enumerate(raw, 1):
            if len(r) != 3:
                raise SystemExit(
                    f"bad rules CSV at data line {i}: expected 3 fields "
                    f"(pred,subj_type,obj_type), got {len(r)}: {r!r}")
        rules = spark.createDataFrame([tuple(r) for r in raw], cols)
        types = nodes.select("id", F.col("label").alias("type"))
        summ = violation_summary(
            schema_violations(edges, types, rules)).collect()
        # sum across (subj_type, obj_type) combos — the summary is
        # per-combo, so a plain dict keyed by pred/violation would keep
        # only the last combo's count (review finding)
        viol: dict = {}
        for r in summ:
            key = f"{r.pred}/{r.violation}"
            viol[key] = viol.get(key, 0) + int(r.n_edges)
        out["violations"] = viol
        out["violations_total"] = int(sum(r.n_edges for r in summ))
    if args.comention_triangles:
        com = edges.where(F.col("pred") == "CO_MENTIONED_WITH")
        tri = triangle_counts(com)
        corners = tri.agg(F.coalesce(F.sum("triangles"), F.lit(0))).first()[0]
        out["comention_triangles"] = int(corners) // 3
        out["comention_nodes_in_triangles"] = tri.count()
    out["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
