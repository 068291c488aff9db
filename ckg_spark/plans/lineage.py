"""Per-stage lineage + checkpoint/resume substrate (SURVEY.md K6).

Reference analog: the HDF5 import-stats store keyed by import_id = uuid4()
(ckg/graphdb_builder/builder/importer.py:23,169-247) plus the
complete_mapping.tsv sentinel files the reference sleep-polls on
(mapping.py:32-43). Here every pipeline stage materializes to parquet and
appends a lineage row; a restarted run skips stages whose output commit
marker (_SUCCESS) and lineage row both exist — a proper replacement for the
reference's cross-process sentinel dance, and the "resumable from
checkpoint with per-partition lineage + metrics" requirement of the north
rule. (On a real deployment these parquet dirs are Iceberg tables and the
commit marker is the snapshot; the storage layer is kept behind this module
so that swap is local.)
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

LINEAGE_DIR = "_lineage"


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def stage_done(out_dir: str, stage: str) -> bool:
    p = stage_path(out_dir, stage)
    return os.path.exists(os.path.join(p, "_SUCCESS"))


def write_stage(df: DataFrame, out_dir: str, stage: str, run_id: str,
                partition_by: list[str] | None = None) -> DataFrame:
    """Materialize a stage to parquet + lineage row; returns the re-read DF."""
    spark = df.sparkSession
    p = stage_path(out_dir, stage)
    t0 = time.time()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(p)
    out = spark.read.parquet(p)
    # per-partition row counts (the north rule's "per-partition lineage +
    # metrics"): read from the parquet FOOTERS just written — exact, and
    # driver-side milliseconds instead of a whole re-scan job per stage
    # (the round-4 10x probe showed curation wall ~2/3 fixed per-stage
    # cost; this was the biggest fixed term). One file = one write task =
    # one partition. Falls back to the groupBy(spark_partition_id) job on
    # any footer-read surprise so the lineage row never silently degrades.
    try:
        part_counts = _parquet_partition_counts(p)
    except Exception:
        from pyspark.sql import functions as F

        part_counts = {
            int(r["pid"]): int(r["n"])
            for r in out.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
    rows = sum(part_counts.values())
    _append_lineage(spark, out_dir, {
        "run_id": run_id,
        "stage": stage,
        "rows": rows,
        "wall_s": round(time.time() - t0, 3),
        "path": p,
        "partitions": len(part_counts),
        "partition_rows": part_counts,
        "max_partition_rows": max(part_counts.values()) if part_counts else 0,
    })
    return out


def _parquet_partition_counts(path: str) -> dict[int, int]:
    """Exact per-file row counts from the parquet footers (pyarrow,
    driver-side). Footer num_rows is authoritative — no data pages read."""
    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    i = 0
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                counts[i] = pq.ParquetFile(
                    os.path.join(root, fn)).metadata.num_rows
                i += 1
    return counts


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(stage_path(out_dir, stage))


def _append_lineage(spark: SparkSession, out_dir: str, row: dict) -> None:
    d = os.path.join(out_dir, LINEAGE_DIR)
    os.makedirs(d, exist_ok=True)
    fn = os.path.join(d, f"{row['run_id']}_{row['stage']}.json")
    with open(fn, "w") as f:
        json.dump(row, f)


def read_lineage(out_dir: str) -> list[dict]:
    d = os.path.join(out_dir, LINEAGE_DIR)
    if not os.path.isdir(d):
        return []
    rows = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                rows.append(json.load(f))
    return rows
