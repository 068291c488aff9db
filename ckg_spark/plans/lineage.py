"""Per-stage lineage + checkpoint/resume substrate (SURVEY.md K6).

Reference analog: the HDF5 import-stats store keyed by import_id = uuid4()
(ckg/graphdb_builder/builder/importer.py:23,169-247) plus the
complete_mapping.tsv sentinel files the reference sleep-polls on
(mapping.py:32-43). Here every pipeline stage is a ``plans.table``
snapshot table at ``{out_dir}/{stage}``, and its lineage row is that
snapshot's properties — Iceberg keeps commit summaries the same way
(https://iceberg.apache.org/spec/#snapshots). The data files and the
lineage record land in ONE manifest commit: a run killed before it leaves
the stage uncommitted (rewritten on resume), a run killed after it leaves
both. A restarted run skips every stage whose table has a snapshot.

A lineage row is rebuilt from the snapshot log: ``run_id``, ``stage`` and
the write's start time are snapshot properties, ``wall_s`` is the commit
time minus that start, and the per-partition row counts (one data file =
one write task = one partition) are the manifest's per-file record counts,
read from the parquet footers at commit time.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import table as T


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def stage_done(out_dir: str, stage: str) -> bool:
    return T.current_version(stage_path(out_dir, stage)) is not None


def write_stage(df: DataFrame, out_dir: str, stage: str,
                run_id: str) -> DataFrame:
    """Commit ``df`` as a new snapshot of the stage table, with its lineage
    fields as the snapshot properties; returns the committed frame."""
    p = stage_path(out_dir, stage)
    T.overwrite(df, p, properties={"run_id": run_id, "stage": stage,
                                   "started_at": time.time()})
    return T.read(df.sparkSession, p)


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return T.read(spark, stage_path(out_dir, stage))


def read_lineage(out_dir: str) -> list[dict]:
    """One row per stage commit under ``out_dir``, oldest first. Only
    snapshots carrying a ``stage`` property count: other snapshot tables
    may share the directory."""
    rows = []
    for name in os.listdir(out_dir) if os.path.isdir(out_dir) else []:
        p = stage_path(out_dir, name)
        for s in T.snapshots(p):
            props = s["properties"]
            if "stage" not in props:
                continue
            counts = {str(i): n for i, n in
                      enumerate(s["file_rows"].values())}
            rows.append((s["committed_at"], {
                "run_id": props["run_id"],
                "stage": props["stage"],
                "rows": s["row_count"],
                "wall_s": round(s["committed_at"] - props["started_at"], 3),
                "path": p,
                "partitions": len(counts),
                "partition_rows": counts,
                "max_partition_rows": max(counts.values(), default=0),
            }))
    return [r for _, r in sorted(rows, key=lambda t: t[0])]
