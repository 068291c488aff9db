"""Snapshot-table substrate: Iceberg-style commit semantics over parquet.

The north star materializes graph tables "as partitioned Iceberg tables".
On a deployment that is literally Iceberg; this module keeps the part of
the table format the pipeline's correctness depends on — and keeps it
behind one small API so the swap is local. It is the one commit protocol:
every pipeline stage (``plans/lineage.py``), incremental table and sync
mark commits through it.

- **immutable data files + manifest commits**: every write lands data
  files under a fresh ``data/s<id>/`` prefix, then commits a JSON manifest
  (``meta/v<N>.json``) listing the COMPLETE live file set. Readers only
  ever see files named by a committed manifest, so a writer crashing
  mid-write leaves the table exactly at its previous snapshot (the
  half-written data prefix is unreferenced garbage, removed by
  ``expire_snapshots``).
- **atomic snapshot pointer**: ``meta/_latest`` is swapped with an
  os.replace (atomic on POSIX), the local-FS rendition of Iceberg's
  metadata-pointer swap in the catalog.
- **append / overwrite**: append commits parent's files + new files;
  overwrite commits only the new files. Both record operation, row count,
  file count, parent id, caller properties and each file's record count
  (``file_rows``, from the footers the write already opens) — the
  snapshot log.
- **time travel**: ``read(spark, dir, version=N)`` plans the scan from
  manifest N's file list, so any historical snapshot stays queryable
  until expired; ``rollback`` commits a new manifest that re-points to an
  old snapshot's file set (never rewrites data).
- **one scan planner, driven by the table schema**: a manifest's
  ``schema`` is the TABLE schema — the union of its live files' columns,
  partition columns included — and a scan never infers it from the files
  (Iceberg: https://iceberg.apache.org/spec/#schemas-and-data-types).
  ``read`` and ``read_files`` both build their frame in ``_scan``: one
  parquet scan with that schema (a column a file lacks reads as null),
  with each file's manifest partition values written over its partition
  columns. Columns come back in the table schema's order, whichever
  files a scan selects.

Scale note: a manifest holds file PATHS (one line per data file, not per
row). At 100 TB with ~256 MB files that is ~400k entries — a driver-side
JSON of tens of MB, the same order Iceberg's avro manifests handle; data
never moves through the driver. Readers get normal parquet scans —
predicate pushdown / column pruning / partition pruning all apply
unchanged, because the manifest only decides WHICH files are in the scan.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "meta")


def _latest_path(table_dir: str) -> str:
    return os.path.join(_meta_dir(table_dir), "_latest")


def current_version(table_dir: str) -> int | None:
    try:
        with open(_latest_path(table_dir)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_meta_dir(table_dir), f"v{version}.json")


def read_manifest(table_dir: str, version: int | None = None) -> dict:
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    with open(_manifest_path(table_dir, v)) as f:
        m = json.load(f)
    m["version"] = v
    return m


def _list_parquet_files(prefix: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(prefix):
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(os.path.join(root, fn))
    return sorted(out)


def _commit(table_dir: str, files: list[str], operation: str, rows: int,
            parent: int | None, snapshot_id: str,
            properties: dict | None = None,
            extra: dict | None = None) -> int:
    """Write manifest v<N+1> then atomically swap the _latest pointer."""
    os.makedirs(_meta_dir(table_dir), exist_ok=True)
    version = (parent if parent is not None else 0) + 1
    manifest = {
        "snapshot_id": snapshot_id,
        "operation": operation,
        "parent_version": parent,
        "committed_at": time.time(),
        "row_count": rows,
        "file_count": len(files),
        "properties": properties or {},
        **(extra or {}),
        "files": files,
    }
    mp = _manifest_path(table_dir, version)
    tmp = mp + f".tmp-{snapshot_id}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    # The filesystem enforces exactly-one-winner: link(2) fails with EEXIST
    # if another writer already committed this version — check-then-act
    # (os.path.exists + replace) would let the second writer clobber the
    # first's manifest. This is the local-FS rendition of the catalog's
    # atomic compare-and-swap.
    try:
        os.link(tmp, mp)
    except FileExistsError:
        raise RuntimeError(
            f"concurrent commit detected: {mp} already exists "
            "(optimistic concurrency: retry from the new latest)")
    finally:
        os.unlink(tmp)
    ptr_tmp = _latest_path(table_dir) + f".tmp-{snapshot_id}"
    with open(ptr_tmp, "w") as f:
        f.write(str(version))
    os.replace(ptr_tmp, _latest_path(table_dir))
    return version


def _file_partition_values(path: str, prefix: str) -> dict:
    """Hive-layout partition values encoded in the dirs between the
    snapshot prefix and the data file (col=value, URL-encoded by Spark;
    __HIVE_DEFAULT_PARTITION__ marks null)."""
    from urllib.parse import unquote

    vals = {}
    rel = os.path.relpath(os.path.dirname(path), prefix)
    for comp in rel.split(os.sep):
        if "=" in comp:
            k, v = comp.split("=", 1)
            v = unquote(v)
            vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return vals


def _write_snapshot_files(df: DataFrame, table_dir: str,
                          partition_by: list[str] | None):
    sid = uuid.uuid4().hex[:12]
    prefix = os.path.join(table_dir, "data", f"s{sid}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(prefix)
    files = _list_parquet_files(prefix)
    # row count and data-skipping stats both come from the footers of the
    # files just written, each opened once: no Spark job re-scans them
    footers = [_file_footer(f) for f in files]
    rows = sum(n for n, _ in footers)
    fparts = ({f: _file_partition_values(f, prefix) for f in files}
              if partition_by else {})
    ptypes = ({f.name: f.dataType.simpleString()
               for f in df.schema.fields if f.name in (partition_by or [])}
              if partition_by else {})
    fstats = {f: st for f, (_, st) in zip(files, footers)}
    frows = {f: n for f, (n, _) in zip(files, footers)}
    return files, rows, sid, fparts, ptypes, fstats, frows


def _schema_list(st) -> list:
    """A StructType as the manifest's ``schema``: [[name, type], ...]."""
    return [[f.name, f.dataType.simpleString()] for f in st.fields]


# Only orderable primitive parquet types participate in min/max skipping.
_STATS_TYPES = ("INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY")
# ... and only when their bounds are JSON scalars
_JSON_SCALARS = (str, int, float, bool)


def _round_up_truncated(prefix: str) -> str | None:
    """Smallest-effort string strictly greater than every string starting
    with ``prefix``: increment the rightmost incrementable code point and
    drop what follows (Iceberg's truncate-and-increment upper bound).
    Skips the surrogate block (unencodable in JSON/UTF-8). Returns None
    when every code point is already U+10FFFF."""
    chars = list(prefix)
    for i in range(len(chars) - 1, -1, -1):
        nxt = ord(chars[i]) + 1
        if 0xD800 <= nxt <= 0xDFFF:
            nxt = 0xE000
        if nxt <= 0x10FFFF:
            return "".join(chars[:i]) + chr(nxt)
    return None


def _file_footer(path: str) -> tuple[int, dict]:
    """(row count, column min/max) from one parquet footer (pyarrow): the
    Iceberg manifest's per-file record count and data-skipping stats.
    Strings are truncated to 64 chars — a truncated UPPER bound is rounded
    up so it stays a valid bound. Columns with missing stats, or with
    bounds that are not JSON scalars (timestamps, dates, decimals), are
    omitted (never skipped on)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    ok: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested: no file-level skipping
            st = col.statistics
            if (st is None or not st.has_min_max
                    or st.physical_type not in _STATS_TYPES):
                ok[name] = False
                continue
            try:
                lo, hi = st.min, st.max
            except NotImplementedError:
                # pyarrow cannot decode INT32/INT64-backed decimal bounds
                ok[name] = False
                continue
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except UnicodeDecodeError:
                    ok[name] = False
                    continue
            if not (isinstance(lo, _JSON_SCALARS)
                    and isinstance(hi, _JSON_SCALARS)):
                # timestamp / date / decimal bounds decode to datetime,
                # date or Decimal, which the JSON manifest cannot hold
                ok[name] = False
                continue
            if isinstance(lo, str) and len(lo) > 64:
                lo = lo[:64]  # a prefix is always a valid lower bound
            if isinstance(hi, str) and len(hi) > 64:
                # Iceberg-style upper-bound truncation: increment the last
                # incrementable code point of the prefix. Appending U+FFFF
                # would UNDERESTIMATE the max for strings whose char at the
                # truncation point is astral (> U+FFFF), silently skipping
                # matching files. If no code point is incrementable, omit
                # stats (never skip on them).
                hi = _round_up_truncated(hi[:64])
                if hi is None:
                    ok[name] = False
                    continue
            ok.setdefault(name, True)
            if not ok[name]:
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return md.num_rows, {c: [mins[c], maxs[c]] for c in mins if ok.get(c)}


def _partition_extra(pm: dict | None, partition_by: list[str] | None,
                     fparts: dict, ptypes: dict,
                     keeps_parent_files: bool,
                     all_files: list[str]) -> dict:
    """Partition metadata for a commit, with SPEC EVOLUTION (Iceberg
    semantics): the new spec becomes the table's current ``partition_by``,
    while every parent file keeps ITS OWN spec's partition values in
    ``file_partitions`` — reads attach partition columns per file, so old
    and new layouts coexist in one snapshot. ``partition_evolved`` marks a
    snapshot whose live files carry differing partition-key sets (compact
    rewrites under the current spec and clears it)."""
    base_fparts = (pm.get("file_partitions", {})
                   if pm and keeps_parent_files else {})
    base_ptypes = pm.get("partition_types", {}) if pm else {}
    merged_fparts = {**base_fparts, **fparts}
    merged_ptypes = {**base_ptypes, **ptypes}
    if not merged_fparts and not partition_by:
        return {}
    cur_keys = set(partition_by or [])
    mixed = any(set(merged_fparts.get(f, {}).keys()) != cur_keys
                for f in all_files)
    return {"partition_by": list(partition_by) if partition_by else None,
            "file_partitions": merged_fparts,
            "partition_types": merged_ptypes,
            "partition_evolved": mixed}


def _schema_evolution(df: DataFrame, pm: dict | None,
                      keeps_parent_files: bool) -> tuple[list, bool]:
    """(table schema, whether the live files mix schemas) for a commit of
    ``df``. Column ADD/DROP is legal schema evolution (Iceberg's safe
    subset); a TYPE change of any column the table has ever had is refused:
    the parent's table schema still lists it, and every scan reads the
    older files with that schema. An append's table schema is the
    parent's plus the frame's new columns; an overwrite's is the frame's."""
    schema = _schema_list(df.schema)
    if pm is None:
        return schema, False
    prev = pm.get("schema") or _schema_list(_table_schema(df.sparkSession, pm))
    prev_t = dict(map(tuple, prev))
    for name, typ in schema:
        if prev_t.get(name, typ) != typ:
            raise ValueError(
                f"schema evolution rejected: column {name!r} changes type "
                f"{prev_t[name]} -> {typ} (add/drop only)")
    if not keeps_parent_files:
        return schema, False  # overwrite: only the new files are live
    union = prev + [c for c in schema if c[0] not in prev_t]
    return union, prev != schema or bool(pm.get("schema_evolved"))


def overwrite(df: DataFrame, table_dir: str,
              properties: dict | None = None,
              partition_by: list[str] | None = None) -> int:
    """Replace the table contents in a new snapshot; returns the version."""
    parent = current_version(table_dir)
    pm = read_manifest(table_dir, parent) if parent is not None else None
    schema, _ = _schema_evolution(df, pm, keeps_parent_files=False)
    files, rows, sid, fparts, ptypes, fstats, frows = _write_snapshot_files(
        df, table_dir, partition_by)
    extra = {"schema": schema, "file_stats": fstats, "file_rows": frows}
    extra.update(_partition_extra(pm, partition_by, fparts, ptypes,
                                  keeps_parent_files=False,
                                  all_files=files))
    return _commit(table_dir, files, "overwrite", rows, parent, sid,
                   properties, extra)


def append(df: DataFrame, table_dir: str,
           properties: dict | None = None,
           partition_by: list[str] | None = None) -> int:
    """Append df as a new snapshot (parent files + new files).
    ``properties`` land in the manifest — e.g. a streaming sink records
    its micro-batch id there to make replayed batches skippable."""
    parent = current_version(table_dir)
    base_files, base_rows = [], 0
    pm = None
    if parent is not None:
        pm = read_manifest(table_dir, parent)
        base_files, base_rows = pm["files"], pm["row_count"]
    schema, evolved = _schema_evolution(df, pm,
                                        keeps_parent_files=bool(base_files))
    files, rows, sid, fparts, ptypes, fstats, frows = _write_snapshot_files(
        df, table_dir, partition_by)
    extra = {"schema": schema, "schema_evolved": evolved,
             "file_stats": {**(pm.get("file_stats", {}) if pm else {}),
                            **fstats},
             "file_rows": {**(pm.get("file_rows", {}) if pm else {}),
                           **frows}}
    extra.update(_partition_extra(pm, partition_by, fparts, ptypes,
                                  keeps_parent_files=bool(base_files),
                                  all_files=base_files + files))
    return _commit(table_dir, base_files + files, "append",
                   base_rows + rows, parent, sid, properties, extra)


def _recommit(table_dir: str, m: dict, operation: str, parent: int | None,
              properties: dict | None = None) -> int:
    """Commit a new snapshot with manifest ``m``'s files and metadata: no
    data is written."""
    extra = {k: m[k] for k in
             ("partition_by", "file_partitions", "partition_types",
              "partition_evolved", "schema", "schema_evolved", "file_stats",
              "file_rows")
             if k in m}
    return _commit(table_dir, m["files"], operation, m["row_count"], parent,
                   uuid.uuid4().hex[:12], properties, extra)


def rollback(table_dir: str, version: int) -> int:
    """Commit a NEW snapshot whose file set is that of an old version —
    history is never rewritten, so the rolled-back state is itself
    time-travelable."""
    return _recommit(table_dir, read_manifest(table_dir, version),
                     f"rollback[v{version}]", current_version(table_dir))


def commit_properties(table_dir: str, properties: dict) -> int:
    """Commit ``properties`` as an append that adds no files: how an idle
    incremental sync advances its high-water mark. No Spark job runs, the
    live file set is unchanged, and ``incremental_files`` across it is
    empty."""
    m = read_manifest(table_dir)
    return _recommit(table_dir, m, "append", m["version"], properties)


def read(spark: SparkSession, table_dir: str,
         version: int | None = None,
         partition_filter: dict | None = None,
         range_filter: dict | None = None) -> DataFrame:
    """Scan the table at a snapshot (default: latest). The manifest only
    selects files; the result is a plain parquet scan with full pushdown,
    in the manifest's table schema and its column order (see ``_scan``).

    For a partitioned table, partition VALUES live in the manifest (hive
    dirs parsed at commit), so ``partition_filter={"pred": "MAPS_TO"}``
    prunes to the matching files before any I/O — manifest-level partition
    pruning, the Iceberg read path.

    ``range_filter={"col": (lo, hi)}`` (either bound None for open) skips
    files whose manifest min/max stats cannot intersect the range — the
    Iceberg data-skipping move. It PRUNES ONLY; apply the real predicate
    with .where() on the result (the caller keeps exact semantics, the
    manifest just shrinks the scan)."""
    from pyspark.sql import functions as F

    m = read_manifest(table_dir, version)
    if not m["files"]:
        raise FileNotFoundError(f"snapshot v{m['version']} has no data files")
    fparts = m.get("file_partitions", {})
    pf = partition_filter or {}
    known = _partition_columns(m)
    if pf and not known:
        raise ValueError("partition_filter on an unpartitioned table")
    for c in pf:
        if c not in known:
            raise ValueError(
                f"partition_filter column {c!r} was never a partition "
                f"column of this table (known: {sorted(known)})")

    def file_ok(vals: dict) -> bool:
        # Spec evolution: each file carries ITS OWN spec's partition
        # values. Prune only on columns THIS file's spec recorded; files
        # from a spec without the column are kept and row-filtered below
        return all(vals[c] == (None if v is None else str(v))
                   for c, v in pf.items() if c in vals)

    out = _scan(spark, m, [f for f in _skip_by_stats(m, range_filter)
                           if file_ok(fparts.get(f, {}))])
    # exact row semantics across mixed specs: kept-but-unpruned files
    # (column lives in their data) are filtered here; files with the value
    # in the manifest pass trivially, so homogeneous tables see pure pruning
    for c, v in pf.items():
        out = out.where(
            F.col(c).isNull() if v is None
            else F.col(c) == F.lit(str(v)).cast(out.schema[c].dataType))
    return out


def _table_schema(spark: SparkSession, m: dict):
    """Manifest ``m``'s table schema as a StructType. A manifest without a
    usable ``schema`` (written before schemas were recorded, or holding a
    type string that does not parse back to itself: a nested field name
    needing quotes) infers it from all its files with mergeSchema, and
    adds the partition columns, which live in the manifest."""
    from pyspark.sql.types import _parse_datatype_string

    cols = m.get("schema")
    if cols:
        try:
            st = _parse_datatype_string(", ".join(
                "`{}` {}".format(n.replace("`", "``"), t) for n, t in cols))
            if _schema_list(st) == cols:
                return st
        except Exception:
            pass
    st = spark.read.option("mergeSchema", "true").parquet(*m["files"]).schema
    ptypes = m.get("partition_types", {})
    for c in sorted(_partition_columns(m) - set(st.names)):
        st = st.add(c, ptypes.get(c, "string"))
    return st


def _partition_columns(m: dict) -> set:
    """Every partition column of manifest ``m``'s current or older specs."""
    return set(m.get("partition_by") or []).union(
        *m.get("file_partitions", {}).values())


def _scan(spark: SparkSession, m: dict, files: list[str]) -> DataFrame:
    """The one DataFrame over data files of snapshot ``m``: one parquet
    scan of ``files`` with the table schema (Spark null-fills the columns
    a file lacks). A file's manifest partition values overwrite its
    partition columns as typed literals, looked up by the scan's own file
    path; a file whose spec lacks a partition column keeps the column's
    data. An empty selection opens no file."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    schema = _table_schema(spark, m)
    if not files:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(*files)
    fparts = m.get("file_partitions", {})
    parts = {os.path.abspath(f): fparts[f] for f in files if fparts.get(f)}
    if not parts:
        return df
    # _metadata says "file:/x", inputFiles() "file:///x": key on the path,
    # decoding Spark's URIs to match the manifest's (never re-encode ours)
    strip = "^file:/*"
    key = F.regexp_replace("_metadata.file_path", strip, "/")
    enc = {unquote(u): u
           for u in (re.sub(strip, "/", u) for u in df.inputFiles())}
    cols = {}
    for c in sorted(set().union(*parts.values())):
        vals = F.create_map(*[F.lit(x) for f, p in parts.items() if c in p
                              for x in (enc[f], p[c])])
        cols[c] = F.when(F.map_contains_key(vals, key),
                         vals[key].cast(schema[c].dataType)
                         ).otherwise(F.col(c))
    return df.withColumns(cols)


def _skip_by_stats(manifest: dict, range_filter: dict | None) -> list[str]:
    """Files whose recorded min/max could intersect every requested range;
    files with no stats for a filtered column are conservatively kept."""
    files = manifest["files"]
    if not range_filter:
        return list(files)
    fstats = manifest.get("file_stats", {})
    out = []
    for f in files:
        st = fstats.get(f, {})
        keep = True
        for col, (lo, hi) in range_filter.items():
            if col not in st:
                continue  # no stats: cannot skip
            fmin, fmax = st[col]
            try:
                if ((hi is not None and fmin > hi)
                        or (lo is not None and fmax < lo)):
                    keep = False
                    break
            except TypeError:
                continue  # bound/stat type mismatch: keep conservatively
        if keep:
            out.append(f)
    return out


def compact(spark: SparkSession, table_dir: str,
            target_files: int | None = None) -> int:
    """Rewrite the current snapshot's data into fewer, larger files and
    commit the result as a new snapshot (operation 'compact') — the answer
    to the small-file problem a per-micro-batch streaming sink creates.
    Row-for-row identical contents; history (including the fragmented
    snapshots) stays time-travelable until ``expire_snapshots``. A
    partitioned table is rewritten with the same partition spec.
    ``target_files`` defaults to the session shuffle parallelism."""
    m = read_manifest(table_dir)
    df = read(spark, table_dir)
    n = target_files or int(spark.conf.get("spark.sql.shuffle.partitions"))
    part_by = m.get("partition_by")
    df = df.repartition(n, *part_by) if part_by else df.repartition(n)
    files, rows, sid, fparts, ptypes, fstats, frows = _write_snapshot_files(
        df, table_dir, part_by)
    # a compact rewrite unifies file schemas AND partition specs: both
    # evolved flags reset (every rewritten file follows the current spec)
    extra = {"schema": _schema_list(df.schema), "file_stats": fstats,
             "file_rows": frows}
    extra.update(_partition_extra(None, part_by, fparts, ptypes,
                                  keeps_parent_files=False,
                                  all_files=files))
    return _commit(table_dir, files, "compact", rows,
                   m["version"], sid, None, extra)


def _manifest_versions(table_dir: str) -> list[int]:
    """Every committed manifest version present on disk, ascending.
    Enumerated by listing meta/v*.json — NOT by walking up from v=1, which
    would stop at the first gap ``expire_snapshots`` leaves and hide every
    live snapshot after it (breaking the high-water marks and lineage rows
    read from snapshot properties)."""
    md = _meta_dir(table_dir)
    if not os.path.isdir(md):
        return []
    out = []
    for fn in os.listdir(md):
        if fn.startswith("v") and fn.endswith(".json"):
            try:
                out.append(int(fn[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def snapshots(table_dir: str) -> list[dict]:
    """Snapshot log, oldest first (version, operation, rows, files, parent,
    properties, and ``file_rows``: each live file's record count).
    Survives expiry gaps: versions come from the on-disk manifest listing."""
    out = []
    for v in _manifest_versions(table_dir):
        m = read_manifest(table_dir, v)
        out.append({k: m.get(k) for k in
                    ("version", "snapshot_id", "operation", "parent_version",
                     "committed_at", "row_count", "file_count",
                     "properties", "file_rows")})
    return out


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[str]:
    """Drop manifests older than the last ``keep_last`` and delete data
    files no committed manifest references any more. Returns removed paths."""
    latest = current_version(table_dir)
    if latest is None:
        return []
    present = _manifest_versions(table_dir)
    keep_versions = set(present[-keep_last:]) if keep_last > 0 else set()
    keep_versions.add(latest)  # never drop the pointer target
    live: set = set()
    for v in keep_versions:
        live.update(read_manifest(table_dir, v)["files"])
    removed = []
    for v in present:
        if v not in keep_versions:
            os.remove(_manifest_path(table_dir, v))
            removed.append(_manifest_path(table_dir, v))
    data_root = os.path.join(table_dir, "data")
    for f in _list_parquet_files(data_root) if os.path.isdir(data_root) else []:
        if f not in live:
            os.remove(f)
            removed.append(f)
    # prune empty snapshot dirs
    if os.path.isdir(data_root):
        for d in sorted(os.listdir(data_root)):
            p = os.path.join(data_root, d)
            if os.path.isdir(p) and not _list_parquet_files(p):
                import shutil

                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
    return removed


def incremental_files(table_dir: str, from_version: int | None,
                      to_version: int | None = None) -> list[str]:
    """Files ADDED between two snapshots — Iceberg's incremental append
    scan. ``from_version=None`` means "from the beginning" (all files of
    ``to_version``). Defined only over append-only history: if any
    snapshot in (from, to] is not an append (overwrite/compact/rollback
    rewrite the file set without adding logical rows), the delta is not
    row-meaningful and this raises — re-baseline the consumer instead.
    Raises FileNotFoundError when ``from_version``'s manifest has been
    expired (the diff base is gone; re-baseline or expire less)."""
    to_m = read_manifest(table_dir, to_version)
    if from_version is None:
        return list(to_m["files"])
    from_m = read_manifest(table_dir, from_version)  # raises if expired
    for v in _manifest_versions(table_dir):
        if from_version < v <= to_m["version"]:
            op = read_manifest(table_dir, v).get("operation", "")
            if op != "append":
                raise ValueError(
                    f"incremental scan undefined across non-append snapshot "
                    f"v{v} ({op}); re-baseline from v{v}")
    base = set(from_m["files"])
    return [f for f in to_m["files"] if f not in base]


def last_stamped_version(table_dir: str, prop: str) -> int | None:
    """High-water mark helper shared by every incremental sync plan: the
    largest integer ``prop`` recorded in the table's LIVE snapshot log
    (survives manifest-expiry gaps — reads snapshots(), not a version
    walk). None when the table does not exist or nothing is stamped."""
    if current_version(table_dir) is None:
        return None
    seen = [int(s["properties"][prop]) for s in snapshots(table_dir)
            if s.get("properties", {}).get(prop) is not None]
    return max(seen) if seen else None


def read_files(spark: SparkSession, table_dir: str, files: list[str],
               version: int | None = None) -> DataFrame:
    """Scan a SUBSET of a snapshot's data files — the read path for
    incremental consumers that select files via ``incremental_files``.
    ``files`` must belong to the snapshot's manifest. The scan is
    ``read``'s (``_scan``): the table schema in its column order, partition
    columns from the manifest (a raw ``spark.read.parquet`` on those paths
    would drop them), the same columns for any selection, empty included."""
    m = read_manifest(table_dir, version)
    live = set(m["files"])
    missing = [f for f in files if f not in live]
    if missing:
        raise ValueError(
            f"files not in snapshot v{m['version']}'s manifest: {missing[:3]}")
    return _scan(spark, m, files)
