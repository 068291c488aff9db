"""Incremental MinHash-LSH near-dup detection over a growing corpus.

The 100 TB posture problem: `dedup.dedup_minhash_lsh` is a batch pass —
re-running it per corpus release re-shingles ALL history. Here the LSH
band buckets live in a snapshot table (plans/table.py) and each sync
processes ONLY the docs appended since the last one:

    shingle the DELTA -> signatures -> band rows
    candidates = delta-vs-delta (self-join)  ∪  delta-vs-INDEX (probe)
    exact-Jaccard verify (old docs fetched by id from the docs table)
    append the delta's band rows + stamp the consumed docs version

Per-sync shuffle work is O(delta): the historical index is PROBED, never
shuffled — the delta's bucket keys broadcast into a semi-join against the
index scan, and only the matching index rows (delta-bucket-scale) enter
the candidate join. The verify step re-reads matched OLD docs from the
docs table via an id semi-join (one narrow scan with pushdown — the
Spark-batch rendition of the point lookups an online dedup service does).

Completeness: the union of pairs found across syncs equals the batch
pipeline's verified pairs — every pair has a later member, and that
member's sync probes the earlier member's buckets
(tests/test_neardup_sync.py pins set equality, and composition with
plans/canon.sync_canonical_mapping pins incremental CLUSTER ids == batch
`dedup_minhash_lsh`). One declared divergence: ``bucket_cap`` is applied
to the bucket's TOTAL size as of each sync — pairs found while a bucket
was still small are kept even if the bucket later floods past the cap,
whereas the batch pass discards the whole bucket. The incremental result
is a verified SUPERSET in that case (flood guard still bounds the join).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ckpt import checkpoint_reset_stats as _ckpt
from ..operators.dedup import (band_rows, exact_jaccard, minhash_signatures,
                               shingles)
from . import table as T


@dataclass
class NeardupSyncReport:
    from_version: int | None
    to_version: int
    n_docs: int
    n_pairs: int           # verified near-dup pairs found THIS sync
    index_version: int | None  # None when nothing to do


def last_synced_version(index_dir: str) -> int | None:
    return T.last_stamped_version(index_dir, "docs_version")


def sync_neardup(
    spark: SparkSession,
    docs_table_dir: str,
    index_dir: str,
    mapping_table_dir: str | None = None,
    threshold: float = 0.8,
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    rows: int = 4,
    bucket_cap: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[NeardupSyncReport, DataFrame]:
    """One near-dup sync tick. Returns (report, verified_pairs) where
    verified_pairs = (doc_a, doc_b, jaccard) found this sync (delta-vs-
    corpus and delta-vs-delta; doc_a < doc_b).

    With ``mapping_table_dir`` the pairs also fold into an incremental
    canonicalization mapping (plans/canon.py), so
    ``read_canonical_mapping`` always holds the CURRENT near-dup cluster
    id per doc — batch-equal to ``dedup_minhash_lsh`` over the full
    corpus (tested)."""
    cur = T.read_manifest(docs_table_dir)["version"]
    done = last_synced_version(index_dir)
    # empty frame matches the docs table's id type so a no-op tick stays
    # union/append-compatible with real ticks
    id_type = next((c[1] for c in
                    T.read_manifest(docs_table_dir).get("schema", [])
                    if c[0] == id_col), "string")
    empty_pairs = spark.createDataFrame(
        [], f"doc_a {id_type}, doc_b {id_type}, jaccard double")
    if done is not None and done >= cur:
        return NeardupSyncReport(done, cur, 0, 0, None), empty_pairs

    new_files = T.incremental_files(docs_table_dir, done, cur)
    if not new_files:
        if T.current_version(index_dir) is None:
            return NeardupSyncReport(done, cur, 0, 0, None), empty_pairs
        iv = T.commit_properties(index_dir, {"docs_version": cur})
        return NeardupSyncReport(done, cur, 0, 0, iv), empty_pairs

    delta = T.read_files(spark, docs_table_dir, new_files, cur).select(
        id_col, text_col)
    n_docs = delta.count()
    # checkpoint_reset_stats, NOT plain localCheckpoint: the checkpoint
    # keeps Catalyst's inherited sizeInBytes, and a wrong small estimate
    # here makes the planner BROADCAST the multi-million-row band table
    # downstream (OOM observed in tools/neardup_scale_probe.py)
    sh_delta = _ckpt(shingles(delta, id_col, text_col, k=k))
    banded = _ckpt(band_rows(
        minhash_signatures(sh_delta, n_hashes=n_hashes),
        bands=bands, rows=rows))

    # the persisted bucket hashes depend on the LSH parameters — a
    # parameter drift across syncs would silently stop finding
    # cross-corpus pairs, so refuse it
    params = f"k={k},n={n_hashes},b={bands},r={rows}"
    stored = None
    if T.current_version(index_dir) is not None:
        stored = [s["properties"]["lsh_params"]
                  for s in T.snapshots(index_dir)
                  if s.get("properties", {}).get("lsh_params")]
        stored = stored[-1] if stored else None
    if stored is not None and stored != params:
        raise ValueError(
            f"index at {index_dir} was built with {stored}; got {params}")

    has_index = T.current_version(index_dir) is not None
    if has_index:
        index = T.read(spark, index_dir)
        keys = banded.select("band", "bh").distinct()
        # PROBE the index with the delta's bucket keys: only rows in
        # delta-touched buckets survive (delta-bucket scale). NO explicit
        # broadcast hint — a large initial/backfill delta makes the key
        # set exceed driver memory, and a forced hint overrides AQE's
        # size check (found by tools/neardup_scale_probe.py); AQE
        # broadcasts the small side on its own for routine deltas
        hits = _ckpt(index.join(keys, on=["band", "bh"],
                                how="left_semi"))
    else:
        hits = banded.limit(0)

    # flood guard on TOTAL bucket size as of this sync
    tot = (banded.select("band", "bh", "doc_id")
           .unionByName(hits.select("band", "bh", "doc_id"))
           .groupBy("band", "bh")
           .agg(F.countDistinct("doc_id").alias("n"))
           .where(F.col("n") <= bucket_cap)
           .select("band", "bh"))
    banded_ok = banded.join(tot, on=["band", "bh"], how="left_semi")
    hits_ok = hits.join(tot, on=["band", "bh"], how="left_semi")

    a, b = banded_ok.alias("a"), banded_ok.alias("b")
    cand_new = (a.join(b, on=["band", "bh"])
                .where(F.col("a.doc_id") < F.col("b.doc_id"))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b")))
    o = hits_ok.alias("o")
    cand_cross = (a.join(o, on=["band", "bh"])
                  .where(F.col("a.doc_id") != F.col("o.doc_id"))
                  .select(F.least("a.doc_id", "o.doc_id").alias("doc_a"),
                          F.greatest("a.doc_id", "o.doc_id").alias("doc_b")))
    cands = _ckpt(cand_new.unionByName(cand_cross).distinct())

    # exact verify: old docs' shingles recomputed from the docs table via
    # an id semi-join (narrow scan, id pushdown); delta shingles reused
    old_ids = (cands.select(F.col("doc_a").alias(id_col))
               .unionByName(cands.select(F.col("doc_b").alias(id_col)))
               .distinct()
               .join(delta.select(id_col), on=id_col, how="left_anti"))
    old_docs = (T.read(spark, docs_table_dir)
                .select(id_col, text_col)
                .join(old_ids, on=id_col, how="left_semi"))
    sh_all = sh_delta.unionByName(shingles(old_docs, id_col, text_col, k=k))
    verified = _ckpt(exact_jaccard(cands, sh_all)
                     .where(F.col("jaccard") >= threshold))
    n_pairs = verified.count()

    # fold the mapping BEFORE stamping the index: a crash in between
    # replays the whole delta (mark unset) and re-folding the identical
    # pairs is a no-op mapping commit — the reverse order would stamp the
    # mark with the merges lost, and no future delta re-probes them
    if mapping_table_dir is not None:
        from . import canon as C
        C.sync_canonical_mapping(
            spark, mapping_table_dir,
            verified.select(F.col("doc_a").cast("string").alias("ident_a"),
                            F.col("doc_b").cast("string").alias("ident_b")),
            new_idents=delta.select(F.col(id_col).cast("string")))
    iv = T.append(banded, index_dir,
                  properties={"docs_version": cur, "lsh_params":
                              f"k={k},n={n_hashes},b={bands},r={rows}"})
    return NeardupSyncReport(done, cur, n_docs, n_pairs, iv), verified
