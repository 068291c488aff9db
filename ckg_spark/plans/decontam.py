"""Incremental benchmark decontamination over a growing corpus.

The 100 TB pain point `dedup.contamination_report` leaves open: every
NEW benchmark (they arrive constantly) re-reads and re-shingles the full
training corpus. Here the corpus's k-gram hashes live in a snapshot
table maintained per docs delta, so a benchmark change is answered by
PROBING the index — a narrow 16-byte-row scan with a broadcast
semi-join, no text decode, no re-tokenization, no corpus shuffle:

    sync tick:   shingle ONLY the delta docs -> append (doc_id, h)
                 rows + per-doc shingle totals; stamp the docs version
    benchmark:   distinct benchmark gram hashes (size-gated broadcast,
                 same gate as the batch operator) semi-join the index ->
                 per-doc hit counts -> identical report schema

`probe_benchmark` output is row-identical to
`dedup.contamination_report` over the full corpus
(tests/test_decontam_sync.py pins equality at two deltas), and probing
a SECOND benchmark costs zero additional sync work — the trade is one
persisted (doc_id, gram_hash) table at ~16 B per corpus token-window,
the same order as the packing digest table, versus a full corpus
re-shingle per benchmark."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ckpt import checkpoint_reset_stats as _ckpt
from ..operators.dedup import shingles
from . import table as T


@dataclass
class DecontamSyncReport:
    from_version: int | None
    to_version: int
    n_docs: int
    index_version: int | None  # None when nothing to do


def _counts_dir(index_dir: str) -> str:
    return index_dir.rstrip("/") + "_counts"


def last_synced_version(index_dir: str) -> int | None:
    return T.last_stamped_version(index_dir, "docs_version")


def sync_decontam_index(
    spark: SparkSession,
    docs_table_dir: str,
    index_dir: str,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DecontamSyncReport:
    """Bring the gram-hash index up to date with the docs table's append
    delta. Idempotent; crash-replay safe (high-water mark in snapshot
    properties, same contract as plans/incremental.py)."""
    cur = T.read_manifest(docs_table_dir)["version"]
    done = last_synced_version(index_dir)
    if done is not None and done >= cur:
        return DecontamSyncReport(done, cur, 0, None)
    new_files = T.incremental_files(docs_table_dir, done, cur)
    if not new_files:
        if T.current_version(index_dir) is None:
            return DecontamSyncReport(done, cur, 0, None)
        iv = T.commit_properties(index_dir, {"docs_version": cur})
        return DecontamSyncReport(done, cur, 0, iv)

    _check_index_params(index_dir, k)
    delta = T.read_files(spark, docs_table_dir, new_files, cur).select(
        id_col, text_col)
    n_docs = delta.count()
    sh = _ckpt(shingles(delta, id_col, text_col, k=k)
               .select("doc_id", F.xxhash64("shingle").alias("h")))
    totals = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"))
    # totals FIRST, mark LAST: a crash in between replays the whole delta
    # (mark unset), and the duplicate totals rows that replay leaves are
    # absorbed by the max() dedupe in probe_benchmark — the reverse order
    # would stamp the mark with the totals missing, silently dropping the
    # delta's docs from every future report
    T.append(totals, _counts_dir(index_dir))
    iv = T.append(sh, index_dir,
                  properties={"docs_version": cur, "gram_k": k})
    return DecontamSyncReport(done, cur, n_docs, iv)


def _check_index_params(index_dir: str, k: int) -> None:
    """The persisted hashes depend on k; silently mixing gram sizes would
    just report garbage counts — refuse instead."""
    stored = T.last_stamped_version(index_dir, "gram_k")
    if stored is not None and stored != k:
        raise ValueError(
            f"index at {index_dir} was built with k={stored}; got k={k}")


def probe_benchmark(
    spark: SparkSession,
    index_dir: str,
    benchmark: DataFrame,
    k: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contamination report for ANY benchmark against the indexed corpus
    — row-identical to `dedup.contamination_report(full_docs, benchmark)`
    but reading only the 16-byte index rows. Same size-gated broadcast:
    an oversized 'benchmark' falls back to a shuffle semi-join."""
    from ..operators.dedup import bench_hash_side, contamination_select

    _check_index_params(index_dir, k)
    bench_side = bench_hash_side(benchmark, id_col, text_col, k)
    idx = T.read(spark, index_dir)
    hits = (idx.join(bench_side, on=idx["h"] == bench_side["_bh"],
                     how="left_semi")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_contaminated")))
    # max() dedupe: a crash-replayed sync appends the same totals twice
    # (identical values), and each doc belongs to exactly one delta
    totals = (T.read(spark, _counts_dir(index_dir))
              .groupBy("doc_id").agg(F.max("n_shingles").alias("n_shingles")))
    return contamination_select(totals, hits)
