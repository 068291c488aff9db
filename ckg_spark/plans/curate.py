"""Corpus-curation pipeline: the end-to-end training-data recipe composed
from the quality + dedup operator suite, with the same lineage/resume
contract as the KG pipeline (plans/pipeline.py).

    documents (doc_id, text[, ts])
      v
    10_quality    Gopher document rules + repetition rules + C4 line filter
                  (all-JVM; the keep predicates fuse into the scan)
      v
    20_exact      exact dedup on the md5 normalized-text digest
      v
    30_neardup    MinHash+LSH near-dup clusters -> keep canonical min-id
      v
    40_language   language-ID allowlist
      v
    50_corpus     curated corpus + per-stage survivor counts in lineage
                  (the corpus is 40_language's snapshot table)

Reference analog: CKG's per-parser cleaning/dedup tail (stringParser.py:51
quality cutoffs, proteomicsParser.py:382 drop_duplicates) — recomposed as
the corpus-curation stage stack a 100-TB LLM-data pipeline runs. Every
stage is a snapshot table whose one commit carries its lineage row with
per-partition counts (plans/lineage.py); reruns with the same out_dir
resume after the last committed stage. Drop accounting is explicit (no
silent caps): each stage's in/out counts live in the stages' snapshot
properties, and quality drops carry per-rule flags in 10_quality.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup as D
from ..operators import textstats as T
from . import lineage as LIN


@dataclass
class CurationResult:
    run_id: str
    corpus: DataFrame
    resumed_stages: list[str]
    stage_counts: dict


def quality_filter(docs: DataFrame, gopher_kwargs: dict | None = None,
                   line_filter: bool = False,
                   min_line_words: int = 5) -> DataFrame:
    """Per-document quality stage (the 10_quality semantics, factored so
    the incremental export applies the IDENTICAL predicate to deltas):
    optional C4 line cleaning, then Gopher document rules AND repetition
    rules. Input and output: (doc_id, text)."""
    base = docs
    if line_filter:
        cleaned = T.c4_line_filter(
            base, text_col="text", id_col="doc_id",
            min_line_words=min_line_words)
        base = cleaned.select("doc_id", F.col("clean_text").alias("text"))
    # Gopher rules are pure per-row expressions — apply them as a FILTER
    # fused into the scan instead of computing a flags table and joining it
    # back (the join recomputed the scan and shuffled/broadcast flag rows
    # for a predicate the row itself already determines). The repetition
    # rules need per-doc n-gram aggregation, so they keep a join — but now
    # over the Gopher survivors only (fewer docs explode to grams), and as
    # a semi-join of bare ids.
    gkept = base.where(T.gopher_keep_expr(F.col("text"),
                                          **(gopher_kwargs or {})))
    r = D.repetition_flags(gkept)
    return (
        gkept
        .join(r.where(F.col("keep")).select("doc_id"),
              on="doc_id", how="left_semi")
        .select("doc_id", "text")
    )


def run_curation_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    languages: tuple = ("en",),
    minhash_threshold: float | None = 0.8,
    gopher_kwargs: dict | None = None,
    line_filter: bool = False,
    min_line_words: int = 5,
) -> CurationResult:
    """Run (or resume) the curation stack. Returns the curated corpus plus
    per-stage document counts (from the stages' lineage rows — manifest
    record counts, not extra actions).

    ``line_filter`` applies the C4 line cleaner BEFORE the document-level
    rules (rebuild text from kept lines), matching the C4 ordering; the
    synthetic single-line corpora keep it off by default.
    """
    run_id = LIN.new_run_id()
    resumed: list[str] = []
    counts: dict = {}

    docs = documents.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    # ---- stage 10: quality rules ------------------------------------------
    if LIN.stage_done(out_dir, "10_quality"):
        quality = LIN.read_stage(spark, out_dir, "10_quality")
        resumed.append("10_quality")
    else:
        kept = quality_filter(docs, gopher_kwargs=gopher_kwargs,
                              line_filter=line_filter,
                              min_line_words=min_line_words)
        quality = LIN.write_stage(kept, out_dir, "10_quality", run_id)

    # ---- stage 20: exact dedup --------------------------------------------
    if LIN.stage_done(out_dir, "20_exact"):
        exact = LIN.read_stage(spark, out_dir, "20_exact")
        resumed.append("20_exact")
    else:
        keep_ids = D.dedup_exact(quality, "doc_id", "text").select("doc_id")
        exact = LIN.write_stage(
            quality.join(keep_ids, on="doc_id", how="left_semi"),
            out_dir, "20_exact", run_id)

    # ---- stage 30: near-dup clusters (minhash_threshold=None skips: the
    # exact-dedup-only variant is fully SQL-expressible, so the driver
    # oracle q59 runs the pipeline in that mode) ----------------------------
    if minhash_threshold is None:
        neardup = exact
    elif LIN.stage_done(out_dir, "30_neardup"):
        neardup = LIN.read_stage(spark, out_dir, "30_neardup")
        resumed.append("30_neardup")
    else:
        clusters = D.dedup_minhash_lsh(
            exact, "doc_id", "text", threshold=minhash_threshold)
        # drop non-canonical cluster members (canonical = min id; ids are
        # strings in the cluster map — compare on the string form)
        losers = clusters.where(
            F.col("doc_id") != F.col("canonical_id")).select(
            F.col("doc_id").alias("_sid"))
        survivors = exact.join(
            losers, on=exact["doc_id"].cast("string") == losers["_sid"],
            how="left_anti")
        neardup = LIN.write_stage(survivors, out_dir, "30_neardup", run_id)

    # ---- stage 40: language filter ----------------------------------------
    if LIN.stage_done(out_dir, "40_language"):
        corpus = LIN.read_stage(spark, out_dir, "40_language")
        resumed.append("40_language")
    else:
        lang_kept = neardup.where(
            T.lang_best(F.col("text")).isin(list(languages)))
        corpus = LIN.write_stage(lang_kept, out_dir, "40_language", run_id)

    for row in LIN.read_lineage(out_dir):
        counts[row["stage"]] = row.get("rows", row.get("n_rows"))
    return CurationResult(run_id=run_id, corpus=corpus,
                          resumed_stages=resumed, stage_counts=counts)
