"""Training-data export plan: curation -> mixture -> packing, resumable.

The end-to-end recipe that turns a raw document corpus into a packed
LM-pretraining dataset, composed from operators that are each already
oracle-locked (curation q59, mixture q72, packing q73) — this plan locks
the COMPOSITION (q74) and gives it the same lineage/resume contract as
the KG and curation pipelines:

    documents (doc_id, text, source)
      v
    10_curation   plans/curate.py stage stack (its own nested stage dir)
      v
    20_tokens     per-doc token counts (JVM expression; no UDF)
      v
    30_mixture    operators/sampling.mixture_sample — per-source keep
                  rates solved from token totals to realize `targets`
      v
    40_segments   operators/packing.pack_sequences — fixed-length
                  concat-and-split segment map, ready for a reader

Reference analog: CKG's project-report export tail (analytics_factory +
viewer download) — recomposed as the training-export a 100 TB LLM-data
pipeline runs. Every stage is a snapshot table whose one commit carries
its lineage row (per-partition counts from the parquet footers,
plans/lineage.py); reruns with the same out_dir resume after the last
committed stage. The continuous export's ``segments`` / ``digests`` sync
tables share the out_dir; their snapshots carry no ``stage`` and are not
lineage. The out_dir IS the recipe identity: resuming with different
targets/seq_len would mix recipes, so the plan stamps them in a manifest
and refuses a mismatched resume.

Scale shape: the corpus shuffles ZERO times after curation — token
counting is a narrow projection, the mixture is a broadcast rate join +
JVM hash filter, and packing's only corpus-wide structure is the house
two-pass prefix sum (range repartition + broadcast partition offsets).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators import dedup as D
from ..operators import packing as PK
from ..operators import sampling as SA
from ..operators import textstats as T
from . import lineage as LIN
from . import table as TBL
from .curate import quality_filter, run_curation_pipeline

__all__ = ["TrainingExportResult", "run_training_export",
           "ExportSyncReport", "sync_training_export",
           "read_export_segments"]


@dataclass
class TrainingExportResult:
    run_id: str
    corpus: DataFrame        # sampled docs: doc_id, source, n_tokens
    segments: DataFrame      # seq_id, doc_id, doc_offset, seq_offset, n_tokens
    resumed_stages: list[str]
    stage_counts: dict
    realized_mix: dict       # source -> realized token fraction of the export


def _recipe_manifest(out_dir: str) -> str:
    return os.path.join(out_dir, "_export_recipe.json")


def _check_recipe(out_dir: str, recipe: dict) -> None:
    """Stamp the recipe on first run; refuse a resume whose parameters
    differ (stages committed under the old recipe would silently mix)."""
    mp = _recipe_manifest(out_dir)
    if os.path.exists(mp):
        with open(mp) as f:
            stored = json.load(f)
        if stored != recipe:
            diff = {k: (stored.get(k), recipe.get(k))
                    for k in sorted(set(stored) | set(recipe))
                    if stored.get(k) != recipe.get(k)}
            raise ValueError(
                f"{out_dir} was exported with a different recipe {diff}; "
                "use a fresh out_dir (or delete it) to change the recipe")
    else:
        os.makedirs(out_dir, exist_ok=True)
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(recipe, f, sort_keys=True)
        os.replace(tmp, mp)


def run_training_export(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    *,
    targets: dict[str, float] | None = None,
    seq_len: int = 2048,
    budget: float | None = None,
    seed: str = "mix",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    token_counter: Callable[[Column], Column] = T.token_count,
    languages: tuple = ("en",),
    minhash_threshold: float | None = 0.8,
    gopher_kwargs: dict | None = None,
    line_filter: bool = False,
) -> TrainingExportResult:
    """Run (or resume) the curation -> mixture -> packing export.

    ``targets`` maps source -> desired token fraction of the export
    (None keeps every curated doc — no mixture stage); ``budget`` caps
    the export's total token count below the largest achievable mix.
    ``token_counter`` is a JVM Column expression (default: whitespace
    token count; swap `textstats.bpe_ish_token_count` or a real
    tokenizer's count column for production runs).
    """
    recipe = {
        "targets": {k: targets[k] for k in sorted(targets)} if targets else None,
        "seq_len": int(seq_len), "budget": budget, "seed": seed,
        "languages": list(languages), "minhash_threshold": minhash_threshold,
        "gopher_kwargs": gopher_kwargs, "line_filter": line_filter,
    }
    _check_recipe(out_dir, recipe)
    run_id = LIN.new_run_id()
    resumed: list[str] = []

    # ---- stage 10: curation (nested plan — its own stage dir) -------------
    cur = run_curation_pipeline(
        spark, documents, os.path.join(out_dir, "10_curation"),
        id_col=id_col, text_col=text_col, languages=languages,
        minhash_threshold=minhash_threshold, gopher_kwargs=gopher_kwargs,
        line_filter=line_filter)
    resumed += [f"10_curation/{s}" for s in cur.resumed_stages]

    # ---- stage 20: token counts (rejoin source from the input: curation
    # normalizes to doc_id/text) --------------------------------------------
    if LIN.stage_done(out_dir, "20_tokens"):
        tokens = LIN.read_stage(spark, out_dir, "20_tokens")
        resumed.append("20_tokens")
    else:
        src = documents.select(F.col(id_col).alias("doc_id"),
                               F.col(source_col).alias("source"))
        toks = cur.corpus.select(
            "doc_id", token_counter(F.col("text")).alias("n_tokens"))
        tokens = LIN.write_stage(
            toks.join(src, on="doc_id", how="inner"),
            out_dir, "20_tokens", run_id)

    # ---- stage 30: mixture sampling ---------------------------------------
    if targets is None:
        sampled = tokens
    elif LIN.stage_done(out_dir, "30_mixture"):
        sampled = LIN.read_stage(spark, out_dir, "30_mixture")
        resumed.append("30_mixture")
    else:
        sampled = LIN.write_stage(
            SA.mixture_sample(tokens, targets, source_col="source",
                              weight_col="n_tokens", key="doc_id",
                              seed=seed, budget=budget),
            out_dir, "30_mixture", run_id)

    # ---- stage 40: sequence packing ---------------------------------------
    if LIN.stage_done(out_dir, "40_segments"):
        segments = LIN.read_stage(spark, out_dir, "40_segments")
        resumed.append("40_segments")
    else:
        segments = LIN.write_stage(
            PK.pack_sequences(sampled, seq_len, token_col="n_tokens"),
            out_dir, "40_segments", run_id)

    # realized mixture: dictionary-scale per-source token shares
    shares = {r["source"]: int(r["w"] or 0) for r in
              sampled.groupBy("source")
              .agg(F.sum("n_tokens").alias("w")).collect()}
    tot = float(sum(shares.values())) or 1.0
    realized = {s: w / tot for s, w in sorted(shares.items())}

    counts: dict = {}
    for row in LIN.read_lineage(os.path.join(out_dir, "10_curation")):
        counts[f"10_curation/{row['stage']}"] = row.get("rows")
    for row in LIN.read_lineage(out_dir):
        counts[row["stage"]] = row.get("rows")
    return TrainingExportResult(
        run_id=run_id, corpus=sampled, segments=segments,
        resumed_stages=resumed, stage_counts=counts, realized_mix=realized)


# ---------------------------------------------------------------------------
# Continuous export: sync the packed dataset with a GROWING documents table
# ---------------------------------------------------------------------------

@dataclass
class ExportSyncReport:
    from_version: int | None
    to_version: int
    n_files: int
    n_segments: int  # segment rows this sync appended (manifest diff)
    segments_version: int | None  # None when nothing to do
    healed: bool = False


def _rates_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_export_rates.json")


def _mark(table_dir: str, key: str) -> int | None:
    """Largest int property ``key`` across the LIVE snapshot log."""
    if TBL.current_version(table_dir) is None:
        return None
    seen = [int(s["properties"][key]) for s in TBL.snapshots(table_dir)
            if (s.get("properties") or {}).get(key) is not None]
    return max(seen) if seen else None


def _props(table_dir: str) -> dict:
    """Latest-wins merge of all live snapshot properties (oldest first)."""
    out: dict = {}
    if TBL.current_version(table_dir) is not None:
        for s in TBL.snapshots(table_dir):
            out.update(s.get("properties") or {})
    return out


def _delta_quality_digests(delta: DataFrame, gopher_kwargs, line_filter):
    """Distinct normalized-text digests of the delta's quality survivors
    (the batch plan's dedup universe: exact dedup runs on post-quality
    docs, BEFORE language filtering — so these are the digests future
    deltas must be checked against)."""
    q = quality_filter(delta, gopher_kwargs=gopher_kwargs,
                       line_filter=line_filter)
    return q, D.dedup_exact(q).select("norm_hash")


def read_export_segments(spark: SparkSession, out_dir: str,
                         version: int | None = None) -> DataFrame:
    """The packed segment map an incremental export has accumulated."""
    return TBL.read(spark, os.path.join(out_dir, "segments"),
                    version=version)


def sync_training_export(
    spark: SparkSession,
    documents_table_dir: str,
    out_dir: str,
    *,
    targets: dict[str, float] | None = None,
    fixed_rates: dict[str, float] | None = None,
    seq_len: int = 2048,
    seed: str = "mix",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    token_counter: Callable[[Column], Column] = T.token_count,
    languages: tuple = ("en",),
    gopher_kwargs: dict | None = None,
    line_filter: bool = False,
    to_version: int | None = None,
) -> ExportSyncReport:
    """Bring a packed training dataset up to date with a snapshot
    DOCUMENTS table (``plans.table``), processing only the files appended
    since the last sync — the release-cadence form of
    ``run_training_export`` for a corpus that grows between releases.

    Semantics vs the batch plan: per-document stages (quality, language,
    token counting) apply to the delta unchanged; exact dedup keeps the
    first-seen doc per digest via an anti-join against an accumulated
    digest table (== batch min-id dedup because append deltas must be
    doc-id-ordered — enforced against a ``max_seen_doc_id`` mark);
    near-dup LSH is corpus-wide and NOT applied (batch parity holds for
    ``minhash_threshold=None`` exports); mixture rates are FROZEN — from
    ``fixed_rates``, or solved once from the first synced delta's totals
    and persisted — because re-solving per delta would re-weight history
    it can no longer touch (realized mix then drifts with the incoming
    source distribution; monitor via the per-sync token shares). Packing
    appends via ``pack_sequences_incremental`` (documents only ever
    EXTEND the token stream — committed sequences are immutable).

    Crash-safe: the segments commit stamps ``source_version`` (the
    exactly-once high-water mark) and the digest commit follows; a crash
    between them leaves digests behind segments, and the next sync HEALS
    by recomputing the gap's digests (pure recomputation) before
    processing new files. Rerunning after any crash is always safe.
    """
    seg_dir = os.path.join(out_dir, "segments")
    dig_dir = os.path.join(out_dir, "digests")
    recipe = {
        "mode": "incremental",
        "targets": ({k: targets[k] for k in sorted(targets)}
                    if targets else None),
        "fixed_rates": ({k: fixed_rates[k] for k in sorted(fixed_rates)}
                        if fixed_rates else None),
        "seq_len": int(seq_len), "seed": seed,
        "languages": list(languages), "gopher_kwargs": gopher_kwargs,
        "line_filter": line_filter,
    }
    _check_recipe(out_dir, recipe)
    if targets is not None and fixed_rates is not None:
        raise ValueError("pass targets OR fixed_rates, not both")

    cur = TBL.read_manifest(documents_table_dir, to_version)["version"]
    seg_mark = _mark(seg_dir, "source_version")
    healed = False

    def _norm(df):
        return df.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text"),
                         F.col(source_col).alias("source"))

    # ---- heal: digests behind segments (crash between the two commits) ----
    dig_mark = _mark(dig_dir, "source_version")
    if seg_mark is not None and (dig_mark is None or dig_mark < seg_mark):
        gap = TBL.incremental_files(documents_table_dir, dig_mark, seg_mark)
        if gap:
            gap_docs = TBL.read_files(spark, documents_table_dir, gap,
                                      seg_mark)
            _, digs = _delta_quality_digests(_norm(gap_docs), gopher_kwargs,
                                             line_filter)
            if TBL.current_version(dig_dir) is not None:
                digs = digs.join(TBL.read(spark, dig_dir),
                                 on="norm_hash", how="left_anti")
            TBL.append(digs, dig_dir, properties={"source_version": seg_mark})
            healed = True
        elif TBL.current_version(dig_dir) is not None:
            TBL.commit_properties(dig_dir, {"source_version": seg_mark})
            healed = True

    if seg_mark is not None and seg_mark >= cur:
        return ExportSyncReport(seg_mark, cur, 0, 0, None, healed)

    new_files = TBL.incremental_files(documents_table_dir, seg_mark, cur)
    props = _props(seg_dir)
    if not new_files:
        if TBL.current_version(seg_dir) is None:
            return ExportSyncReport(seg_mark, cur, 0, 0, None, healed)
        ev = TBL.commit_properties(seg_dir,
                                   {**props, "source_version": cur})
        return ExportSyncReport(seg_mark, cur, 0, 0, ev, healed)

    delta = _norm(TBL.read_files(spark, documents_table_dir, new_files, cur))

    # append-order guard: packing is defined over doc order, so every
    # delta id must exceed everything previously SEEN (not just packed)
    span = delta.agg(F.min("doc_id").alias("lo"),
                     F.max("doc_id").alias("hi")).collect()[0]
    max_seen = props.get("max_seen_doc_id")
    if (max_seen is not None and span["lo"] is not None
            and span["lo"] <= type(span["lo"])(max_seen)):
        raise ValueError(
            f"delta doc ids must exceed the synced high-water mark "
            f"({span['lo']} <= {max_seen}); re-export into a fresh out_dir "
            f"when ids interleave")

    # per-doc curation + first-seen exact dedup against accumulated digests
    q, digs = _delta_quality_digests(delta, gopher_kwargs, line_filter)
    kept = q.join(D.dedup_exact(q).select("doc_id"), on="doc_id",
                  how="left_semi")
    if TBL.current_version(dig_dir) is not None:
        seen = TBL.read(spark, dig_dir)
        kept = (kept.withColumn("_dg", F.md5(D.normalize_text(F.col("text"))))
                .join(seen.withColumnRenamed("norm_hash", "_dg"),
                      on="_dg", how="left_anti").drop("_dg"))
        digs = digs.join(seen, on="norm_hash", how="left_anti")
    kept = kept.where(T.lang_best(F.col("text")).isin(list(languages)))

    # frozen mixture rates (solved once, on the first synced delta)
    toks = (kept.select("doc_id",
                        token_counter(F.col("text")).alias("n_tokens"))
            .join(delta.select("doc_id", "source"), on="doc_id"))
    rates = fixed_rates
    if rates is None and targets is not None:
        if os.path.exists(_rates_path(out_dir)):
            with open(_rates_path(out_dir)) as f:
                rates = json.load(f)
        else:
            avail = {r["source"]: float(r["w"]) for r in
                     toks.groupBy("source")
                     .agg(F.sum("n_tokens").alias("w")).collect()
                     if r["source"] in targets and r["w"]}
            missing = [s for s, fr in targets.items()
                       if fr > 0 and s not in avail]
            if missing:
                raise ValueError(
                    f"target sources absent from the first synced delta: "
                    f"{sorted(missing)} — pass fixed_rates instead")
            rates = SA.mixture_rates(avail, targets)
            tmp = _rates_path(out_dir) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(rates, f, sort_keys=True)
            os.replace(tmp, _rates_path(out_dir))
    if rates is not None:
        rate_df = spark.createDataFrame(
            sorted(rates.items()) or [("", 0.0)], "source string, _rate double")
        toks = (toks.join(F.broadcast(rate_df), on="source", how="inner")
                .where(SA.hash_uniform("doc_id", seed) < F.col("_rate"))
                .drop("_rate"))

    marks = {"source_version": cur, "max_seen_doc_id": span["hi"]}
    prev_rows = (TBL.read_manifest(seg_dir)["row_count"]
                 if TBL.current_version(seg_dir) is not None else 0)
    ev = PK.pack_sequences_incremental(
        spark, toks, seq_len, seg_dir, token_col="n_tokens",
        properties=marks)
    if ev is None:  # nothing packable in this delta — still advance marks
        if TBL.current_version(seg_dir) is None:
            return ExportSyncReport(seg_mark, cur, len(new_files), 0,
                                    None, healed)
        ev = TBL.commit_properties(seg_dir, {**props, **marks})
    n_seg = TBL.read_manifest(seg_dir, ev)["row_count"] - prev_rows
    TBL.append(digs, dig_dir, properties={"source_version": cur})
    return ExportSyncReport(seg_mark, cur, len(new_files), n_seg,
                            ev, healed)
