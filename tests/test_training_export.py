"""Composed training-export plan (plans/export.py): curation -> mixture
-> packing with the lineage/resume contract, plus the incremental
(sync) form over a growing snapshot documents table."""

import pytest
from pyspark.sql import functions as F

from ckg_spark.operators import dedup as D
from ckg_spark.operators import packing as PK
from ckg_spark.operators import sampling as SA
from ckg_spark.plans import table as TBL
from ckg_spark.plans.curate import quality_filter
from ckg_spark.plans.export import (read_export_segments,
                                    run_training_export,
                                    sync_training_export)

SF_DIR = "/root/testdata/sf0.001"
GOPHER = {"min_words": 50, "min_stopword_hits": 1}


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_export_end_to_end_and_resume(spark, tmp_path):
    out = str(tmp_path / "exp")
    targets = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    res = run_training_export(
        spark, _docs(spark), out, targets=targets, seq_len=64,
        minhash_threshold=None, gopher_kwargs=GOPHER)
    segs = res.segments.collect()
    assert segs and not res.resumed_stages
    # stage accounting is monotone: curated >= tokens >= sampled
    c = res.stage_counts
    assert c["20_tokens"] == c["10_curation/40_language"]
    assert c["30_mixture"] <= c["20_tokens"]
    # every sequence but the last fills to exactly seq_len
    fills = {r["seq_id"]: r["fill"]
             for r in PK.sequence_stats(res.segments).collect()}
    last = max(fills)
    assert all(f == 64 for s, f in fills.items() if s != last)
    assert 0 < fills[last] <= 64
    # realized mix sums to 1 over exactly the target sources
    assert set(res.realized_mix) == set(targets)
    assert sum(res.realized_mix.values()) == pytest.approx(1.0)
    # the binding source's share cannot exceed its target (no upsampling)
    # and the plan equals the direct operator composition
    toks = res.corpus
    direct = PK.pack_sequences(toks, 64, token_col="n_tokens").collect()
    assert sorted(map(tuple, segs)) == sorted(map(tuple, direct))

    # rerun: every stage resumes, identical segments, same realized mix
    res2 = run_training_export(
        spark, _docs(spark), out, targets=targets, seq_len=64,
        minhash_threshold=None, gopher_kwargs=GOPHER)
    assert set(res2.resumed_stages) >= {"20_tokens", "30_mixture",
                                        "40_segments"}
    assert any(s.startswith("10_curation/") for s in res2.resumed_stages)
    assert sorted(map(tuple, res2.segments.collect())) == \
        sorted(map(tuple, segs))
    assert res2.realized_mix == res.realized_mix


def test_export_no_targets_keeps_all_curated(spark, tmp_path):
    out = str(tmp_path / "exp_all")
    res = run_training_export(
        spark, _docs(spark), out, targets=None, seq_len=128,
        minhash_threshold=None, gopher_kwargs=GOPHER)
    assert res.corpus.count() == res.stage_counts["20_tokens"]
    assert "30_mixture" not in res.stage_counts
    assert res.segments.count() > 0
    assert sum(res.realized_mix.values()) == pytest.approx(1.0)


def test_export_refuses_recipe_drift(spark, tmp_path):
    out = str(tmp_path / "exp_drift")
    run_training_export(spark, _docs(spark), out, targets={"src0": 1.0},
                        seq_len=64, minhash_threshold=None,
                        gopher_kwargs=GOPHER)
    with pytest.raises(ValueError, match="different recipe"):
        run_training_export(spark, _docs(spark), out, targets={"src0": 1.0},
                            seq_len=128, minhash_threshold=None,
                            gopher_kwargs=GOPHER)
    with pytest.raises(ValueError, match="different recipe"):
        run_training_export(spark, _docs(spark), out,
                            targets={"src0": 0.5, "src1": 0.5},
                            seq_len=64, minhash_threshold=None,
                            gopher_kwargs=GOPHER)


def test_export_budget_caps_tokens(spark, tmp_path):
    docs = _docs(spark)
    out_full = str(tmp_path / "full")
    out_cap = str(tmp_path / "cap")
    targets = {"src0": 0.5, "src1": 0.5}
    full = run_training_export(spark, docs, out_full, targets=targets,
                               seq_len=64, minhash_threshold=None,
                               gopher_kwargs=GOPHER)
    full_tok = full.corpus.agg(F.sum("n_tokens")).collect()[0][0]
    cap = run_training_export(spark, docs, out_cap, targets=targets,
                              seq_len=64, budget=full_tok / 2,
                              minhash_threshold=None, gopher_kwargs=GOPHER)
    cap_tok = cap.corpus.agg(F.sum("n_tokens")).collect()[0][0]
    assert cap_tok < full_tok
    # capped selection is a subset of the full one (same seed, lower rates)
    full_ids = {r["doc_id"] for r in full.corpus.collect()}
    cap_ids = {r["doc_id"] for r in cap.corpus.collect()}
    assert cap_ids < full_ids
    # sampling stays the exact rate filter (no hidden randomness)
    rates = SA.mixture_rates(
        {s: float(r["w"]) for s, r in
         ((row["source"], row) for row in
          TBL.read(spark, f"{out_cap}/20_tokens")
          .groupBy("source").agg(F.sum("n_tokens").alias("w")).collect())
         if s in targets},
        targets, budget=full_tok / 2)
    assert all(0 < v <= 1 for v in rates.values())


# -- incremental (sync) export ----------------------------------------------

RATES = {f"src{i}": 0.8 for i in range(20)}


def _split_deltas(spark):
    """sf0.001 documents split into two id-ordered deltas, with two
    delta-1 texts duplicated into delta 2 under new high ids."""
    docs = _docs(spark).select("doc_id", "text", "source")
    mid = docs.approxQuantile("doc_id", [0.5], 0)[0]
    d1 = docs.where(F.col("doc_id") <= mid)
    d2 = docs.where(F.col("doc_id") > mid)
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    # duplicates of quality-surviving delta-1 docs (same text => same digest)
    q1 = quality_filter(d1, gopher_kwargs=GOPHER)
    dup_src = (d1.join(q1.select("doc_id"), on="doc_id", how="left_semi")
               .orderBy("doc_id").limit(2).collect())
    dups = spark.createDataFrame(
        [(hi + 1 + i, r["text"], r["source"]) for i, r in enumerate(dup_src)],
        "doc_id long, text string, source string")
    return d1, d2.unionByName(dups), [r["doc_id"] for r in dup_src]


def _expected_segments(full, seq_len):
    """Operator-composition ground truth: quality -> min-id exact dedup ->
    language -> fixed-rate sampling -> packing, over the FULL corpus."""
    q = quality_filter(full, gopher_kwargs=GOPHER)
    import ckg_spark.operators.textstats as TS
    kept = (q.join(D.dedup_exact(q).select("doc_id"), on="doc_id",
                   how="left_semi")
            .where(TS.lang_best(F.col("text")).isin(["en"])))
    spark = full.sparkSession
    rate_df = spark.createDataFrame(sorted(RATES.items()),
                                    "source string, _rate double")
    toks = (kept.select("doc_id", TS.token_count(F.col("text"))
                        .alias("n_tokens"))
            .join(full.select("doc_id", "source"), on="doc_id")
            .join(F.broadcast(rate_df), on="source")
            .where(SA.hash_uniform("doc_id", "mix") < F.col("_rate")))
    return sorted(map(tuple, PK.pack_sequences(
        toks, seq_len, token_col="n_tokens").collect()))


def test_sync_export_two_deltas_equal_batch(spark, tmp_path):
    tdir = str(tmp_path / "docs_tbl")
    out = str(tmp_path / "sync_out")
    d1, d2, dup_ids = _split_deltas(spark)
    TBL.append(d1, tdir)
    r1 = sync_training_export(spark, tdir, out, fixed_rates=RATES,
                              seq_len=64, gopher_kwargs=GOPHER)
    assert r1.segments_version is not None and r1.n_segments > 0
    TBL.append(d2, tdir)
    r2 = sync_training_export(spark, tdir, out, fixed_rates=RATES,
                              seq_len=64, gopher_kwargs=GOPHER)
    assert r2.from_version == r1.to_version and r2.n_segments > 0
    got = sorted(map(tuple,
                     read_export_segments(spark, out).collect()))
    exp = _expected_segments(d1.unionByName(d2), 64)
    assert got == exp
    # the injected cross-delta duplicates were dropped by digest dedup
    packed_docs = {t[1] for t in got}
    hi = max(r["doc_id"] for r in d2.select("doc_id").collect())
    assert hi not in packed_docs and (hi - 1) not in packed_docs
    # ...but their originals (first-seen) could be packed
    assert any(d in packed_docs for d in dup_ids)
    # idempotent: rerun is a no-op that reports up to date
    r3 = sync_training_export(spark, tdir, out, fixed_rates=RATES,
                              seq_len=64, gopher_kwargs=GOPHER)
    assert r3.segments_version is None and r3.n_files == 0
    assert sorted(map(tuple,
                      read_export_segments(spark, out).collect())) == exp


def test_sync_export_partitioned_docs_table(spark, tmp_path):
    """Documents appended under partition_by=["source"] keep ``source`` in
    the manifest, not in the data files. The sync reads each delta
    through the table's scan and packs the same segments as over an
    unpartitioned table."""
    tdir = str(tmp_path / "docs_tbl")
    out = str(tmp_path / "sync_out")
    d1, d2, _ = _split_deltas(spark)
    for d in (d1, d2):
        TBL.append(d, tdir, partition_by=["source"])
        r = sync_training_export(spark, tdir, out, fixed_rates=RATES,
                                 seq_len=64, gopher_kwargs=GOPHER)
        assert r.n_segments > 0
    assert TBL.read_manifest(tdir)["partition_by"] == ["source"]
    got = sorted(map(tuple, read_export_segments(spark, out).collect()))
    assert got == _expected_segments(d1.unionByName(d2), 64)


def test_sync_crash_between_commits_heals(spark, tmp_path, monkeypatch):
    tdir = str(tmp_path / "docs_tbl")
    out = str(tmp_path / "sync_out")
    d1, d2, _ = _split_deltas(spark)
    TBL.append(d1, tdir)
    sync_training_export(spark, tdir, out, fixed_rates=RATES,
                         seq_len=64, gopher_kwargs=GOPHER)

    # crash exactly between the segments commit and the digests commit
    import ckg_spark.plans.export as EXP
    real_append = EXP.TBL.append

    def crashing_append(df, table_dir, **kw):
        if table_dir.endswith("digests"):
            raise RuntimeError("simulated crash before digest commit")
        return real_append(df, table_dir, **kw)

    TBL.append(d2, tdir)
    monkeypatch.setattr(EXP.TBL, "append", crashing_append)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sync_training_export(spark, tdir, out, fixed_rates=RATES,
                             seq_len=64, gopher_kwargs=GOPHER)
    monkeypatch.undo()

    # segments advanced, digests did not — the next sync heals
    r = sync_training_export(spark, tdir, out, fixed_rates=RATES,
                             seq_len=64, gopher_kwargs=GOPHER)
    assert r.healed and r.segments_version is None
    got = sorted(map(tuple, read_export_segments(spark, out).collect()))
    assert got == _expected_segments(d1.unionByName(d2), 64)

    # a delta-3 duplicate of a delta-2 doc is still deduped (digests whole)
    q2 = quality_filter(d2, gopher_kwargs=GOPHER)
    srcrow = (d2.join(q2.select("doc_id"), on="doc_id", how="left_semi")
              .orderBy("doc_id").limit(1).collect()[0])
    hi = d2.agg(F.max("doc_id")).collect()[0][0]
    d3 = spark.createDataFrame(
        [(hi + 10, srcrow["text"], srcrow["source"])],
        "doc_id long, text string, source string")
    TBL.append(d3, tdir)
    sync_training_export(spark, tdir, out, fixed_rates=RATES,
                         seq_len=64, gopher_kwargs=GOPHER)
    packed_docs = {t[1] for t in
                   read_export_segments(spark, out).collect()}
    assert hi + 10 not in packed_docs


def test_sync_refuses_interleaved_ids_and_mixed_recipe(spark, tmp_path):
    tdir = str(tmp_path / "docs_tbl")
    out = str(tmp_path / "sync_out")
    d1, _, _ = _split_deltas(spark)
    TBL.append(d1.where(F.col("doc_id") >= 10), tdir)
    sync_training_export(spark, tdir, out, fixed_rates=RATES,
                         seq_len=64, gopher_kwargs=GOPHER)
    # ids below the seen high-water mark must refuse
    TBL.append(d1.where(F.col("doc_id") < 10), tdir)
    with pytest.raises(ValueError, match="high-water mark"):
        sync_training_export(spark, tdir, out, fixed_rates=RATES,
                             seq_len=64, gopher_kwargs=GOPHER)
    # recipe drift refuses too
    with pytest.raises(ValueError, match="different recipe"):
        sync_training_export(spark, tdir, out, fixed_rates=RATES,
                             seq_len=128, gopher_kwargs=GOPHER)


def test_sync_freezes_rates_from_first_delta(spark, tmp_path):
    tdir = str(tmp_path / "docs_tbl")
    out = str(tmp_path / "sync_out")
    d1, d2, _ = _split_deltas(spark)
    TBL.append(d1, tdir)
    targets = {"src0": 0.5, "src1": 0.5}
    sync_training_export(spark, tdir, out, targets=targets,
                         seq_len=64, gopher_kwargs=GOPHER)
    import json
    import os
    with open(os.path.join(out, "_export_rates.json")) as f:
        rates = json.load(f)
    assert set(rates) == set(targets)
    assert all(0 < v <= 1 for v in rates.values())
    # the frozen rates are what delta 2 applies (file unchanged after sync)
    before = os.path.getmtime(os.path.join(out, "_export_rates.json"))
    TBL.append(d2, tdir)
    sync_training_export(spark, tdir, out, targets=targets,
                         seq_len=64, gopher_kwargs=GOPHER)
    assert os.path.getmtime(os.path.join(out, "_export_rates.json")) == before
    packed = {t[1] for t in read_export_segments(spark, out).collect()}
    assert packed
    srcs = {r["source"] for r in
            _docs(spark).where(F.col("doc_id").isin([int(p) for p in packed]))
            .select("source").distinct().collect()}
    assert srcs <= {"src0", "src1"}
