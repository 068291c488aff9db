"""End-to-end pipeline: triple P/R vs oracle, per-turn invariant, resume."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

from ckg_spark.oracle_ref import oracle_triples, triple_prf
from ckg_spark.plans import lineage as LIN
from ckg_spark.plans.pipeline import run_pipeline


def test_pipeline_triples_match_oracle(spark, vocab, vocab_tables,
                                       transcripts_df, transcripts_pdf, tmp_path):
    res = run_pipeline(spark, transcripts_df, vocab_tables, str(tmp_path / "kg"))
    got = res.edges.toPandas()
    exp = oracle_triples(transcripts_pdf, vocab)
    prf = triple_prf(exp, got)
    assert prf["expected"] > 100
    assert prf["precision"] >= 0.95 and prf["recall"] >= 0.95, prf
    # exact match expected on synthetic data
    assert prf["f1"] == 1.0, prf
    # score values match too
    k = ["subj", "pred", "obj", "source"]
    merged = exp.merge(got, on=k, suffixes=("_e", "_g"))
    assert (merged["score_e"] == merged["score_g"]).all()


def test_per_turn_invariant(spark, transcripts_df, transcripts_pdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ordered = (
        transcripts_df.withColumn("rn", F.row_number().over(w))
        .select("conv_id", "turn_idx", "rn", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (ordered["text"].values == exp["text"].values).all()
    # dense ordering: row_number == turn_idx + 1 per conversation
    assert (ordered["rn"] == ordered["turn_idx"] + 1).all()


STAGES = ["10_mentions", "20_linked", "30_canonical", "40_nodes", "41_edges"]
EDGE_K = ["subj", "pred", "obj", "source", "score"]


def _triples(df: pd.DataFrame) -> list:
    return sorted(map(tuple, df[EDGE_K].itertuples(index=False)))


def test_pipeline_resume_skips_committed_stages(spark, vocab_tables,
                                                transcripts_df, tmp_path):
    out = str(tmp_path / "kg2")
    r1 = run_pipeline(spark, transcripts_df, vocab_tables, out)
    assert r1.resumed_stages == []
    e1 = r1.edges.toPandas().sort_values(["subj", "pred", "obj"]).reset_index(drop=True)
    lin1 = LIN.read_lineage(out)
    assert [r["stage"] for r in lin1] == STAGES
    # simulate a crash after stage 20: later stages never committed
    for stage in ["30_canonical", "40_nodes", "41_edges"]:
        shutil.rmtree(os.path.join(out, stage))
    r2 = run_pipeline(spark, transcripts_df, vocab_tables, out)
    assert set(r2.resumed_stages) == {"10_mentions", "20_linked"}
    lin2 = LIN.read_lineage(out)
    assert lin2[:2] == lin1[:2]
    assert [r["stage"] for r in lin2] == STAGES
    assert {r["run_id"] for r in lin2[2:]} == {r2.run_id}
    # resumed run produces the identical triple set
    e2 = r2.edges.toPandas().sort_values(["subj", "pred", "obj"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(e1[e2.columns], e2, check_dtype=False)


def test_pipeline_crash_in_materialize_resumes(spark, vocab, vocab_tables,
                                               transcripts_df, transcripts_pdf,
                                               tmp_path, monkeypatch):
    """A build killed inside edge materialization, after 40_nodes has
    committed, resumes every committed stage and builds the oracle graph."""
    from ckg_spark.operators import materialize as M

    out = str(tmp_path / "crash_a")

    def boom(*a, **k):
        raise RuntimeError("killed in materialize_edges")

    with monkeypatch.context() as mp:
        mp.setattr(M, "materialize_edges", boom)
        with pytest.raises(RuntimeError, match="killed"):
            run_pipeline(spark, transcripts_df, vocab_tables, out)
    assert [LIN.stage_done(out, s) for s in STAGES] == [True] * 4 + [False]
    res = run_pipeline(spark, transcripts_df, vocab_tables, out)
    assert res.resumed_stages == STAGES[:4]
    assert (_triples(res.edges.toPandas())
            == _triples(oracle_triples(transcripts_pdf, vocab)))


def test_pipeline_crash_before_commit_rewrites_stage(
        spark, vocab, vocab_tables, transcripts_df, transcripts_pdf, tmp_path,
        monkeypatch):
    """A build killed after 41_edges' data files are written but before its
    manifest commit: the stage is not done, the rerun rewrites it, and the
    lineage holds exactly one row per stage (data and lineage row are one
    commit, so neither can exist without the other)."""
    from ckg_spark.plans import table as T

    out = str(tmp_path / "crash_b")
    commit = T._commit

    def killed_commit(table_dir, *a, **k):
        if table_dir.endswith("41_edges"):
            raise RuntimeError("killed before the 41_edges commit")
        return commit(table_dir, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(T, "_commit", killed_commit)
        with pytest.raises(RuntimeError, match="killed"):
            run_pipeline(spark, transcripts_df, vocab_tables, out)
    assert os.path.isdir(os.path.join(out, "41_edges", "data"))
    assert not LIN.stage_done(out, "41_edges")
    res = run_pipeline(spark, transcripts_df, vocab_tables, out)
    assert res.resumed_stages == STAGES[:4]
    lin = LIN.read_lineage(out)
    assert sorted(r["stage"] for r in lin) == STAGES
    edges = res.edges.toPandas()
    assert lin[-1]["rows"] == len(edges) == sum(
        lin[-1]["partition_rows"].values())
    assert _triples(edges) == _triples(oracle_triples(transcripts_pdf, vocab))


def test_determinism_across_parallelism(spark, vocab, vocab_tables,
                                        transcripts_df, tmp_path):
    """Same triples regardless of partition count (scaling-gate precondition)."""
    r_lo = run_pipeline(spark, transcripts_df.repartition(2), vocab_tables,
                        str(tmp_path / "lo"))
    r_hi = run_pipeline(spark, transcripts_df.repartition(32), vocab_tables,
                        str(tmp_path / "hi"))
    k = ["subj", "pred", "obj", "source", "score", "evidence_type"]
    lo = r_lo.edges.toPandas()[k].sort_values(k).reset_index(drop=True)
    hi = r_hi.edges.toPandas()[k].sort_values(k).reset_index(drop=True)
    pd.testing.assert_frame_equal(lo, hi)


def test_pipeline_arrow_extractor_equivalent(spark, vocab, vocab_tables,
                                             transcripts_pdf, transcripts_df,
                                             tmp_path):
    """keep='all' linking (every candidate id per mention, the reference's
    1:N semantics) yields the oracle's triple set and scores."""
    res = run_pipeline(spark, transcripts_df, vocab_tables, str(tmp_path / "a"),
                       keep="all")
    k = ["subj", "pred", "obj", "source", "score", "evidence_type"]
    got = res.edges.toPandas()[k].sort_values(k).reset_index(drop=True)
    exp = oracle_triples(transcripts_pdf, vocab, keep="all")
    exp = exp[k].sort_values(k).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_pipeline_longest_match_matches_oracle(spark, vocab, vocab_tables,
                                               transcripts_pdf, transcripts_df,
                                               tmp_path):
    from ckg_spark.oracle_ref import oracle_triples, triple_prf

    res = run_pipeline(spark, transcripts_df, vocab_tables, str(tmp_path / "lm"),
                       longest_match=True)
    exp = oracle_triples(transcripts_pdf, vocab, longest_match=True)
    prf = triple_prf(exp, res.edges.toPandas())
    assert prf["f1"] == 1.0, prf


def test_pipeline_correctness_tier(spark, tmp_path):
    """Larger P/R gate: 20k turns, 800-entity vocab (with cross-namespace
    twins and ambiguous aliases) — the FIXTURES.md correctness-tier shape."""
    from ckg_spark.datagen import gen_transcripts
    from ckg_spark.oracle_ref import oracle_triples, triple_prf
    from ckg_spark.vocab import build_vocab, vocab_to_spark

    vocab = build_vocab(n_entities=800, seed=23)
    pdf = gen_transcripts(20_000, vocab=vocab, seed=77)
    tdf = spark.createDataFrame(pdf)
    tables = vocab_to_spark(spark, vocab)
    res = run_pipeline(spark, tdf, tables, str(tmp_path / "big"),
                       conv_partitions=16)
    got = res.edges.toPandas()
    exp = oracle_triples(pdf, vocab)
    prf = triple_prf(exp, got)
    assert prf["expected"] > 20_000, prf
    assert prf["f1"] == 1.0, prf


def test_edge_agg_exchange_elision(spark):
    """Regression guard for the round-2 plan change: when the slim linked
    stream is hash-partitioned on (conv_id, turn_idx), neither edge
    aggregation may introduce an exchange of the mention stream — only
    comention's tiny (subj, obj) pair-count shuffle is allowed."""
    from ckg_spark.operators import materialize as M

    rows = [("c%d" % (i % 7), i % 5, "E%d" % (i % 11), "Disease")
            for i in range(200)]
    slim = (
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, canonical_id string, entity_type string")
        .repartition(4, "conv_id", "turn_idx")
        .persist()
    )
    slim.count()
    try:
        import re

        def agg_exchanges(plan: str) -> list:
            # ENSURE_REQUIREMENTS exchanges are ones an operator demanded;
            # the fixture's own REPARTITION_BY_NUM layout pass is expected
            return re.findall(
                r"Exchange hashpartitioning\(([^)]*)\), ENSURE_REQUIREMENTS", plan)

        me_plan = M.mention_edges(slim)._jdf.queryExecution() \
            .executedPlan().toString()
        assert agg_exchanges(me_plan) == [], me_plan
        co_plan = M.comention_edges(slim)._jdf.queryExecution() \
            .executedPlan().toString()
        co_ex = agg_exchanges(co_plan)
        # collect_set reuses (conv,turn); only the pair-count shuffle remains
        assert len(co_ex) == 1 and co_ex[0].startswith("subj"), co_ex
    finally:
        slim.unpersist()
