"""End-to-end KG-construction pipeline (SURVEY.md §7.1 stage graph).

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      | repartition(hash(conv_id))                       [north rule]
      v
    10_mentions   extract_mentions (JVM n-gram + broadcast dict)   [M8]
      v
    20_linked     stop-list anti-join + broadcast link + best-pick [M3,M4,M9]
      v
    30_canonical  connected components over identity edges         [M10]
      v
    40_nodes / 41_edges   (subj, pred, obj) materialization        [K1,K2,M5,M7]

Each stage is a snapshot table at ``{out_dir}/{stage}`` whose one commit
carries its lineage row (plans/lineage.py); a rerun with the same out_dir
resumes after the last committed stage. ``41_edges`` and ``40_nodes`` are
the graph tables: read them with ``plans.table.read``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import extract as X
from ..operators import link as L
from ..operators import canonicalize as C
from ..operators import materialize as M
from . import lineage as LIN


@dataclass
class PipelineResult:
    run_id: str
    nodes: DataFrame
    edges: DataFrame
    resumed_stages: list[str]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    vocab_tables: dict,
    out_dir: str,
    longest_match: bool = False,
    keep: str = "best",
    conv_partitions: int | None = None,
) -> PipelineResult:
    """Run (or resume) the full construction pipeline.

    ``vocab_tables`` is the dict from vocab.vocab_to_spark: aliases,
    stoplist, parent_rels, identity_edges, terms.

    The returned ``nodes`` / ``edges`` read the committed ``40_nodes`` /
    ``41_edges`` snapshot tables; the snapshot properties record the
    run_id that wrote each.
    """
    run_id = LIN.new_run_id()
    resumed: list[str] = []

    aliases = vocab_tables["aliases"]
    alias_grams = X.prepare_alias_grams(aliases)
    alias_table = L.prepare_alias_table(aliases)

    # ---- stage 10: mention extraction -------------------------------------
    if LIN.stage_done(out_dir, "10_mentions"):
        mentions = LIN.read_stage(spark, out_dir, "10_mentions")
        resumed.append("10_mentions")
    else:
        # explicit repartition by hash(conv_id): co-locates each conversation
        # so the downstream per-turn fold and any per-conversation window run
        # shuffle-free on top of this layout
        t = transcripts
        if conv_partitions:
            t = t.repartition(conv_partitions, "conv_id")
        m = X.extract_mentions(t, alias_grams)
        if longest_match:
            m = X.resolve_longest_match(m)
        mentions = LIN.write_stage(m, out_dir, "10_mentions", run_id)

    # ---- stage 20: linking --------------------------------------------------
    if LIN.stage_done(out_dir, "20_linked"):
        linked = LIN.read_stage(spark, out_dir, "20_linked")
        resumed.append("20_linked")
    else:
        lk = L.link_mentions(mentions, alias_table, vocab_tables["stoplist"], keep=keep)
        linked = LIN.write_stage(lk, out_dir, "20_linked", run_id)

    # ---- stage 30: canonicalization ----------------------------------------
    if LIN.stage_done(out_dir, "30_canonical"):
        canonical = LIN.read_stage(spark, out_dir, "30_canonical")
        resumed.append("30_canonical")
    else:
        all_idents = (
            aliases.select("ident")
            .unionByName(vocab_tables["identity_edges"].select(F.col("ident_a").alias("ident")))
            .unionByName(vocab_tables["identity_edges"].select(F.col("ident_b").alias("ident")))
            .distinct()
        )
        cm = C.canonical_mapping(vocab_tables["identity_edges"], all_idents)
        canonical = LIN.write_stage(cm, out_dir, "30_canonical", run_id)

    # ---- stage 40/41: materialization --------------------------------------
    linked_canon = M.canonicalize_linked(linked, canonical)

    if LIN.stage_done(out_dir, "40_nodes"):
        nodes = LIN.read_stage(spark, out_dir, "40_nodes")
        resumed.append("40_nodes")
    else:
        n = M.materialize_nodes(vocab_tables["terms"], canonical)
        nodes = LIN.write_stage(n, out_dir, "40_nodes", run_id)

    if LIN.stage_done(out_dir, "41_edges"):
        edges = LIN.read_stage(spark, out_dir, "41_edges")
        resumed.append("41_edges")
    else:
        e = M.materialize_edges(linked_canon, canonical, vocab_tables["parent_rels"])
        edges = LIN.write_stage(e, out_dir, "41_edges", run_id)

    return PipelineResult(run_id=run_id, nodes=nodes, edges=edges,
                          resumed_stages=resumed)
