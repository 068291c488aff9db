"""Incremental transcript ingest via Structured Streaming.

The reference is pure batch, but its "mentions partial update" mode
(docs/source/ckg_builder/graphdb-builder.rst:245 — re-run just the
Publication/MENTIONED_IN_PUBLICATION load in the background) maps naturally
onto a file-source stream: new transcript parquet files landing in a
directory are picked up per micro-batch, run through the identical
extract->link stages (foreachBatch reuses the batch operators — one code
path, per north rule), and appended to the mention-edge table. Checkpoint
location gives exactly-once per file; the lineage table records batch ids.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import extract as X
from ..operators import link as L
from ..operators import materialize as M


def stream_mention_edges(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    vocab_tables: dict,
    out_dir: str,
    checkpoint_dir: str,
    canonical: DataFrame | None = None,
):
    """Start a file-source stream: transcripts dir -> mention edges (append).

    Returns the StreamingQuery; caller awaits/stops it. Tested with
    availableNow trigger (process-all-then-stop) in the suite.
    """
    alias_grams = X.prepare_alias_grams(vocab_tables["aliases"])
    alias_table = L.prepare_alias_table(vocab_tables["aliases"])
    stoplist = vocab_tables["stoplist"]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        linked = linked_mentions(batch_df, alias_grams, alias_table, stoplist,
                                 canonical)
        M.mention_edges(linked).write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def linked_mentions(turns: DataFrame, alias_grams, alias_table, stoplist,
                    canonical: DataFrame | None = None,
                    keys: Sequence[str] = X.DEFAULT_KEYS) -> DataFrame:
    """The one extract -> link -> canonicalize composition shared by the
    stream sinks, ``plans.incremental`` and ``streaming.stateful``; returns
    the canonicalized mention stream both edge families derive from.
    ``turns`` may be a batch or a streaming DataFrame.

    ``canonical=None`` means every ident is its own canonical id, so
    ``canonical_id`` is a copy of ``ident`` (no identity map, no join).
    The stages are called through their modules so a tracer can wrap
    ``X.extract_mentions`` and ``L.link_mentions``."""
    mentions = X.extract_mentions(turns, alias_grams, keys=keys)
    linked = L.link_mentions(mentions, alias_table, stoplist, keys=keys,
                             keep="best")
    if canonical is None:
        return linked.withColumn("canonical_id", F.col("ident"))
    return M.canonicalize_linked(linked, canonical)


def stream_mention_edges_snapshot(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    vocab_tables: dict,
    table_dir: str,
    checkpoint_dir: str,
    canonical: DataFrame | None = None,
    comention: bool = False,
    mapping_table_dir: str | None = None,
):
    """Same per-micro-batch extract->link as ``stream_mention_edges``, but
    the sink is a SNAPSHOT-TABLE append (``plans.table``): each micro-batch
    commits one snapshot with its batch id in the manifest properties.
    foreachBatch is at-least-once for non-idempotent sinks — on replay
    after a crash between sink commit and stream checkpoint, the batch id
    is already in the snapshot log and the batch is SKIPPED, giving the
    table exactly-once batch semantics (Iceberg sinks make the same move
    with snapshot summary properties). Every ingest tick stays
    time-travelable, and a poisoned batch is a ``table.rollback``.

    ``comention=True`` additionally appends this micro-batch's PARTIAL
    co-mention counts (turns live in exactly one file, so micro-batches
    are turn-disjoint and the counts are additive — the same merge-on-read
    contract as ``plans.incremental``: exact totals come from
    ``plans.incremental.read_merged_edges`` and partials are folded by
    ``compact_merged``). The stream write path stays append-only either
    way — no read-modify-write per tick at any table size.

    ``mapping_table_dir``: the EVOLVING canonicalization hook — each
    micro-batch canonicalizes with the CURRENT merge-on-read mapping
    (plans/canon.py), so an identity merge synced mid-stream applies from
    the next batch on, and batches written before it are patched at read
    by the remap log (``plans.canon.read_graph_edges``). Mutually
    exclusive with ``comention``: under canonical drift, stored partial
    pair counts double-count a turn whose pair set collapsed — exact
    co-mentions must be DERIVED at read (read_graph_edges(comention=True)
    does exactly that)."""
    from ..plans import table as T

    if mapping_table_dir is not None and comention:
        raise ValueError(
            "comention partials are not exact under canonical drift; use "
            "mapping_table_dir with plans.canon.read_graph_edges("
            "comention=True) instead")
    if mapping_table_dir is not None and T.current_version(
            mapping_table_dir) is None:
        # a batch written before the idents are registered could change
        # canon later with NO remap-log row — remap-on-read exactness
        # requires registration FIRST, so refuse instead of degrading
        raise ValueError(
            "mapping table is empty: register the vocabulary idents first "
            "(plans.canon.sync_canonical_mapping(..., new_idents=aliases."
            "select('ident'))) so later merges always log a remap")

    alias_grams = X.prepare_alias_grams(vocab_tables["aliases"])
    alias_table = L.prepare_alias_table(vocab_tables["aliases"])
    stoplist = vocab_tables["stoplist"]

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        seen = {
            s.get("properties", {}).get("batch_id")
            for s in (T.snapshots(table_dir) if T.current_version(table_dir)
                      else [])
        }
        if batch_id in seen:
            return  # replayed batch: already committed, skip
        cmap = canonical
        if mapping_table_dir is not None:
            from ..plans.canon import read_canonical_mapping
            cmap = read_canonical_mapping(spark, mapping_table_dir)
        linked = linked_mentions(batch_df, alias_grams, alias_table, stoplist,
                                 cmap)
        edges = M.mention_edges(linked)
        if comention:
            edges = edges.unionByName(M.comention_edges(linked))
        T.append(edges, table_dir, properties={"batch_id": batch_id})

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
