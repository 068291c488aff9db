"""Incremental transcript ingest via Structured Streaming.

The reference is pure batch, but its "mentions partial update" mode
(docs/source/ckg_builder/graphdb-builder.rst:245 — re-run just the
Publication/MENTIONED_IN_PUBLICATION load in the background) maps naturally
onto a file-source stream: new transcript parquet files landing in a
directory are picked up per micro-batch, run through the identical
extract->link stages (foreachBatch reuses the batch operators — one code
path, per north rule), and appended to a mention-edge snapshot table
(``plans.table``), the same table contract ``plans.incremental`` writes
and ``plans.canon.read_graph_edges`` reads.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import extract as X
from ..operators import link as L
from ..operators import materialize as M


def linked_mentions(turns: DataFrame, alias_grams, alias_table, stoplist,
                    canonical: DataFrame | None = None,
                    keys: Sequence[str] = X.DEFAULT_KEYS) -> DataFrame:
    """The one extract -> link -> canonicalize composition shared by the
    stream sink, ``plans.incremental`` and ``streaming.stateful``; returns
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


def stream_mention_edges(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    vocab_tables: dict,
    table_dir: str,
    checkpoint_dir: str,
    canonical: DataFrame | None = None,
    mapping_table_dir: str | None = None,
):
    """Start a file-source stream: transcripts dir -> mention edges, one
    SNAPSHOT-TABLE append (``plans.table``) per micro-batch with its batch
    id in the manifest properties. foreachBatch is at-least-once for
    non-idempotent sinks — on replay after a crash between sink commit and
    stream checkpoint, the batch id is already at or below the table's
    ``batch_id`` high-water mark and the batch is SKIPPED, giving the
    table exactly-once batch semantics (Iceberg sinks make the same move
    with snapshot summary properties). Every ingest tick stays
    time-travelable, and a poisoned batch is a ``table.rollback``.

    Only MENTIONED_IN_TURN rows are stored; co-mentions are derived at
    read by ``plans.canon.read_graph_edges(comention=True)``, and
    ``plans.canon.compact_graph_edges`` folds the table (keeping the
    ``batch_id`` mark).

    ``mapping_table_dir``: the EVOLVING canonicalization hook — each
    micro-batch canonicalizes with the CURRENT merge-on-read mapping
    (plans/canon.py), so an identity merge synced mid-stream applies from
    the next batch on, and batches written before it are patched at read
    by the remap log (``read_graph_edges(..., mapping_table_dir)``).

    Returns the StreamingQuery (availableNow trigger: process what is
    there, then stop); the caller awaits it."""
    from ..plans import table as T

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
        done = T.last_stamped_version(table_dir, "batch_id")
        if done is not None and batch_id <= done:
            return  # replayed batch: already committed, skip
        cmap = canonical
        if mapping_table_dir is not None:
            from ..plans.canon import read_canonical_mapping
            cmap = read_canonical_mapping(spark, mapping_table_dir)
        linked = linked_mentions(batch_df, alias_grams, alias_table, stoplist,
                                 cmap)
        T.append(M.mention_edges(linked), table_dir,
                 properties={"batch_id": batch_id})

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
