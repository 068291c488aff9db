"""Incremental KG construction over a snapshot transcript table.

The north rule's input is an Iceberg table of transcripts at 10^12-turn
scale — at that size you NEVER reprocess the corpus. This module is the
batch companion to ``streaming/ingest.py``: where the stream processes
micro-batches as files arrive, ``sync_mention_edges`` processes the
APPEND DELTA between two committed snapshots of a ``plans.table``
transcript table (Iceberg's incremental append scan, here a manifest
diff — ``table.incremental_files``) and appends the resulting
MENTIONED_IN_TURN edges to the edges snapshot table in one commit that
records the source version it consumed.

Why the delta is EXACT (not approximate): mention edges are per-turn —
each output row is a function of a single transcript row plus the static
(vocab-derived) alias/canonical tables — so edges(all rows) is the
disjoint union of edges(per snapshot delta). No cross-file state exists
to lose (a turn is one transcript row; it is never split across files).

Co-mention edges aggregate ACROSS turns (score = number of co-mentioning
turns), so they are never stored: the edge table holds MENTIONED_IN_TURN
rows only, and ``plans.canon.read_graph_edges(comention=True)`` derives
the co-mentions from them at read time — the one merge-on-read view,
exact also when a canonical mapping merges entities between syncs.
``plans.canon.compact_graph_edges`` folds the table to one row per edge
in a single overwrite commit that preserves the sync high-water mark.

Exactly-once: each sync commit stamps ``transcripts_version`` in the edge
table's snapshot properties. A crash AFTER the edge commit but BEFORE the
caller records success is replay-safe: the next sync reads the high-water
mark from the committed properties and starts past it. A non-append
snapshot (compact/overwrite/rollback) in the source range fails the
manifest diff with instructions to re-baseline (``table.incremental_files``).

Reference analog: CKG rebuilds its Neo4j import TSVs from scratch per
release (full loader, importer.py); a 10^12-turn corpus needs this
append-delta form instead.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators import extract as X
from ..operators import link as L
from ..operators import materialize as M
from ..streaming.ingest import linked_mentions
from . import table as T


@dataclass
class SyncReport:
    from_version: int | None
    to_version: int
    n_files: int
    n_edges: int
    edge_table_version: int | None  # None when nothing to do


def last_synced_version(edges_table_dir: str) -> int | None:
    """High-water mark: the largest transcripts_version recorded in the
    edge table's LIVE snapshot log (survives manifest expiry gaps)."""
    return T.last_stamped_version(edges_table_dir, "transcripts_version")


def sync_mention_edges(
    spark: SparkSession,
    transcripts_table_dir: str,
    vocab_tables: dict,
    edges_table_dir: str,
    canonical=None,
    to_version: int | None = None,
) -> SyncReport:
    """Bring the mention-edge snapshot table up to date with the
    transcript snapshot table: read ONLY the files appended since the last
    sync, run the per-turn extract -> link -> canonicalize -> edge
    composition (identical code path to the streaming sink), and commit
    one edges snapshot stamped with the consumed source version.

    Safe to call repeatedly (no-op when up to date) and after crashes
    (the high-water mark lives in committed snapshot properties)."""
    cur = T.read_manifest(transcripts_table_dir, to_version)["version"]
    done = last_synced_version(edges_table_dir)
    if done is not None and done >= cur:
        return SyncReport(done, cur, 0, 0, None)

    new_files = T.incremental_files(transcripts_table_dir, done, cur)
    if not new_files:
        # empty append (files unchanged): advance the mark with a
        # metadata-only commit so the next sync doesn't re-diff the range;
        # if no edge table exists yet there is nothing to stamp — the next
        # sync re-derives the same empty diff cheaply
        if T.current_version(edges_table_dir) is None:
            return SyncReport(done, cur, 0, 0, None)
        ev = T.commit_properties(edges_table_dir,
                                 {"transcripts_version": cur})
        return SyncReport(done, cur, 0, 0, ev)

    alias_grams = X.prepare_alias_grams(vocab_tables["aliases"])
    alias_table = L.prepare_alias_table(vocab_tables["aliases"])
    delta = T.read_files(spark, transcripts_table_dir, new_files, cur)
    linked = linked_mentions(delta, alias_grams, alias_table,
                             vocab_tables.get("stoplist"), canonical)
    ev = T.append(M.mention_edges(linked), edges_table_dir,
                  properties={"transcripts_version": cur},
                  partition_by=None)
    n = T.read_manifest(edges_table_dir, ev)["row_count"] - (
        T.read_manifest(edges_table_dir, ev - 1)["row_count"]
        if ev > 1 and _manifest_exists(edges_table_dir, ev - 1) else 0)
    return SyncReport(done, cur, len(new_files), n, ev)


def _manifest_exists(table_dir: str, version: int) -> bool:
    import os

    return os.path.exists(T._manifest_path(table_dir, version))


def validate_edges_delta(spark: SparkSession, edges_table_dir: str,
                         node_types: DataFrame, rules: DataFrame,
                         from_version: int | None = None,
                         to_version: int | None = None) -> DataFrame:
    """Delta-only schema validation of a snapshot edge table — the
    incremental form of the KG-QA pass (``kg_qa.schema_violations``):
    validates ONLY the files appended between two snapshot versions
    (`table.incremental_files` manifest diff), so a release-cadence QA
    gate costs O(delta), never O(graph). Same O(delta) contract as the
    rest of the incremental subsystem (plans/incremental.py); non-append
    history in the range raises there — re-baseline by validating with
    ``from_version=None`` (the full current file set).

    Returns the violation summary for the delta (empty = the delta is
    schema-clean; pair it with the full-table `queries.catalog`
    'dangling_endpoints' check at re-baseline cadence)."""
    from ..operators.kg_qa import schema_violations, violation_summary

    files = T.incremental_files(edges_table_dir, from_version, to_version)
    delta = T.read_files(spark, edges_table_dir, files, to_version)
    return violation_summary(schema_violations(delta, node_types, rules))
