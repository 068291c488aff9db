"""Incrementally-synced canonical-entity mapping over snapshot tables.

North-rule surface: canonicalization must keep up with a growing
transcript corpus without re-running connected components over all
history, and downstream graph tables must be patchable after component
merges. Reference parity: CKG rebuilds its full entity mapping per import
run (ckg/graphdb_builder/mapping.py — batch dump + reload); here the
mapping is a snapshot table brought up to date per delta with
``operators.canonicalize.incremental_canonical_mapping``, exact vs the
batch recompute (q93 oracle + tests/test_canon_sync.py).

Storage layout (merge-on-read, same stance as plans/incremental.py):
- ``<dir>``          mapping deltas: (ident, canonical_id, map_version);
                     read = latest row per ident. Append-only per sync;
                     ``compact_mapping`` folds to one row per ident.
- ``<dir>_remaps``   merge log: (old_canonical_id, new_canonical_id,
                     map_version). Dictionary-scale (one row per absorbed
                     component); ``read_remap_log`` resolves cross-sync
                     chains (old -> mid -> final) so a consumer patches an
                     edge table with ONE broadcast join however many syncs
                     it lags behind.

At 10^12-turn scale the mapping table is entity-dictionary-sized — orders
below the corpus — so the latest-per-ident window and the compaction
rewrite are cheap relative to any extraction sync they accompany.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.canonicalize import (incremental_canonical_parts,
                                      post_sync_mapping)
from ..operators.materialize import _comention_from_sets
from . import table as T

_MAP_SCHEMA = "ident string, canonical_id string, map_version int"
_REMAP_SCHEMA = ("old_canonical_id string, new_canonical_id string, "
                 "map_version int")


def _remap_dir(mapping_table_dir: str) -> str:
    return mapping_table_dir.rstrip("/") + "_remaps"


@dataclass
class CanonSyncReport:
    mapping_version: int | None  # None when the delta was a no-op
    n_changed: int
    n_remaps: int
    mapping: DataFrame  # post-sync (ident, canonical_id)


def read_canonical_mapping(spark: SparkSession, mapping_table_dir: str,
                           version: int | None = None) -> DataFrame:
    """Merge-on-read view: latest (ident, canonical_id) per ident."""
    m = T.read(spark, mapping_table_dir, version=version)
    w = Window.partitionBy("ident").orderBy(F.desc("map_version"))
    return (m.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("ident", "canonical_id"))


def sync_canonical_mapping(
    spark: SparkSession,
    mapping_table_dir: str,
    new_edges: DataFrame,
    new_idents: DataFrame | None = None,
    properties: dict | None = None,
) -> CanonSyncReport:
    """Fold one delta of identity edges into the mapping table.

    Appends ONLY the changed/new rows (merge-on-read keeps reads exact),
    plus the (old -> new) canon pairs to the remap side table. Safe to
    call with an empty delta (no commit). The parts carry the rows to
    append and both counts (Python lengths on the driver tier, which
    fetches each input once; one count per checkpoint on the distributed
    tier), so nothing is counted here. The report's ``mapping`` is
    untouched ∪ changed ∪ isolated: what ``read_canonical_mapping``
    returns after the commit, without reading the table again."""
    cur = T.current_version(mapping_table_dir)
    prev = (read_canonical_mapping(spark, mapping_table_dir)
            if cur is not None else None)
    parts = incremental_canonical_parts(prev, new_edges,
                                        new_idents=new_idents)
    mapping = post_sync_mapping(parts)
    if parts["n_delta"] == 0 and cur is not None:
        return CanonSyncReport(None, 0, 0, mapping)
    next_v = (cur or 0) + 1
    mv = T.append(
        parts["delta"].withColumn("map_version", F.lit(next_v).cast("int")),
        mapping_table_dir, properties=properties or {})
    rd = _remap_dir(mapping_table_dir)
    if parts["n_remaps"] or T.current_version(rd) is None:
        T.append(parts["remaps"].withColumn("map_version",
                                            F.lit(mv).cast("int")), rd)
    return CanonSyncReport(mv, parts["n_delta"], parts["n_remaps"], mapping)


def read_remap_log(spark: SparkSession, mapping_table_dir: str,
                   since_version: int | None = None,
                   through_version: int | None = None) -> DataFrame:
    """(old_canonical_id, new_canonical_id) pairs with cross-sync chains
    RESOLVED: a canon absorbed in sync 2 whose absorber was itself
    absorbed in sync 5 maps straight to the final canon, so one broadcast
    join patches an edge table regardless of how many syncs it lags.

    Chain folding runs driver-side over the collected log — the log is
    one row per merged component (dictionary scale by construction)."""
    rd = _remap_dir(mapping_table_dir)
    if T.current_version(rd) is None:
        return spark.createDataFrame([], _REMAP_SCHEMA.rsplit(",", 1)[0])
    # sorted on the driver (stable; rows within one version are
    # independent): the log is dictionary-scale, an orderBy costs 3 jobs
    rows = sorted(T.read(spark, rd).collect(), key=lambda r: r["map_version"])
    if through_version is not None:
        rows = [r for r in rows if r["map_version"] <= through_version]
    final: dict[str, str] = {}
    rev: dict[str, set] = {}  # target -> olds currently mapped to it (O(R))
    for r in rows:
        old = r["old_canonical_id"]
        tgt = final.get(r["new_canonical_id"], r["new_canonical_id"])
        # repoint every chain already ending at the absorbed canon
        for k in rev.pop(old, set()):
            final[k] = tgt
            rev.setdefault(tgt, set()).add(k)
        final[old] = tgt
        rev.setdefault(tgt, set()).add(old)
    if since_version is not None:
        keep = {r["old_canonical_id"] for r in rows
                if r["map_version"] > since_version}
        final = {k: v for k, v in final.items() if k in keep}
    out = [(k, v) for k, v in sorted(final.items()) if k != v]
    return spark.createDataFrame(
        out, "old_canonical_id string, new_canonical_id string")


def compact_mapping(spark: SparkSession, mapping_table_dir: str) -> int:
    """Fold accumulated deltas to one row per ident in a single overwrite
    commit (read amplification resets; history stays time-travelable
    until expire_snapshots). Carries the head's properties forward: the
    mapping's high-water semantics live in the caller's properties."""
    cur = T.read_manifest(mapping_table_dir)
    props = {k: v for k, v in cur.get("properties", {}).items()}
    merged = read_canonical_mapping(spark, mapping_table_dir).withColumn(
        "map_version", F.lit(cur["version"]).cast("int"))
    return T.overwrite(merged, mapping_table_dir, properties=props)


# ---------------------------------------------------------------------------
# Composed: incremental KG sync under an EVOLVING canonicalization
# ---------------------------------------------------------------------------


def sync_graph(
    spark: SparkSession,
    transcripts_table_dir: str,
    vocab_tables: dict,
    edges_table_dir: str,
    mapping_table_dir: str,
    identity_edges: DataFrame | None = None,
    to_version: int | None = None,
) -> "object":
    """One sync tick of the full incremental KG: fold this tick's identity
    edges (new ontology xrefs) into the canonical mapping, then extract ->
    link -> canonicalize ONLY the new transcript files with the updated
    mapping (plans/incremental.sync_mention_edges).

    Already-written edges are NOT rewritten when a merge happens — the
    remap log fixes them at read time (`read_graph_edges`), which is what
    keeps each tick O(delta) at 10^12-turn scale. Every vocab ident is
    registered in the mapping on first contact so any FUTURE merge of an
    ident that already emitted edges is guaranteed a remap-log row
    (otherwise an ident that was never a mapping row could silently change
    canon with no patch record)."""
    from . import incremental as I

    # raw alias rows: the parts dedupe idents themselves
    idents = vocab_tables["aliases"].select("ident")
    if identity_edges is None:
        identity_edges = spark.createDataFrame(
            [], "ident_a string, ident_b string")
    rep = sync_canonical_mapping(spark, mapping_table_dir, identity_edges,
                                 new_idents=idents)
    return I.sync_mention_edges(spark, transcripts_table_dir, vocab_tables,
                                edges_table_dir, canonical=rep.mapping,
                                to_version=to_version)


EDGE_KEY = ["subj", "pred", "obj", "source", "evidence_type"]


def read_graph_edges(spark: SparkSession, edges_table_dir: str,
                     mapping_table_dir: str | None = None,
                     comention: bool = False,
                     _through: int | None = None) -> DataFrame:
    """The merge-on-read view of a mention-edge table (written by
    `plans.incremental.sync_mention_edges`, `sync_graph` or
    `streaming.ingest.stream_mention_edges`): one row per ``EDGE_KEY``
    with the summed score.

    With a ``mapping_table_dir`` the view is EXACT under canonicalization
    drift: the resolved remap log patches subj (one broadcast join — old
    canons are a dictionary-scale set, turn-key objs never collide with
    them) before the aggregation folds the rows the patch merged. With
    ``comention=True`` the CO_MENTIONED_WITH family is DERIVED from the
    view's mention edges (per-turn distinct-subject pairs), never read
    from storage: entity merges can collapse two co-mentioned entities
    into one, and only re-derivation keeps the turn-count score exact.
    Batch equivalence is pinned by
    tests/test_canon_sync.py::test_sync_graph_matches_batch*.

    If the edge table was compacted with ``compact_graph_edges``, only
    remaps committed AFTER the folded-through mapping version are applied
    (the manifest records ``remaps_folded_through``); the patch join
    shrinks with every maintenance pass."""
    from ..operators.canonicalize import apply_remaps

    # patch the RAW rows first (broadcast join, no exchange), then ONE
    # EDGE_KEY aggregation folds the rows the patch merged
    raw = T.read(spark, edges_table_dir)
    if mapping_table_dir is not None:
        # max across SNAPSHOTS, not the current manifest: every sync
        # append after a compaction commits a manifest without the
        # property, and reading only the head would re-apply the whole log
        folded = T.last_stamped_version(edges_table_dir,
                                        "remaps_folded_through")
        remaps = read_remap_log(spark, mapping_table_dir,
                                since_version=folded,
                                through_version=_through)
        raw = apply_remaps(raw, remaps, cols=("subj",))
    mentions = (
        raw.groupBy(*EDGE_KEY).agg(F.sum("score").alias("score"))
        .select("subj", "pred", "obj", "source", "score", "evidence_type")
    )
    if not comention:
        return mentions
    sets = (
        mentions.where(F.col("pred") == "MENTIONED_IN_TURN")
        .groupBy("obj")
        .agg(F.sort_array(F.collect_set("subj")).alias("es"))
    )
    return mentions.unionByName(_comention_from_sets(sets))


def compact_graph_edges(spark: SparkSession, edges_table_dir: str,
                        mapping_table_dir: str | None = None) -> int:
    """Maintenance pass for a mention-edge table: fold its rows to one per
    ``EDGE_KEY`` in one overwrite commit, and with a ``mapping_table_dir``
    fold the remap log into storage too — every row's subj becomes its
    current canon and merged rows collapse; the commit then records
    ``remaps_folded_through`` (the mapping version whose remaps are now
    physically applied), so later `read_graph_edges` calls patch with only
    the remaps committed SINCE. The high-water marks are re-stamped
    (``transcripts_version`` for `sync_mention_edges`, ``batch_id`` for
    the streaming sink), so syncs keep consuming source deltas where they
    left off and a replayed micro-batch is still skipped after the older
    snapshots expire. History stays time-travelable until
    expire_snapshots; co-mentions stay derived-at-read."""
    props = {}
    for mark in ("transcripts_version", "batch_id"):
        v = T.last_stamped_version(edges_table_dir, mark)
        if v is not None:
            props[mark] = v
    mv = None
    if mapping_table_dir is not None:
        # capture the mapping version BEFORE folding and bound the fold to
        # it: a concurrent mapping sync committing mid-fold would
        # otherwise land remaps recorded as folded but never applied
        mv = T.current_version(mapping_table_dir)
        props["remaps_folded_through"] = mv
    folded = read_graph_edges(spark, edges_table_dir, mapping_table_dir,
                              _through=mv)
    return T.overwrite(folded, edges_table_dir, properties=props)


def expire_remap_log(spark: SparkSession, mapping_table_dir: str,
                     through_version: int) -> int:
    """Drop remap rows with map_version <= ``through_version`` in one
    overwrite commit — bounded retention for the merge log.

    SOUND ONLY when every edge table reading this mapping has folded
    through that version (`compact_graph_edges` records
    ``remaps_folded_through`` per table; pass the MINIMUM across
    consumers): a row's old canon is then physically absent from all
    storage, and chain resolution among the surviving rows is
    self-contained (each row's target was a final label at its commit
    time, so later rows never reference an expired old canon as a
    target... except as a chain HEAD, which only matters if storage
    still holds the expired old — it does not, by precondition)."""
    rd = _remap_dir(mapping_table_dir)
    if T.current_version(rd) is None:
        return 0
    keep = T.read(spark, rd).where(F.col("map_version") > through_version)
    return T.overwrite(keep, rd)
