"""Canonicalization via connected components (SURVEY.md M10).

Reference semantics: multi-source alias identity — getMultipleMappingForEntity
(ckg/graphdb_builder/mapping.py:117-144) unions ids reachable through shared
aliases, and cross-ontology MAPS_TO edges (ontologies/parsers/efoParser.py:28-40)
link equivalent terms across namespaces. The canonical representative here is
the lexicographic minimum id of each connected component — order-independent,
so the output is identical at any parallelism (the determinism gate).

Algorithm: iterative hash-join min-label propagation with pointer jumping
(label <- label-of-label each round), giving O(log diameter) convergence —
the DataFrame rendition of the Afrati et al. / "large-star small-star"
family of MapReduce CC algorithms. Skew notes:

- the per-node min over neighbor labels is an algebraic aggregate, so Spark's
  map-side partial aggregation absorbs high-degree ("hot entity") nodes
  before the shuffle — the reduce side only ever sees one partial min per
  map partition per key (this is the salting-equivalent for min()).
- the pointer-jumping self-join keys on label values; a mega-component makes
  one label hot, which AQE skew-join splits
  (spark.sql.adaptive.skewJoin.enabled, on in session.py).
- ``checkpoint_reset_stats`` (operators/ckpt.py) every round truncates the
  growing lineage AND resets the inherited sizeInBytes estimate, so both
  plan depth and Catalyst's BigInteger stats products stay bounded
  regardless of iteration count (see ckpt.py for the failure mode a plain
  localCheckpoint leaves open).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ckpt import checkpoint_reset_stats as _ckpt, collect_if_small


def _driver_union_find(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find with path compression; canonical = lexicographic min."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent.keys() | {a for a, _ in pairs} | {b for _, b in pairs}}


# identity graphs at or below this edge count are solved driver-side:
# vocabulary identity edges come from ontology xrefs (dictionary-scale even
# at a 10^12-turn corpus), and the iterative join CC costs ~5 s of CONSTANT
# driver-coordinated rounds — pure serial time under Amdahl at any cluster
# size. Union-find on the collected edge list takes milliseconds.
DRIVER_CC_MAX_EDGES = 1_000_000

# the whole-parts driver fast path additionally requires the PRIOR MAPPING
# (and the ident dictionary) collected; row conversion makes a 1M-row
# collect several seconds, and at ~200k rows the fast path only breaks
# even against the distributed plan (tools/canon_scale_probe.py), so it
# engages at a tighter cap than the edge-list union-find
DRIVER_PARTS_MAX_ROWS = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "ident_a",
    dst: str = "ident_b",
    max_iter: int = 25,
) -> DataFrame:
    """Return (ident string, component string) for every vertex in ``edges``.

    ``component`` is the lexicographic min id of the vertex's component.
    Deterministic; converges in O(log diameter) passes. Edge sets of at
    most ``DRIVER_CC_MAX_EDGES`` distinct non-self edges (read per call;
    0 forces the distributed path) short-cut to driver-side union-find —
    identical output, no iterative jobs (tests assert both paths agree).
    """
    # ONE truncated fetch is both the size probe and the edge list; when
    # it overflows, the distributed path below re-derives its own distinct
    # (which it needed anyway)
    rows = collect_if_small(
        edges.select(src, dst).where(F.col(src) != F.col(dst)).distinct(),
        DRIVER_CC_MAX_EDGES)
    if rows is not None:
        mapping = _driver_union_find(
            list(rows.itertuples(index=False, name=None)))
        spark = edges.sparkSession
        if not mapping:
            return spark.createDataFrame([], "ident string, component string")
        # broadcast hint: a Python createDataFrame plans as an
        # ExistingRDD scan with UNKNOWN stats (defaultSizeInBytes), so
        # a downstream join picks SortMergeJoin + two exchanges for a
        # relation this function GUARANTEES is <= DRIVER_CC_MAX_EDGES
        # rows (it was just collected). The hint turns e.g.
        # canonical_mapping's left join into a BroadcastHashJoin
        # (measured: 2.45s -> sub-second fixed cost in the kg bench).
        return F.broadcast(spark.createDataFrame(
            sorted(mapping.items()), "ident string, component string"))
    sym = _ckpt(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        .distinct()
    )

    labels = _ckpt(
        sym.select(F.col("a").alias("ident"))
        .distinct()
        .withColumn("label", F.col("ident"))
    )

    for _ in range(max_iter):
        # min label over neighbors (map-side combine handles degree skew)
        nbr_min = (
            sym.join(labels.withColumnRenamed("ident", "b"), on="b")
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("a", "ident")
        )
        new_labels = (
            labels.join(nbr_min, on="ident", how="left")
            .select(
                "ident",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
        )
        # pointer jumping: label <- label(label)
        jump = labels.select(
            F.col("ident").alias("label"), F.col("label").alias("jlabel")
        )
        new_labels = (
            new_labels.join(jump, on="label", how="left")
            .select(
                "ident",
                F.least(F.col("label"), F.coalesce("jlabel", "label")).alias("label"),
            )
        )
        new_labels = _ckpt(new_labels)

        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="ident")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    return labels.select("ident", F.col("label").alias("component"))


def canonical_mapping(identity_edges: DataFrame, all_idents: DataFrame,
                      ident_col: str = "ident") -> DataFrame:
    """(ident, canonical_id) for every known ident.

    Idents that appear in no identity edge are their own canonical id
    (left join + coalesce keeps them without a second shuffle pass).
    """
    comps = connected_components(identity_edges)
    return (
        all_idents.select(F.col(ident_col).alias("ident"))
        .distinct()
        .join(comps, on="ident", how="left")
        .select(
            "ident",
            F.coalesce("component", "ident").alias("canonical_id"),
        )
    )


def incremental_canonical_mapping(
    prev_mapping: DataFrame | None,
    new_edges: DataFrame,
    new_idents: DataFrame | None = None,
    src: str = "ident_a",
    dst: str = "ident_b",
) -> tuple[DataFrame, DataFrame]:
    """Delta canonicalization: fold a batch of NEW identity edges into an
    existing (ident, canonical_id) mapping WITHOUT re-running connected
    components over all history.

    Returns ``(mapping, remaps)``: the full updated mapping, and the
    distinct ``(old_canonical_id, new_canonical_id)`` pairs for components
    absorbed by a merge this delta — downstream edge tables patch
    themselves with ONE broadcast join against this (dictionary-scale)
    remap log instead of recomputing.

    Batch-equivalent by construction (tests + the q93 oracle assert it):
    canonical = lexicographic min ident of the component, exactly what
    ``canonical_mapping`` emits over the full edge union. The delta only
    recomputes TOUCHED components: every prior component is collapsed to a
    star (member -> canonical_id edges), and a component can only change
    if one of its members appears in a new edge, so CC over
    {new edges} ∪ {stars of directly-touched components} reproduces the
    batch labels for every affected ident while the untouched rows pass
    through with zero compute.

    Scale shape (the point of the operator): per-sync cost is
    O(delta + touched-component membership), not O(history). The star
    edges key on canonical_id — a mega-component makes that key hot, which
    AQE skew-join splits; the min-label aggregation inside
    ``connected_components`` is algebraic, so map-side partials absorb the
    hot canon before any shuffle.
    """
    parts = incremental_canonical_parts(
        prev_mapping, new_edges, new_idents=new_idents, src=src, dst=dst)
    return post_sync_mapping(parts), parts["remaps"]


def post_sync_mapping(parts: dict) -> DataFrame:
    """The full mapping after a fold: untouched ∪ changed ∪ isolated
    (disjoint by construction)."""
    return (parts["untouched"].unionByName(parts["changed"])
            .unionByName(parts["isolated"]))


def incremental_canonical_parts(
    prev_mapping: DataFrame | None,
    new_edges: DataFrame,
    new_idents: DataFrame | None = None,
    src: str = "ident_a",
    dst: str = "ident_b",
) -> dict:
    """The pieces of ``incremental_canonical_mapping`` before the final
    union (``post_sync_mapping``), for callers that must avoid touching
    the O(history) part:

    - ``changed``: (ident, canonical_id) for every ident of an affected
      component or new edge — O(delta + touched membership) rows;
    - ``isolated``: brand-new edge-less idents self-mapped;
    - ``untouched``: prior rows passing through;
    - ``remaps``: distinct (old_canonical_id, new_canonical_id) merge log;
    - ``delta``: the rows a merge-on-read table appends: ``changed`` rows
      whose prior canon differs (diffed over touched components only),
      plus ``isolated``; ``n_delta`` and ``n_remaps`` count it and remaps.

    Tiers follow input size. If the prior mapping, the raw ``new_edges``
    and ``new_idents`` each fit ``DRIVER_PARTS_MAX_ROWS``, each is fetched
    once (``ckpt.collect_if_small``: the fetch is its size probe; prior
    mapping first, so big history falls through after one fetch) and the
    rest — pairs, endpoints, union-find, diff, counts — is Python at no
    Spark job. Otherwise the distributed plan shuffles O(delta), only
    probes the prior mapping, and counts ``delta`` and ``remaps`` on one
    checkpoint each. Tests assert both tiers agree.
    """
    spark = new_edges.sparkSession
    cap = DRIVER_PARTS_MAX_ROWS
    prev_rows = ([] if prev_mapping is None else
                 _rows_if_small(prev_mapping.select("ident", "canonical_id"),
                                cap))
    edge_rows = (_rows_if_small(new_edges.select(src, dst), cap)
                 if prev_rows is not None else None)
    ident_rows = None
    if edge_rows is not None:
        ident_rows = ([] if new_idents is None else _rows_if_small(
            new_idents.select(new_idents.columns[0]), cap))
    if ident_rows is not None:
        return _driver_incremental_parts(spark, prev_rows, edge_rows,
                                         ident_rows)

    e = (
        new_edges.select(F.col(src).alias("ident_a"), F.col(dst).alias("ident_b"))
        .where(F.col("ident_a") != F.col("ident_b"))
        .distinct()
    )
    # every RAW edge endpoint counts as observed — a self-loop (a, a)
    # contributes no CC edge but its vertex must still enter the mapping
    # (batch canonical_mapping self-maps it via all_idents)
    ni = (
        new_edges.select(F.col(src).alias("ident"))
        .unionByName(new_edges.select(F.col(dst).alias("ident")))
        .where(F.col("ident").isNotNull())  # a NULL endpoint must not self-map
        .distinct()
    )
    if new_idents is not None:
        ni = ni.unionByName(
            new_idents.select(F.col(new_idents.columns[0]).alias("ident"))
            .where(F.col("ident").isNotNull())
        ).distinct()
    if prev_mapping is None:
        # first fold: no history means no touched components, no stars, no
        # untouched pass-through and no remaps — short-circuit those to
        # empty literals instead of running ~5 provably-empty join/ckpt
        # jobs (driver-contract q93 pays this fold's fixed cost per bench)
        empty = spark.createDataFrame([], _MAPPING_SCHEMA)
        comps = connected_components(e)
        changed = _ckpt(
            comps.select("ident", F.col("component").alias("canonical_id")))
        iso = (
            ni.join(changed, on="ident", how="left_anti")
            .select("ident", F.col("ident").alias("canonical_id"))
        )
        delta = _ckpt(changed.unionByName(iso))
        return {"untouched": empty, "changed": changed, "isolated": iso,
                "remaps": spark.createDataFrame([], _REMAP_SCHEMA),
                "delta": delta, "n_delta": delta.count(), "n_remaps": 0}
    prev = prev_mapping.select("ident", "canonical_id")

    touched = (
        e.select(F.col("ident_a").alias("ident"))
        .unionByName(e.select(F.col("ident_b").alias("ident")))
        .distinct()
    )
    # every prior component with a member in a new edge, by FULL membership
    touched_canons = (
        prev.join(touched, on="ident", how="left_semi")
        .select("canonical_id").distinct()
    )
    affected_prev = prev.join(touched_canons, on="canonical_id", how="left_semi")
    affected_prev = _ckpt(affected_prev.select("ident", "canonical_id"))

    star = (
        affected_prev.where(F.col("ident") != F.col("canonical_id"))
        .select(F.col("ident").alias("ident_a"),
                F.col("canonical_id").alias("ident_b"))
    )
    comps = connected_components(e.unionByName(star))
    changed = _ckpt(
        comps.select("ident", F.col("component").alias("canonical_id")))

    untouched = prev.join(touched_canons, on="canonical_id", how="left_anti")
    # prev is only PROBED (left_semi joins keyed on the ident set — AQE
    # broadcasts the set when it is dictionary-scale and falls back to a
    # shuffle when a backfill-sized delta makes it corpus-scale; NO
    # explicit broadcast hint — a forced hint overrides AQE's size check
    # and OOMs the driver, the defect class tools/neardup_scale_probe.py
    # caught in plans/neardup.py). Keep prev on the LEFT of a semi join —
    # an anti join against prev as the build side would shuffle the whole
    # O(history) mapping (measured +~50% sync wall at 2M history rows).
    known = (
        prev.join(ni, on="ident", how="left_semi")
        .select("ident")
        .unionByName(
            changed.join(ni, on="ident", how="left_semi")
            .select("ident"))
    )
    iso = (
        ni.join(known, on="ident", how="left_anti")
        .select("ident", F.col("ident").alias("canonical_id"))
    )

    old = affected_prev.withColumnRenamed("canonical_id", "_old")
    remaps = _ckpt(
        changed.withColumnRenamed("canonical_id", "new_canonical_id")
        .join(old, on="ident")
        .where(F.col("_old") != F.col("new_canonical_id"))
        .select(F.col("_old").alias("old_canonical_id"), "new_canonical_id")
        .distinct()
    )
    # a changed row is new to the table unless its prior canon in the
    # affected set already matches (every prior row of a changed ident is
    # in the affected set)
    delta = _ckpt(
        changed.join(old, on="ident", how="left")
        .where(~F.col("_old").eqNullSafe(F.col("canonical_id")))
        .select("ident", "canonical_id").unionByName(iso)
    )
    return {"untouched": untouched.select("ident", "canonical_id"),
            "changed": changed, "isolated": iso, "remaps": remaps,
            "delta": delta, "n_delta": delta.count(),
            "n_remaps": remaps.count()}


_MAPPING_SCHEMA = "ident string, canonical_id string"
_REMAP_SCHEMA = "old_canonical_id string, new_canonical_id string"


def _rows_if_small(df: DataFrame, cap: int) -> list[tuple] | None:
    """``df``'s rows as tuples when it has at most ``cap`` rows (one
    truncated fetch), else None."""
    pdf = collect_if_small(df, cap)
    return None if pdf is None else list(pdf.itertuples(index=False,
                                                        name=None))


def _driver_incremental_parts(spark, prev_rows: list, edge_rows: list,
                              ident_rows: list) -> dict:
    """Driver-side rendition of ``incremental_canonical_parts`` over the
    fetched prior mapping, raw edge pairs and new idents. Semantics
    identical to the distributed path: union-find over {delta edges} ∪
    {stars of touched components} relabels exactly the affected idents;
    untouched rows pass through; brand-new edge-less idents self-map;
    remaps log (old -> new) for absorbed components."""

    def _df(rows, schema):
        if not rows:
            return spark.createDataFrame([], schema)
        # broadcast hint: ExistingRDD scans carry no stats (see
        # connected_components); every list here is <= DRIVER_PARTS_MAX_ROWS
        return F.broadcast(spark.createDataFrame(rows, schema))

    # the distributed path's filters: a NULL endpoint joins no pair and
    # self-maps nowhere; a self-loop is no CC edge but its vertex is seen
    e_pairs = sorted({(a, b) for a, b in edge_rows
                      if a is not None and b is not None and a != b})
    ni = ({x for pair in edge_rows for x in pair}
          | {i for (i,) in ident_rows}) - {None}
    prev_map = dict(prev_rows)
    touched = {x for pair in e_pairs for x in pair}
    touched_canons = {prev_map[i] for i in touched if i in prev_map}
    affected = {i: c for i, c in prev_rows if c in touched_canons}
    changed_map = _driver_union_find(
        e_pairs + [(i, c) for i, c in affected.items() if i != c])
    untouched = sorted((i, c) for i, c in prev_rows
                       if c not in touched_canons)
    known = prev_map.keys() | changed_map.keys()
    iso = sorted((i, i) for i in ni if i not in known)
    remaps = sorted({(c, changed_map[i]) for i, c in affected.items()
                     if changed_map[i] != c})
    delta = sorted((i, c) for i, c in changed_map.items()
                   if affected.get(i) != c) + iso
    return {
        "untouched": _df(untouched, _MAPPING_SCHEMA),
        "changed": _df(sorted(changed_map.items()), _MAPPING_SCHEMA),
        "isolated": _df(iso, _MAPPING_SCHEMA),
        "remaps": _df(remaps, _REMAP_SCHEMA),
        "delta": _df(delta, _MAPPING_SCHEMA),
        "n_delta": len(delta), "n_remaps": len(remaps),
    }


def apply_remaps(edges: DataFrame, remaps: DataFrame,
                 cols: tuple = ("subj", "obj")) -> DataFrame:
    """Patch canonical ids inside an edge table after a component merge:
    one broadcast join per remapped column against the (old -> new) log.
    The remap log is dictionary-scale (distinct merged canons), so the
    edge table itself never shuffles.

    The join is SINGLE-HOP: ``remaps`` must already map each old canon to
    its FINAL target. One sync's remaps satisfy this by construction
    (targets are that sync's final labels); a log accumulated ACROSS
    syncs can chain (old -> mid -> final) and must be resolved first —
    ``plans.canon.read_remap_log`` does exactly that. Passing a raw
    multi-sync concatenation here would strand rows on retired canons."""
    r = F.broadcast(remaps.select("old_canonical_id", "new_canonical_id"))
    out = edges
    for c in cols:
        out = (
            out.join(r, on=out[c] == r["old_canonical_id"], how="left")
            .withColumn(c, F.coalesce("new_canonical_id", F.col(c)))
            .drop("old_canonical_id", "new_canonical_id")
        )
    return out
