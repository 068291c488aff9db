"""Node/edge materialization (SURVEY.md K1/K2, M5, M7).

Output schemas mirror the reference's import TSVs:
- nodes:  [ID, :LABEL, name, description, type, synonyms] written by
  write_entities (ckg/graphdb_builder/builder_utils.py:290-305 and
  ontologies/ontologies_controller.py:143) -> here a typed DataFrame
  (id, label, name, description, type, synonyms array<string>, source).
- edges:  [START_ID, END_ID, TYPE, source, score, evidence_type] — the
  jensenlabConfig.yml header; rows are the (subj, pred, obj) triples of the
  north rule. Mention edges follow textminingParser.py:96-120
  (MENTIONED_IN_PUBLICATION -> MENTIONED_IN_TURN, turn-scoped); co-mention
  edges follow the 2-hop publication join in
  report_manager/queries/datasets_cypher.yml:224-232; MAPS_TO follows
  efoParser.py:28-40 / cypher.yml:36-46.

Determinism: every dropDuplicates here is keyed on the full output tuple,
and scores are exact counts — identical at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

EDGE_COLUMNS = ["subj", "pred", "obj", "source", "score", "evidence_type"]


def turn_key(conv_col="conv_id", idx_col="turn_idx"):
    return F.concat_ws(":", F.col(conv_col), F.col(idx_col).cast("string"))


def canonicalize_linked(linked: DataFrame, canonical: DataFrame) -> DataFrame:
    """Rewrite linked-mention ids to canonical component ids (broadcast join)."""
    return (
        linked.join(F.broadcast(canonical), on="ident", how="left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "ident"))
    )


def mention_edges(linked_canon: DataFrame) -> DataFrame:
    """(entity)-[MENTIONED_IN_TURN]->(turn), score = occurrences in the turn.

    Groups on the RAW (conv_id, turn_idx) columns — not the derived
    turn_key() string — so an upstream hashpartitioning on (conv_id,
    turn_idx) (bench/pipeline repartition) satisfies the aggregation's
    required distribution and Catalyst elides the exchange entirely; the
    turn-key string is assembled after the aggregation (injective for int
    turn_idx, so the grouping is row-identical)."""
    return (
        linked_canon.groupBy(
            F.col("canonical_id").alias("subj"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.col("entity_type").alias("evidence_type"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("score"))
        .select(
            "subj",
            F.lit("MENTIONED_IN_TURN").alias("pred"),
            turn_key().alias("obj"),
            F.lit("tagger").alias("source"),
            "score",
            "evidence_type",
        )
    )


def comention_edges(linked_canon: DataFrame) -> DataFrame:
    """(e1)-[CO_MENTIONED_WITH]->(e2), e1 < e2, score = #turns co-mentioning.

    Implementation: per-turn sorted entity set (collect_set — distinct per
    turn for free), then ``_comention_from_sets``. This replaces a
    turn-keyed self-join (two shuffles of the full mention stream +
    countDistinct) with one groupBy + one count.
    """
    sets = (
        linked_canon.select("conv_id", "turn_idx", F.col("canonical_id").alias("e"))
        .groupBy("conv_id", "turn_idx")  # raw cols: upstream (conv,turn)
        .agg(F.sort_array(F.collect_set("e")).alias("es"))  # partitioning reused
    )
    return _comention_from_sets(sets)


def _comention_from_sets(sets: DataFrame) -> DataFrame:
    """CO_MENTIONED_WITH edges from per-turn sorted entity sets (column
    ``es``, one row per turn). The pair expansion is a JVM nested
    transform over the sorted array (k entities -> C(k,2) pairs, k is
    mentions-per-turn so tiny), then one pair-count aggregation. The
    sorted array gives the symmetric-pair (a < b) ordering directly (the
    Spark form of the reference's stored.add((a,b)); stored.add((b,a))
    dedup at stringParser.py:54-57). Shared by the batch edges and the
    merge-on-read view (``plans.canon.read_graph_edges``)."""
    pairs = sets.where(F.size("es") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(es)-1), "
                "i -> transform(sequence(0, i-1), "
                "j -> named_struct('subj', es[j], 'obj', es[i]))))"
            )
        ).alias("p")
    ).select(F.col("p.subj").alias("subj"), F.col("p.obj").alias("obj"))
    return (
        pairs.groupBy("subj", "obj")
        .agg(F.count(F.lit(1)).cast("double").alias("score"))
        .select(
            "subj",
            F.lit("CO_MENTIONED_WITH").alias("pred"),
            "obj",
            F.lit("tagger").alias("source"),
            "score",
            F.lit("co_occurrence").alias("evidence_type"),
        )
    )


def maps_to_edges(canonical: DataFrame) -> DataFrame:
    """(ident)-[MAPS_TO]->(canonical_id) for merged idents."""
    return (
        canonical.where(F.col("ident") != F.col("canonical_id"))
        .select(
            F.col("ident").alias("subj"),
            F.lit("MAPS_TO").alias("pred"),
            F.col("canonical_id").alias("obj"),
            F.lit("canonicalization").alias("source"),
            F.lit(1.0).alias("score"),
            F.lit("identity").alias("evidence_type"),
        )
    )


def parent_edges(parent_rels: DataFrame, canonical: DataFrame) -> DataFrame:
    """HAS_PARENT edges rewritten onto canonical ids."""
    c1 = canonical.withColumnRenamed("ident", "start_id").withColumnRenamed(
        "canonical_id", "c_start"
    )
    c2 = canonical.withColumnRenamed("ident", "end_id").withColumnRenamed(
        "canonical_id", "c_end"
    )
    return (
        parent_rels.join(F.broadcast(c1), on="start_id", how="left")
        .join(F.broadcast(c2), on="end_id", how="left")
        .select(
            F.coalesce("c_start", "start_id").alias("subj"),
            F.lit("HAS_PARENT").alias("pred"),
            F.coalesce("c_end", "end_id").alias("obj"),
            F.lit("ontology").alias("source"),
            F.lit(1.0).alias("score"),
            F.lit("hierarchy").alias("evidence_type"),
        )
        .where(F.col("subj") != F.col("obj"))
        .dropDuplicates(["subj", "obj"])
    )


def materialize_edges(
    linked_canon: DataFrame,
    canonical: DataFrame,
    parent_rels: DataFrame | None = None,
) -> DataFrame:
    e = mention_edges(linked_canon).unionByName(comention_edges(linked_canon))
    e = e.unionByName(maps_to_edges(canonical))
    if parent_rels is not None:
        e = e.unionByName(parent_edges(parent_rels, canonical))
    return e.dropDuplicates(["subj", "pred", "obj", "source"])


def materialize_nodes(terms: DataFrame, canonical: DataFrame,
                      include_retired: bool = False) -> DataFrame:
    """One node per canonical id; attributes from the min member id
    (deterministic MERGE-on-id analog of cypher.yml:25-27), synonyms =
    union of all member names/synonyms.

    ``include_retired``: also emit one node per merged-away ident (type
    'alias', source 'canonicalization'). The default collapses merged
    idents into their canonical node, which leaves MAPS_TO edge SUBJECTS
    dangling relative to the node table — fine for query engines that
    resolve them through the mapping, but a referential-integrity
    violation for a strict bulk loader (neo4j-admin import rejects edges
    whose endpoints are absent; CKG materializes BOTH ontologies' node
    files so its mapping endpoints always exist). Flag, not default: the
    collapsed form is the benchmarked/P-R-attested output shape.
    Found by running operators/kg_qa.py::schema_violations over the
    pipeline's own emitted graph."""
    t = terms.join(
        F.broadcast(canonical.withColumnRenamed("ident", "id")), on="id", how="left"
    ).withColumn("canonical_id", F.coalesce("canonical_id", "id"))

    w = Window.partitionBy("canonical_id").orderBy(F.col("id").asc())
    ranked = t.withColumn("_rn", F.row_number().over(w))

    attrs = ranked.where(F.col("_rn") == 1).select(
        F.col("canonical_id").alias("id"),
        "label",
        "name",
        "description",
        "type",
    )
    syns = (
        t.select(
            "canonical_id",
            F.explode(
                F.array_union(F.coalesce("synonyms", F.array()), F.array("name"))
            ).alias("syn"),
        )
        .groupBy("canonical_id")
        .agg(F.sort_array(F.collect_set("syn")).alias("synonyms"))
        .withColumnRenamed("canonical_id", "id")
    )
    out = (
        attrs.join(syns, on="id", how="left")
        .withColumn("source", F.lit("ontology"))
        .select("id", "label", "name", "description", "type", "synonyms", "source")
    )
    if include_retired:
        # Start from the mapping, not terms: cross-ontology idents (the
        # efoParser-style external ids) appear only as identity-edge
        # endpoints and have no term row — fall back to id-derived
        # attributes so the node still materializes.
        retired = (
            canonical.where(F.col("ident") != F.col("canonical_id"))
            .select(F.col("ident").alias("id")).distinct()
            .join(F.broadcast(terms), on="id", how="left")
            .select(
                "id",
                F.coalesce("label", F.lit("External")).alias("label"),
                F.coalesce("name", F.col("id")).alias("name"),
                "description",
                F.lit("alias").alias("type"),
                F.sort_array(F.array_union(
                    F.coalesce("synonyms", F.array()),
                    F.array(F.coalesce("name", F.col("id")))))
                .alias("synonyms"),
                F.lit("canonicalization").alias("source"))
        )
        out = out.unionByName(retired)
    return out


def merge_edges_snapshot(spark, table_dir: str, new_edges: DataFrame) -> DataFrame:
    """Snapshot-committed MERGE of new triples into an edge table backed by
    ``plans.table`` (the reference's Cypher MERGE, cypher.yml:16-34, in its
    Iceberg MERGE INTO shape): read the latest snapshot, keep the
    highest-score row per (subj, pred, obj, source) — mention re-extraction
    refreshes counts — and commit the result as a NEW snapshot, so every
    merge stays time-travelable and a bad load is a ``table.rollback``
    instead of a restore-from-backup."""
    from ..plans import table as T

    if T.current_version(table_dir) is not None:
        allrows = T.read(spark, table_dir).unionByName(new_edges)
    else:
        allrows = new_edges
    key = ["subj", "pred", "obj", "source"]
    w = Window.partitionBy(*key).orderBy(F.col("score").desc(),
                                         F.col("evidence_type").asc())
    merged = (allrows.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn"))
    T.overwrite(merged, table_dir)
    return T.read(spark, table_dir)


def cooccurrence_score_edges(pairs: DataFrame,
                             a_col: str = "term_a", b_col: str = "term_b",
                             count_col: str = "n",
                             alpha: float = 0.6) -> DataFrame:
    """STRING/Jensen-lab textmining co-occurrence scores from pair counts.

    The reference INGESTS pre-scored Jensen-lab files (textminingParser.py
    reads the score column straight out of the TSVs); the published
    formula behind those scores (Franceschini et al. 2013, STRING v9.1) is

        s(a,b) = C(a,b)^alpha * (C(a,b) * C(..) / (C(a.) * C(.b)))^(1-alpha)

    with C(a,b) the pair's co-occurrence weight, C(a.) its row marginal
    and C(..) the grand total — a weighted geometric mix of raw count and
    observed/expected ratio (alpha = 0.6 in the paper). Implementing it
    over the engine's own co-mention counts turns ingested scores into
    DERIVED ones, closing the loop from transcripts to weighted
    ASSOCIATED_WITH evidence.

    ``pairs``: (a_col, b_col, count_col) aggregated pair counts (one row
    per unordered pair, a < b, as comention_edges/q23 emit). Scale shape:
    marginals are ONE map-side-combined aggregation over the exploded
    pair list (entity-scale result -> broadcast back), the grand total a
    1-row broadcast; the pair stream itself never shuffles. Scores are
    rounded to 6 decimals (house oracle-parity convention for
    transcendentals).
    """
    c = F.col(count_col).cast("double")
    tot = pairs.agg(F.sum(c).alias("_N"))
    marg = (pairs.select(F.col(a_col).alias("id"), c.alias("_c"))
            .unionAll(pairs.select(F.col(b_col).alias("id"), c.alias("_c")))
            .groupBy("id").agg(F.sum("_c").alias("_m")))
    return (
        pairs
        .join(F.broadcast(marg.select(F.col("id").alias(a_col),
                                      F.col("_m").alias("_ma"))), on=a_col)
        .join(F.broadcast(marg.select(F.col("id").alias(b_col),
                                      F.col("_m").alias("_mb"))), on=b_col)
        .crossJoin(F.broadcast(tot))
        .select(
            a_col, b_col, count_col,
            F.round(
                F.pow(c, F.lit(float(alpha)))
                * F.pow(c * F.col("_N") / (F.col("_ma") * F.col("_mb")),
                        F.lit(1.0 - float(alpha))),
                6).alias("score"))
    )
