"""Knowledge-graph summarization (SURVEY.md §3.3).

Reference: report_manager/knowledge.py:501-530 builds an nx.DiGraph, ranks
nodes by betweenness/closeness/pagerank/degree, keeps the top-15 and drops
isolates; reduce_to_subgraph (knowledge.py:534-551) cuts the graph to a seed
set + 1 hop. Here degree, ranking and the subgraph cut are DataFrame-native
(aggregates, a window, a semi-join). PageRank comes from
operators/graph_algos, which iterates dictionary-scale graphs (at most
``DRIVER_PAGERANK_MAX_EDGES`` edges) in numpy on the driver, as the
reference does, and larger ones as distributed joins.

Also ``run_post_query``: the reference's two-phase "post" queries splice a
phase-1 result column into a phase-2 Cypher IN-list as a string
(report_manager/dataset.py:206-220). The Spark form is simply a join
between the phase-1 DataFrame and the edge table — no string splicing,
no literal-size limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.graph_algos import degrees, pagerank, personalized_pagerank


def knowledge_summary(edges: DataFrame, k: int = 15,
                      method: str = "pagerank",
                      seeds: DataFrame | None = None) -> DataFrame:
    """Top-k central entities with rank + degree columns.

    method: 'pagerank' (power iteration), 'degree', 'betweenness',
    'closeness', or 'personalized' (requires ``seeds``: rank by relevance
    TO the seed entities — seed-teleport PageRank). Ties broken by id —
    deterministic at any parallelism.

    Note: on a mention-only edge set, PageRank concentrates on turn nodes
    (pure sinks). To rank ENTITIES, pass the co-mention subgraph
    (edges.where(pred == 'CO_MENTIONED_WITH')) or use method='degree'.
    """
    deg = degrees(edges)
    if method in ("pagerank", "personalized"):
        if method == "personalized":
            if seeds is None:
                raise ValueError("method='personalized' requires seeds")
            pr = personalized_pagerank(edges, seeds, iters=10)
        else:
            pr = pagerank(edges, iters=10)
        scored = deg.join(pr, on="id", how="left").withColumn(
            "centrality", F.coalesce("rank", F.lit(0.0))
        )
    elif method == "degree":
        scored = deg.withColumn("centrality", F.col("degree").cast("double"))
    elif method in ("betweenness", "closeness"):
        from ..operators.centrality import (
            betweenness_centrality, closeness_centrality)

        if method == "betweenness":
            # reference samples sources above 15k nodes (knowledge.py:510-511)
            n_nodes = deg.count()
            c = betweenness_centrality(
                edges, n_samples=15000 if n_nodes >= 15000 else None)
            c = c.withColumnRenamed("betweenness", "centrality")
        else:
            c = closeness_centrality(edges).withColumnRenamed(
                "closeness", "centrality")
        scored = deg.join(c, on="id", how="left").withColumn(
            "centrality", F.coalesce("centrality", F.lit(0.0)))
    else:
        raise ValueError(f"unknown centrality method: {method}")
    return (
        scored.where(F.col("degree") > 0)  # drop isolates (knowledge.py:527)
        .orderBy(F.col("centrality").desc(), F.col("id").asc())
        .limit(k)
        .select("id", "centrality", "degree", "out_degree", "in_degree")
    )


def reduce_to_subgraph(edges: DataFrame, seeds: DataFrame,
                       hops: int = 1) -> DataFrame:
    """Edges induced by the seed set expanded ``hops`` out (semi-join cut;
    knowledge.py:534-551 analog)."""
    from ..operators.graph_algos import k_hop

    verts = k_hop(edges, seeds, hops=hops).select("id")
    return (
        edges.join(verts.withColumnRenamed("id", "subj"), on="subj", how="left_semi")
        .join(verts.withColumnRenamed("id", "obj"), on="obj", how="left_semi")
        .select(*edges.columns)
    )


def run_post_query(phase1: DataFrame, edges: DataFrame, key_col: str,
                   edge_side: str = "subj") -> DataFrame:
    """Phase-2 expansion: join phase-1 ids against the edge table (the
    IN-list splicing replacement)."""
    keys = phase1.select(F.col(key_col).alias(edge_side)).distinct()
    return edges.join(keys, on=edge_side, how="left_semi")
