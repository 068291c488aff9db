"""Louvain modularity communities (reference get_louvain_partitions,
analytics.py:2793) + the modularity score."""

import pandas as pd
import pytest

from ckg_spark.operators import graph_algos as G


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        pd.DataFrame(pairs, columns=["subj", "obj"])
    )


@pytest.fixture(scope="module")
def two_cliques(spark):
    """Two K5 cliques joined by one bridge edge. Known optimum: the cliques,
    Q = 2 * (10/21 - (21/42)^2) = 0.452381."""
    nodes_a = [f"a{i}" for i in range(5)]
    nodes_b = [f"b{i}" for i in range(5)]
    pairs = []
    for ns in (nodes_a, nodes_b):
        for i in range(5):
            for j in range(i + 1, 5):
                pairs.append((ns[i], ns[j]))
    pairs.append(("a0", "b0"))
    return _edges_df(spark, pairs), nodes_a, nodes_b


def test_driver_louvain_two_cliques(spark, two_cliques):
    edges, na, nb = two_cliques
    part = {r["id"]: r["community"] for r in G.louvain(edges).collect()}
    assert len({part[n] for n in na}) == 1
    assert len({part[n] for n in nb}) == 1
    assert part[na[0]] != part[nb[0]]
    # community label = min member id
    assert part[na[0]] == "a0" and part[nb[0]] == "b0"


def test_modularity_known_value(spark, two_cliques):
    edges, na, nb = two_cliques
    part_df = G.louvain(edges)
    q = G.modularity(edges, part_df)
    assert abs(q - (2 * (10 / 21 - (21 / 42) ** 2))) < 1e-9
    # degenerate one-community partition scores 0
    from pyspark.sql import functions as F

    one = part_df.select("id", F.lit("c").alias("community"))
    assert abs(G.modularity(edges, one)) < 1e-9


def test_louvain_ring_of_triangles(spark):
    """Ring of 4 triangles, each linked to the next by one edge — Louvain
    groups each triangle (the textbook fixture)."""
    pairs = []
    for t in range(4):
        n = [f"t{t}_{i}" for i in range(3)]
        pairs += [(n[0], n[1]), (n[1], n[2]), (n[0], n[2])]
        pairs.append((n[2], f"t{(t + 1) % 4}_0"))
    edges = _edges_df(spark, pairs)
    part = {r["id"]: r["community"] for r in G.louvain(edges).collect()}
    for t in range(4):
        members = {part[f"t{t}_{i}"] for i in range(3)}
        assert len(members) == 1, (t, members)
    assert len(set(part.values())) == 4


def test_distributed_path_matches_driver(spark, two_cliques, monkeypatch):
    """A cap of 20, one below the fixture's 21 edges, sends them down the
    distributed move+contract path and admits the contracted graph
    (3 rows) to driver refinement; the partition (as a set of communities)
    must match the driver result."""
    edges, _, _ = two_cliques
    drv = {r["id"]: r["community"] for r in G.louvain(edges).collect()}
    monkeypatch.setattr(G, "DRIVER_LOUVAIN_MAX_EDGES", 20)
    dist = {r["id"]: r["community"] for r in G.louvain(edges).collect()}
    def groups(p):
        inv = {}
        for n, c in p.items():
            inv.setdefault(c, set()).add(n)
        return sorted(map(frozenset, inv.values()), key=min)
    assert groups(drv) == groups(dist)


def test_distributed_path_ring(spark, monkeypatch):
    pairs = []
    for t in range(6):
        n = [f"t{t}_{i}" for i in range(4)]
        for i in range(4):
            for j in range(i + 1, 4):
                pairs.append((n[i], n[j]))
        pairs.append((n[3], f"t{(t + 1) % 6}_0"))
    edges = _edges_df(spark, pairs)
    drv = G.louvain(edges)
    # 20: below the 42 edges, above the contracted graph (12 rows), so the
    # distributed path runs and its contraction is refined on the driver
    monkeypatch.setattr(G, "DRIVER_LOUVAIN_MAX_EDGES", 20)
    dist = G.louvain(edges)
    q_dist = G.modularity(edges, dist)
    q_drv = G.modularity(edges, drv)
    # distributed refinement must land within 5% of the sequential optimum
    assert q_dist >= q_drv - 0.05 * abs(q_drv), (q_dist, q_drv)


def test_louvain_beats_or_ties_lpa_on_modularity(spark, two_cliques):
    edges, _, _ = two_cliques
    from pyspark.sql import functions as F

    lpa = G.label_propagation(edges).select(
        "id", F.col("label").alias("community"))
    q_lpa = G.modularity(edges, lpa)
    q_lou = G.modularity(edges, G.louvain(edges))
    assert q_lou >= q_lpa - 1e-9


def test_weighted_louvain(spark):
    """Weights steer the partition: two squares tied by a HEAVY bridge merge
    when the bridge dominates."""
    pairs = [("a0", "a1", 1.0), ("a0", "a2", 1.0), ("a1", "a2", 1.0),
             ("b0", "b1", 1.0), ("b0", "b2", 1.0), ("b1", "b2", 1.0),
             ("a0", "b0", 50.0)]
    edges = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["subj", "obj", "weight"]))
    part = {r["id"]: r["community"]
            for r in G.louvain(edges, weight_col="weight").collect()}
    assert part["a0"] == part["b0"]


def test_get_network_communities_dispatch(spark, two_cliques):
    edges, na, nb = two_cliques
    lou = {r["id"]: r["community"]
           for r in G.get_network_communities(edges).collect()}
    assert lou[na[1]] == "a0" and lou[nb[1]] == "b0"
    lpa = G.get_network_communities(edges, algorithm="asyn_label_propagation")
    assert set(lpa.columns) == {"id", "community"}
    gn = {r["id"]: r["community"]
          for r in G.get_network_communities(
              edges, algorithm="girvan_newman").collect()}
    assert gn[na[1]] == "a0" and gn[nb[1]] == "b0"
    import pytest
    with pytest.raises(KeyError):
        G.get_network_communities(edges, algorithm="nope")


def test_louvain_empty_edges_distributed_path(spark, monkeypatch):
    """Forced-distributed path on an empty edge set returns an empty
    (id, community) frame instead of crashing on float(None) (round-3
    ADVICE item)."""
    e = spark.createDataFrame([], "subj string, obj string")
    monkeypatch.setattr(G, "DRIVER_LOUVAIN_MAX_EDGES", 0)
    out = G.louvain(e)
    assert out.columns == ["id", "community"]
    assert out.count() == 0


def test_louvain_contract_collect_guarded(spark, two_cliques, monkeypatch):
    """Round-3 verdict item 2: the post-contraction collect is probed with
    a truncated count. With a tiny cap the contracted graph (3 rows here)
    never reaches the driver — extra distributed levels run instead and
    the partition is still the two cliques."""
    edges, na, nb = two_cliques
    calls = []
    orig = G._driver_louvain

    def spy(pairs, **kw):
        calls.append(len(pairs))
        return orig(pairs, **kw)

    monkeypatch.setattr(G, "_driver_louvain", spy)
    monkeypatch.setattr(G, "DRIVER_LOUVAIN_MAX_EDGES", 2)
    part = {r["id"]: r["community"] for r in G.louvain(edges).collect()}
    assert all(c <= 2 for c in calls), calls  # nothing collected above cap
    assert len({part[n] for n in na}) == 1
    assert len({part[n] for n in nb}) == 1
    assert part[na[0]] != part[nb[0]]
    assert part[na[0]] == "a0" and part[nb[0]] == "b0"


def test_louvain_small_cap_with_refinement_matches_default(spark, two_cliques,
                                                          monkeypatch):
    """A cap that forces the distributed path but admits the contracted
    graph (3 rows <= 4) still runs driver refinement; result identical to
    the default path."""
    edges, na, nb = two_cliques
    base = {r["id"]: r["community"] for r in G.louvain(edges).collect()}
    monkeypatch.setattr(G, "DRIVER_LOUVAIN_MAX_EDGES", 4)
    capped = {r["id"]: r["community"] for r in G.louvain(edges).collect()}
    assert base == capped
