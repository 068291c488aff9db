"""Connected components: deterministic min-id labels vs union-find oracle."""

import random

from ckg_spark.operators.canonicalize import canonical_mapping, connected_components
from ckg_spark.vocab import _union_find_canonical


def _random_graph(seed, n=300, m=350):
    rng = random.Random(seed)
    ids = [f"N:{i:05d}" for i in range(n)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(m)]
    return ids, edges


def test_cc_matches_union_find(spark):
    ids, edges = _random_graph(3)
    exp = _union_find_canonical(ids, edges)
    df = spark.createDataFrame(edges, "ident_a string, ident_b string")
    got = {r["ident"]: r["component"] for r in connected_components(df).collect()}
    # CC output covers exactly the vertices touched by a non-self-loop edge
    verts = {v for a, b in edges if a != b for v in (a, b)}
    assert got.keys() == verts
    for v, c in got.items():
        assert c == exp[v], f"{v}: got {c} want {exp[v]}"


def test_cc_long_chain_converges(spark):
    # path graph of length 200 -> tests O(log d) pointer jumping convergence
    edges = [(f"C:{i:04d}", f"C:{i+1:04d}") for i in range(200)]
    df = spark.createDataFrame(edges, "ident_a string, ident_b string")
    got = connected_components(df, max_iter=12).collect()
    assert all(r["component"] == "C:0000" for r in got)
    assert len(got) == 201


def test_canonical_mapping_covers_singletons(spark, vocab, vocab_tables):
    all_idents = vocab_tables["aliases"].select("ident").distinct()
    cm = canonical_mapping(vocab_tables["identity_edges"], all_idents)
    got = {r["ident"]: r["canonical_id"] for r in cm.collect()}
    for ident, cid in got.items():
        assert cid == vocab.canonical.get(ident, ident)
    # every alias ident present
    assert set(got) == set(vocab.aliases["ident"])


def test_cc_medium_scale_with_mega_component(spark):
    """50k edges with one hub wired to 5k nodes (mega-component / hot-key
    shape): converges, matches union-find, bounded iterations."""
    import random

    rng = random.Random(17)
    ids = [f"M:{i:06d}" for i in range(20_000)]
    edges = [("M:000000", rng.choice(ids)) for _ in range(5_000)]
    edges += [(rng.choice(ids), rng.choice(ids)) for _ in range(45_000)]
    exp = _union_find_canonical(ids, edges)
    df = spark.createDataFrame(edges, "ident_a string, ident_b string")
    got = {r["ident"]: r["component"] for r in connected_components(df, max_iter=15).collect()}
    for v, c in got.items():
        assert c == exp[v]


def test_driver_and_distributed_cc_agree(spark, monkeypatch):
    import random
    from ckg_spark.operators import canonicalize as CN
    from ckg_spark.operators.canonicalize import connected_components
    rng = random.Random(5)
    # random graph with several components incl. a chain (tests jumping)
    edges = [(f"n{rng.randrange(80)}", f"n{rng.randrange(80)}") for _ in range(60)]
    edges += [(f"c{i}", f"c{i+1}") for i in range(20)]  # long chain
    df = spark.createDataFrame(edges, "ident_a string, ident_b string")
    fast = {(r["ident"], r["component"])
            for r in connected_components(df).collect()}
    monkeypatch.setattr(CN, "DRIVER_CC_MAX_EDGES", 0)
    dist = {(r["ident"], r["component"])
            for r in connected_components(df).collect()}
    assert fast == dist and len(fast) > 0
