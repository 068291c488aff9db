"""KG quality assurance: schema validation, negative sampling, triangles."""

import pytest
from pyspark.sql import functions as F

from ckg_spark.operators.kg_qa import (
    schema_violations, violation_summary, negative_triples, _md5_32)
from ckg_spark.operators.graph_algos import triangle_counts


# ---------------------------------------------------------------------------
# schema_violations
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def typed_graph(spark):
    nodes = spark.createDataFrame(
        [("a1", "drug"), ("a2", "drug"), ("p1", "protein"), ("p2", "protein"),
         ("d1", "disease")], ["id", "type"])
    rules = spark.createDataFrame(
        [("TARGETS", "drug", "protein"),
         ("ASSOCIATED_WITH", "protein", "disease")],
        ["pred", "subj_type", "obj_type"])
    edges = spark.createDataFrame(
        [("a1", "TARGETS", "p1"),          # valid
         ("p1", "ASSOCIATED_WITH", "d1"),  # valid
         ("a1", "TARGETS", "d1"),          # domain_range (drug->disease)
         ("ghost", "TARGETS", "p1"),       # unknown_subj
         ("a2", "TARGETS", "ghost2"),      # unknown_obj
         ("ghost", "TARGETS", "ghost2")],  # unknown_subj wins (fixed order)
        ["subj", "pred", "obj"])
    return nodes, rules, edges


def test_schema_violations_classes_and_order(spark, typed_graph):
    nodes, rules, edges = typed_graph
    got = {(r.subj, r.obj): r.violation
           for r in schema_violations(edges, nodes, rules).collect()}
    assert got == {
        ("a1", "d1"): "domain_range",
        ("ghost", "p1"): "unknown_subj",
        ("a2", "ghost2"): "unknown_obj",
        ("ghost", "ghost2"): "unknown_subj",
    }


def test_schema_violations_valid_edges_pass(spark, typed_graph):
    nodes, rules, edges = typed_graph
    viol = schema_violations(edges, nodes, rules)
    assert viol.count() == 4 and edges.count() == 6


def test_violation_summary_counts(spark, typed_graph):
    nodes, rules, edges = typed_graph
    s = {(r.pred, r.violation, r.subj_type, r.obj_type):
         (r.n_edges, r.n_subjects)
         for r in violation_summary(
             schema_violations(edges, nodes, rules)).collect()}
    assert s[("TARGETS", "unknown_subj", None, "protein")] == (1, 1)
    assert s[("TARGETS", "unknown_subj", None, None)] == (1, 1)
    assert s[("TARGETS", "unknown_obj", "drug", None)] == (1, 1)
    assert s[("TARGETS", "domain_range", "drug", "disease")] == (1, 1)
    assert len(s) == 4


def test_schema_violations_broadcast_only_plan(spark, typed_graph):
    """The edge stream must not shuffle: every join is a BroadcastHashJoin
    and the plan has no Exchange hashpartitioning of the edges."""
    nodes, rules, edges = typed_graph
    plan = schema_violations(edges, nodes, rules)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------------------
# negative_triples
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def pos_and_pool(spark):
    positives = spark.createDataFrame(
        [("s1", "R", "e1"), ("s1", "R", "e2"), ("s2", "R", "e3")],
        ["subj", "pred", "obj"])
    entities = spark.createDataFrame(
        [(f"e{i}",) for i in range(1, 9)] + [("s1",), ("s2",)], ["id"])
    return positives, entities


def test_negative_triples_deterministic_and_filtered(spark, pos_and_pool):
    positives, entities = pos_and_pool
    out1 = sorted(map(tuple, negative_triples(
        positives, entities, k=4, seed="t").collect()))
    out2 = sorted(map(tuple, negative_triples(
        positives.repartition(7), entities.repartition(3), k=4,
        seed="t").collect()))
    assert out1 == out2 and len(out1) > 0
    pos = {(r.subj, r.pred, r.obj) for r in positives.collect()}
    for subj, pred, obj, neg_idx, obj_neg in out1:
        assert (subj, pred, obj) in pos          # keyed to a real positive
        assert (subj, pred, obj_neg) not in pos  # no accidental positive
        assert obj_neg != subj                   # exclude_self
        assert 0 <= neg_idx < 4


def test_negative_triples_matches_manual_md5_draw(spark, pos_and_pool):
    """The draw is the documented md5 arithmetic — recompute it in Python."""
    import hashlib
    positives, entities = pos_and_pool
    pool = sorted(r.id for r in entities.select("id").distinct().collect())
    n = len(pool)
    expected = set()
    pos = {(r.subj, r.pred, r.obj) for r in positives.collect()}
    for (s, p, o) in pos:
        for i in range(3):
            h = int(hashlib.md5(f"neg:{s}:{p}:{o}:{i}".encode())
                    .hexdigest()[:8], 16)
            cand = pool[h % n]
            if cand != s and (s, p, cand) not in pos:
                expected.add((s, p, o, i, cand))
    got = {tuple(r) for r in negative_triples(
        positives, entities, k=3, seed="neg").collect()}
    assert got == expected


def test_negative_triples_seed_independence(spark, pos_and_pool):
    positives, entities = pos_and_pool
    a = {tuple(r) for r in negative_triples(
        positives, entities, k=6, seed="a").collect()}
    b = {tuple(r) for r in negative_triples(
        positives, entities, k=6, seed="b").collect()}
    assert {t[4] for t in a} != {t[4] for t in b} or a != b


# ---------------------------------------------------------------------------
# triangle_counts
# ---------------------------------------------------------------------------

def test_triangle_counts_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, 3 per node) + pendant 5 + separate
    # triangle {6,7,8}; directions/dups/self-loops must be ignored.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 5), (3, 2), (2, 3),
         (6, 7), (8, 7), (6, 8)], ["subj", "obj"])
    got = {r.id: r.triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}


def test_triangle_counts_triangle_free(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], ["subj", "obj"])  # C4
    assert triangle_counts(edges).count() == 0


def test_triangle_counts_hot_node_star(spark):
    # A 60-leaf star plus one rim edge: exactly 1 triangle. The hot hub
    # must orient OUTWARD only for the rim pair (hub has max degree), so
    # the wedge explosion is bounded by leaf out-degrees.
    rows = [(0, i) for i in range(1, 61)] + [(1, 2)]
    edges = spark.createDataFrame(rows, ["subj", "obj"])
    got = {r.id: r.triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_triangle_counts_matches_bruteforce(spark):
    # Deterministic pseudo-random graph vs itertools brute force.
    import itertools
    rows = sorted({(min((i * 7 + 1) % 30, (i * 13 + 5) % 30),
                    max((i * 7 + 1) % 30, (i * 13 + 5) % 30))
                   for i in range(120)})
    rows = [r for r in rows if r[0] != r[1]]
    edges = spark.createDataFrame(rows, ["subj", "obj"])
    es = set(rows)
    nodes = sorted({x for e in rows for x in e})
    expect = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            for x in (a, b, c):
                expect[x] = expect.get(x, 0) + 1
    got = {r.id: r.triangles for r in triangle_counts(edges).collect()}
    assert got == expect


def test_md5_32_nonnegative_range(spark):
    df = spark.range(50).select(
        _md5_32(F.col("id").cast("string")).alias("h"))
    mn, mx = df.agg(F.min("h"), F.max("h")).first()
    assert 0 <= mn and mx < 2 ** 32


# ---------------------------------------------------------------------------
# include_retired closes the MAPS_TO referential gap the validator found
# ---------------------------------------------------------------------------

def test_materialize_nodes_include_retired_closes_maps_to(spark, vocab_tables):
    from ckg_spark.operators.canonicalize import canonical_mapping
    from ckg_spark.operators.materialize import materialize_nodes, maps_to_edges

    canon = canonical_mapping(
        vocab_tables["identity_edges"],
        vocab_tables["aliases"].select("ident").distinct(),
    )
    maps_to = maps_to_edges(canon)
    assert maps_to.count() > 0  # fixture must exercise the merge path

    default = materialize_nodes(vocab_tables["terms"], canon)
    dangling = maps_to.join(
        default.select(F.col("id").alias("subj")), "subj", "left_anti")
    assert dangling.count() == maps_to.count()  # documented default gap

    full = materialize_nodes(vocab_tables["terms"], canon, include_retired=True)
    closed = maps_to.join(
        full.select(F.col("id").alias("subj")), "subj", "left_anti")
    assert closed.count() == 0  # strict-loader form: no dangling endpoint
    # retired nodes are additive and typed; canonical set is unchanged
    retired = full.subtract(default)
    assert retired.count() == full.count() - default.count() > 0
    assert {r.type for r in retired.select("type").distinct().collect()} == {"alias"}
    assert full.count() == default.count() + maps_to.select("subj").distinct().count()


# ---------------------------------------------------------------------------
# mention_contexts (entity-linking training windows)
# ---------------------------------------------------------------------------

def test_mention_contexts_hand_computed(spark):
    from ckg_spark.operators.extract import mention_contexts

    docs = spark.createDataFrame(
        [(1, "Alpha beta GAMMA delta epsilon"),   # mid-string mention
         (2, "gamma at the start"),               # left_ctx empty
         (3, "ends with gamma"),                  # right_ctx empty
         (4, "x gamma y gamma z")],               # first occurrence only
        ["doc_id", "text"])
    mentions = spark.createDataFrame(
        [(1, "gamma"), (2, "gamma"), (3, "gamma"), (4, "gamma"),
         (1, "beta")], ["doc_id", "term"])
    got = {(r.doc_id, r.term): (r.left_ctx, r.right_ctx)
           for r in mention_contexts(mentions, docs, window_chars=8).collect()}
    # normalized doc 1: "alpha beta gamma delta epsilon"
    assert got[(1, "gamma")] == ("pha beta", "delta ep")
    assert got[(1, "beta")] == (" alpha", "gamma de")
    assert got[(2, "gamma")] == ("", "at the s")
    assert got[(3, "gamma")] == ("nds with", "")
    assert got[(4, "gamma")] == (" x", "y gamma ")


def test_mention_contexts_parallelism_invariant(spark):
    from ckg_spark.operators.extract import mention_contexts

    docs = spark.createDataFrame(
        [(i, f"tok{i} filler gamma tail{i} more words here") for i in range(40)],
        ["doc_id", "text"])
    mentions = spark.createDataFrame([(i, "gamma") for i in range(40)],
                                     ["doc_id", "term"])
    a = sorted(map(tuple, mention_contexts(mentions, docs, 12).collect()))
    b = sorted(map(tuple, mention_contexts(
        mentions.repartition(7), docs.repartition(5), 12).collect()))
    assert a == b and len(a) == 40


def test_clustering_coefficients(spark):
    from ckg_spark.operators.graph_algos import clustering_coefficients

    # K4 (lcc 1.0 each) bridged to a path node 5 (deg 1 -> 0.0), and node
    # 4's extra neighbor makes its lcc 3 triangles / C(4,2) = 0.5.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        ["subj", "obj"])
    got = {r.id: (r.degree, r.triangles, r.lcc)
           for r in clustering_coefficients(edges).collect()}
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 3, 1.0)
    assert got[3] == (3, 3, 1.0)
    assert got[4] == (4, 3, 0.5)
    assert got[5] == (1, 0, 0.0)


def test_cooccurrence_score_edges_hand_computed(spark):
    from ckg_spark.operators.materialize import cooccurrence_score_edges

    pairs = spark.createDataFrame(
        [("a", "b", 6), ("a", "c", 2), ("b", "c", 2)],
        ["term_a", "term_b", "n"])
    got = {(r.term_a, r.term_b): r.score
           for r in cooccurrence_score_edges(pairs).collect()}
    N, ma, mb, mc = 10.0, 8.0, 8.0, 4.0
    exp = {
        ("a", "b"): round(6 ** 0.6 * (6 * N / (ma * mb)) ** 0.4, 6),
        ("a", "c"): round(2 ** 0.6 * (2 * N / (ma * mc)) ** 0.4, 6),
        ("b", "c"): round(2 ** 0.6 * (2 * N / (mb * mc)) ** 0.4, 6),
    }
    assert got == exp
    # ratio leg: equal counts, rarer endpoints score HIGHER than expected
    # under independence — the formula's point
    assert got[("a", "c")] == got[("b", "c")]
    assert got[("a", "b")] > got[("a", "c")]


def test_link_best_by_embedding_picks_context_match(spark):
    from ckg_spark.operators.link import link_best_by_embedding

    # candidate 'e_x' points along axis x, 'e_y' along y; mention in doc 1
    # has an x-ish context, doc 2 a y-ish context. Rank-based linking
    # cannot separate them; the embedding scorer must.
    cands = spark.createDataFrame(
        [(1, "jaguar", "e_x"), (1, "jaguar", "e_y"),
         (2, "jaguar", "e_x"), (2, "jaguar", "e_y")],
        ["doc_id", "alias_lc", "ident"])
    mvecs = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.2, 0.8])],
        ["doc_id", "embedding"])
    evecs = spark.createDataFrame(
        [("e_x", [1.0, 0.0]), ("e_y", [0.0, 1.0])],
        ["ident", "embedding"])
    got = {r.doc_id: (r.ident, r.cosine)
           for r in link_best_by_embedding(cands, mvecs, evecs).collect()}
    assert got[1][0] == "e_x" and got[2][0] == "e_y"
    import math
    assert got[1][1] == round(0.9 / math.hypot(0.9, 0.1), 6)


def test_link_best_by_embedding_tie_breaks_on_ident(spark):
    from ckg_spark.operators.link import link_best_by_embedding

    cands = spark.createDataFrame(
        [(1, "m", "b_ent"), (1, "m", "a_ent")], ["doc_id", "alias_lc", "ident"])
    mvecs = spark.createDataFrame([(1, [1.0, 1.0])], ["doc_id", "embedding"])
    evecs = spark.createDataFrame(
        [("a_ent", [2.0, 2.0]), ("b_ent", [2.0, 2.0])],  # bit-identical cosine
        ["ident", "embedding"])
    out = link_best_by_embedding(cands, mvecs, evecs).collect()
    assert len(out) == 1 and out[0].ident == "a_ent"


# ---------------------------------------------------------------------------
# personalized_pagerank
# ---------------------------------------------------------------------------

def _numpy_ppr(edge_list, seeds, iters=10, d=0.85):
    """Independent dense power iteration with the same update rule."""
    import numpy as np
    nodes = sorted({x for e in edge_list for x in e})
    ix = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    odeg = {}
    for a, _ in edge_list:
        odeg[a] = odeg.get(a, 0) + 1
    t = np.zeros(n)
    for s in seeds:
        t[ix[s]] = 1.0 / len(seeds)
    r = t.copy()
    for _ in range(iters):
        inflow = np.zeros(n)
        for a, b in edge_list:
            inflow[ix[b]] += r[ix[a]] / odeg[a]
        dangling = sum(r[ix[v]] for v in nodes if v not in odeg)
        r = (1 - d) * t + d * (inflow + dangling * t)
    return {nodes[i]: r[i] for i in range(n)}


def test_personalized_pagerank_matches_numpy(spark, monkeypatch):
    """Both tiers (numpy on the driver, and the distributed loop with the
    driver cap at 0) match the replica to 1e-12; a seed outside the graph
    (zzz) is ignored."""
    from ckg_spark.operators import graph_algos as G

    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
                 ("d", "e"), ("x", "y")]  # e, y dangling; x/y off-seed
    edges = spark.createDataFrame(edge_list, ["subj", "obj"])
    for seed_ids in (["a"], ["a", "x"], ["c", "zzz"]):
        seeds = spark.createDataFrame([(s,) for s in seed_ids], ["id"])
        exp = _numpy_ppr(edge_list, [s for s in seed_ids if s != "zzz"],
                         iters=10)
        for cap in (G.DRIVER_PAGERANK_MAX_EDGES, 0):
            monkeypatch.setattr(G, "DRIVER_PAGERANK_MAX_EDGES", cap)
            got = {r.id: r.rank
                   for r in G.personalized_pagerank(edges, seeds,
                                                    iters=10).collect()}
            assert set(got) == set(exp)
            for k in exp:
                assert abs(got[k] - exp[k]) < 1e-12, (k, got[k], exp[k])
            # defining property: the component unreachable from the seeds
            # is 0
            if "x" not in seed_ids:
                assert got["x"] == 0.0 and got["y"] == 0.0
            assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_personalized_pagerank_empty_seed_overlap(spark, monkeypatch):
    from ckg_spark.operators import graph_algos as G

    edges = spark.createDataFrame([("a", "b")], ["subj", "obj"])
    seeds = spark.createDataFrame([("zzz",)], ["id"])  # not in graph
    for cap in (G.DRIVER_PAGERANK_MAX_EDGES, 0):
        monkeypatch.setattr(G, "DRIVER_PAGERANK_MAX_EDGES", cap)
        got = G.personalized_pagerank(edges, seeds).collect()
        assert {r.rank for r in got} == {0.0}


def test_personalized_pagerank_bigint_and_empty_both_tiers(spark,
                                                           monkeypatch):
    from pyspark.sql.types import LongType

    from ckg_spark.operators import graph_algos as G

    edge_list = [(100, 200), (200, 300), (300, 100), (300, 400)]
    edges = spark.createDataFrame(edge_list, "subj bigint, obj bigint")
    empty = spark.createDataFrame([], "subj bigint, obj bigint")
    seeds = spark.createDataFrame([(100,), (999,), (None,)], "id bigint")
    exp = _numpy_ppr(edge_list, [100])
    for cap in (G.DRIVER_PAGERANK_MAX_EDGES, 0):
        monkeypatch.setattr(G, "DRIVER_PAGERANK_MAX_EDGES", cap)
        out = G.personalized_pagerank(edges, seeds)
        assert out.schema["id"].dataType == LongType()
        got = {r.id: r.rank for r in out.collect()}
        assert set(got) == set(exp)
        for k in exp:
            assert abs(got[k] - exp[k]) < 1e-12, (k, got[k], exp[k])
        assert G.personalized_pagerank(empty, seeds).collect() == []


def test_knowledge_summary_personalized_ranks_near_seed(spark):
    from ckg_spark.queries.knowledge import knowledge_summary

    # two symmetric cliques bridged by one edge: global centrality cannot
    # separate them, relevance to a seed in clique A must.
    ca = [("a1", "a2"), ("a2", "a3"), ("a3", "a1")]
    cb = [("b1", "b2"), ("b2", "b3"), ("b3", "b1")]
    bridge = [("a1", "b1")]
    edges = spark.createDataFrame(
        [(x, y) for x, y in ca + cb + bridge]
        + [(y, x) for x, y in ca + cb + bridge], ["subj", "obj"])
    seeds = spark.createDataFrame([("a2",)], ["id"])
    top = knowledge_summary(edges, k=6, method="personalized", seeds=seeds)
    rows = top.collect()
    rank = {r.id: r.centrality for r in rows}
    assert min(rank[x] for x in ("a1", "a2", "a3")) > max(
        rank[x] for x in ("b2", "b3"))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        knowledge_summary(edges, method="personalized")


def test_negative_triples_rejects_k_zero(spark, pos_and_pool):
    positives, entities = pos_and_pool
    with pytest.raises(ValueError):
        # k=0 would hit Spark's sequence(0, -1) inferred-step trap
        negative_triples(positives, entities, k=0)


# ---------------------------------------------------------------------------
# link_prediction_features
# ---------------------------------------------------------------------------

def test_link_prediction_features_hand_computed(spark):
    import math
    from ckg_spark.operators.graph_algos import link_prediction_features

    # square 1-2-3-4 plus diagonal (1,3): the only non-edge is (2,4),
    # whose common neighbors are the two degree-3 diagonal endpoints.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], ["subj", "obj"])
    out = link_prediction_features(edges).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.node_a, r.node_b, r.common) == (2, 4, 2)
    assert r.jaccard == 1.0  # N(2) == N(4) == {1, 3}
    assert r.adamic_adar == round(2 / math.log(3), 6)

    # include existing edges: the diagonal (1,3) shares {2, 4}
    all_pairs = {(r.node_a, r.node_b): (r.common, r.jaccard, r.adamic_adar)
                 for r in link_prediction_features(
                     edges, exclude_existing=False).collect()}
    assert all_pairs[(1, 3)] == (2, 0.5, round(2 / math.log(2), 6))
    assert all_pairs[(1, 2)][0] == 1 and all_pairs[(3, 4)][0] == 1

    # hub cap: with max_degree=2 the degree-3 nodes stop contributing,
    # so (2,4) loses both witnesses and disappears
    capped = link_prediction_features(edges, max_degree=2).collect()
    assert capped == []


def test_link_prediction_features_matches_bruteforce(spark):
    import itertools, math
    from ckg_spark.operators.graph_algos import link_prediction_features

    rows = sorted({(min((i * 7 + 1) % 25, (i * 11 + 3) % 25),
                    max((i * 7 + 1) % 25, (i * 11 + 3) % 25))
                   for i in range(90)})
    rows = [r for r in rows if r[0] != r[1]]
    edges = spark.createDataFrame(rows, ["subj", "obj"])
    es = set(rows)
    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for v, w in itertools.combinations(sorted(adj), 2):
        if (v, w) in es:
            continue
        common = adj[v] & adj[w]
        if not common:
            continue
        aa = round(sum(1 / math.log(len(adj[u])) for u in common), 6)
        jac = round(len(common) / (len(adj[v]) + len(adj[w]) - len(common)), 6)
        expect[(v, w)] = (len(common), jac, aa)
    got = {(r.node_a, r.node_b): (r.common, r.jaccard, r.adamic_adar)
           for r in link_prediction_features(edges, max_degree=None).collect()}
    assert got == expect and len(got) > 10


# ---------------------------------------------------------------------------
# plan assertions + empty-input hardening for the round-5g family
# ---------------------------------------------------------------------------

def test_mention_contexts_single_join_no_udf_plan(spark):
    from ckg_spark.operators.extract import mention_contexts

    docs = spark.createDataFrame([(1, "a gamma b")], ["doc_id", "text"])
    mentions = spark.createDataFrame([(1, "gamma")], ["doc_id", "term"])
    plan = mention_contexts(mentions, docs, 16)._jdf.queryExecution() \
        .executedPlan().toString()
    # one equi-join, all window math in-stage: no UDF eval, no extra joins
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("Join") <= 2  # one join (name may appear in 2 nodes)


def test_cooccurrence_scores_broadcast_marginals_plan(spark):
    from ckg_spark.operators.materialize import cooccurrence_score_edges

    pairs = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 2)], ["term_a", "term_b", "n"])
    plan = cooccurrence_score_edges(pairs)._jdf.queryExecution() \
        .executedPlan().toString()
    # marginals + total come back via broadcast; the pair stream is never
    # exchanged into a SortMergeJoin
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_round5g_ops_empty_inputs(spark):
    from ckg_spark.operators.graph_algos import (
        triangle_counts, clustering_coefficients, link_prediction_features)
    from ckg_spark.operators.extract import mention_contexts
    from ckg_spark.operators.kg_qa import schema_violations

    empty_edges = spark.createDataFrame([], "subj long, obj long")
    assert triangle_counts(empty_edges).count() == 0
    assert clustering_coefficients(empty_edges).count() == 0
    assert link_prediction_features(empty_edges).count() == 0
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_m = spark.createDataFrame([], "doc_id long, term string")
    assert mention_contexts(empty_m, empty_docs).count() == 0
    nodes = spark.createDataFrame([], "id string, type string")
    rules = spark.createDataFrame([], "pred string, subj_type string, obj_type string")
    ed = spark.createDataFrame([("x", "R", "y")], ["subj", "pred", "obj"])
    v = schema_violations(ed, nodes, rules).collect()
    assert len(v) == 1 and v[0].violation == "unknown_subj"
