"""Incremental canonicalization: delta-CC == batch CC, remap log, plans
layer over snapshot tables (operators/canonicalize.py + plans/canon.py)."""

import random

import pytest
from pyspark.sql import functions as F

from conftest import _spark_jobs
from ckg_spark.operators import canonicalize as CN
from ckg_spark.operators.canonicalize import (
    apply_remaps,
    canonical_mapping,
    connected_components,
    incremental_canonical_mapping,
)
from ckg_spark.plans import canon as C
from ckg_spark.plans import table as T


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "ident_a string, ident_b string")


def _random_graph(seed, n=120, m=150):
    rng = random.Random(seed)
    return [(f"e{rng.randrange(n):03d}", f"e{rng.randrange(n):03d}")
            for _ in range(m)]


def _as_map(df):
    return {r["ident"]: r["canonical_id"] for r in df.collect()}


def _all_distributed(monkeypatch):
    """Send an incremental fold down its distributed plan, connected
    components included."""
    monkeypatch.setattr(CN, "DRIVER_PARTS_MAX_ROWS", 0)
    monkeypatch.setattr(CN, "DRIVER_CC_MAX_EDGES", 0)


def test_incremental_equals_batch_random_deltas(spark):
    pairs = _random_graph(11)
    cut1, cut2 = len(pairs) // 3, 2 * len(pairs) // 3
    deltas = [pairs[:cut1], pairs[cut1:cut2], pairs[cut2:]]

    mapping = None
    for d in deltas:
        mapping, _ = incremental_canonical_mapping(mapping, _edges(spark, d))
        mapping = mapping.cache()

    full = _edges(spark, pairs)
    idents = full.select(F.col("ident_a").alias("ident")).unionByName(
        full.select(F.col("ident_b").alias("ident"))).distinct()
    batch = canonical_mapping(full, idents)
    assert _as_map(mapping) == _as_map(batch)


def test_incremental_distributed_cc_path_agrees(spark, monkeypatch):
    pairs = _random_graph(23, n=40, m=50)
    d1, d2 = pairs[:25], pairs[25:]
    _all_distributed(monkeypatch)
    m1, _ = incremental_canonical_mapping(None, _edges(spark, d1))
    m1 = m1.cache()
    m2, _ = incremental_canonical_mapping(m1, _edges(spark, d2))
    monkeypatch.undo()
    m2d, _ = incremental_canonical_mapping(m1, _edges(spark, d2))
    assert _as_map(m2) == _as_map(m2d)


def test_driver_parts_fast_path_equals_distributed(spark, monkeypatch):
    """The r6 driver-scale fast path of incremental_canonical_parts must
    reproduce every piece of the distributed computation — including the
    remap log and self-mapped new idents — on a merge-heavy delta."""
    from ckg_spark.operators.canonicalize import incremental_canonical_parts

    d1 = [("a", "b"), ("c", "d"), ("x", "y"), ("q", "q2")]
    # delta 2 merges {a,b}+{c,d}, touches {x,y} without merging, adds a
    # self-loop vertex and a brand-new pair
    d2 = [("b", "c"), ("x", "y"), ("z", "z"), ("m", "n")]
    ni = spark.createDataFrame([("iso1",), ("a",)], "ident string")

    m1, _ = incremental_canonical_mapping(None, _edges(spark, d1))
    m1 = m1.cache()
    fast = incremental_canonical_parts(m1, _edges(spark, d2), new_idents=ni)
    _all_distributed(monkeypatch)
    slow = incremental_canonical_parts(m1, _edges(spark, d2), new_idents=ni)
    for key in ("untouched", "changed", "isolated", "delta", "remaps"):
        assert sorted(map(tuple, fast[key].collect())) == \
            sorted(map(tuple, slow[key].collect())), key
    assert (fast["n_delta"], fast["n_remaps"]) == \
        (slow["n_delta"], slow["n_remaps"]) == (fast["delta"].count(), 1)
    # the fast path engaged (driver DataFrames have no shuffle lineage):
    # sanity — merged component relabels to the global min 'a'
    changed = {r["ident"]: r["canonical_id"] for r in fast["changed"].collect()}
    assert changed["d"] == "a" and changed["c"] == "a"


def test_untouched_components_pass_through_unchanged(spark):
    m1, _ = incremental_canonical_mapping(
        None, _edges(spark, [("b", "c"), ("x", "y")]))
    m1 = m1.cache()
    m2, remaps = incremental_canonical_mapping(
        m1, _edges(spark, [("c", "d")]))
    got = _as_map(m2)
    assert got == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}
    assert remaps.count() == 0  # canon 'b' survived; no component vanished


def test_merge_produces_remap_pairs(spark):
    m1, _ = incremental_canonical_mapping(
        None, _edges(spark, [("b", "c"), ("x", "y")]))
    m2, remaps = incremental_canonical_mapping(
        m1.cache(), _edges(spark, [("c", "x")]))
    assert _as_map(m2) == {"b": "b", "c": "b", "x": "b", "y": "b"}
    assert [(r["old_canonical_id"], r["new_canonical_id"])
            for r in remaps.collect()] == [("x", "b")]


def test_new_smaller_ident_remaps_old_canon(spark):
    # batch-equivalence forces churn when a smaller ident joins: 'a' < 'b'
    m1, _ = incremental_canonical_mapping(None, _edges(spark, [("b", "c")]))
    m2, remaps = incremental_canonical_mapping(
        m1.cache(), _edges(spark, [("a", "c")]))
    assert _as_map(m2) == {"a": "a", "b": "a", "c": "a"}
    assert [(r["old_canonical_id"], r["new_canonical_id"])
            for r in remaps.collect()] == [("b", "a")]


def test_isolated_new_idents_self_map(spark):
    m1, _ = incremental_canonical_mapping(None, _edges(spark, [("b", "c")]))
    ids = spark.createDataFrame([("zzz",), ("b",)], "ident string")
    m2, _ = incremental_canonical_mapping(
        m1.cache(), _edges(spark, []), new_idents=ids)
    assert _as_map(m2) == {"b": "b", "c": "b", "zzz": "zzz"}


def test_apply_remaps_patches_edges(spark):
    edges = spark.createDataFrame(
        [("x", "MAPS_TO", "q"), ("b", "MAPS_TO", "x"), ("k", "MAPS_TO", "k")],
        "subj string, pred string, obj string")
    remaps = spark.createDataFrame(
        [("x", "b")], "old_canonical_id string, new_canonical_id string")
    got = sorted((r["subj"], r["obj"])
                 for r in apply_remaps(edges, remaps).collect())
    assert got == [("b", "b"), ("b", "q"), ("k", "k")]


def test_repartition_invariance(spark):
    pairs = _random_graph(7)
    d1, d2 = pairs[:70], pairs[70:]
    m1, _ = incremental_canonical_mapping(None, _edges(spark, d1))
    m1 = m1.cache()
    a, _ = incremental_canonical_mapping(m1, _edges(spark, d2))
    b, _ = incremental_canonical_mapping(
        m1.repartition(13), _edges(spark, d2).repartition(17))
    assert _as_map(a) == _as_map(b)


# ---------------------------------------------------------------------------
# plans/canon.py: snapshot-table sync
# ---------------------------------------------------------------------------


def test_sync_mapping_table_roundtrip(spark, tmp_path):
    d = str(tmp_path / "canon")
    r1 = C.sync_canonical_mapping(spark, d, _edges(spark, [("b", "c"), ("x", "y")]))
    assert r1.mapping_version == 1 and r1.n_changed == 4 and r1.n_remaps == 0
    r2 = C.sync_canonical_mapping(spark, d, _edges(spark, [("c", "x")]))
    assert r2.n_remaps == 1
    # only the remapped component's rows were appended (b's rows rewritten
    # because x/y joined it; delta excludes rows whose canon is unchanged)
    assert r2.n_changed == 2  # x, y now -> b; b, c already -> b
    got = _as_map(C.read_canonical_mapping(spark, d))
    assert got == {"b": "b", "c": "b", "x": "b", "y": "b"}
    # empty delta: no new commit
    r3 = C.sync_canonical_mapping(spark, d, _edges(spark, []))
    assert r3.mapping_version is None and r3.n_changed == 0


def test_sync_matches_batch_and_compacts(spark, tmp_path):
    d = str(tmp_path / "canon2")
    pairs = _random_graph(31)
    for lo, hi in [(0, 50), (50, 100), (100, len(pairs))]:
        C.sync_canonical_mapping(spark, d, _edges(spark, pairs[lo:hi]))
    full = _edges(spark, pairs)
    idents = full.select(F.col("ident_a").alias("ident")).unionByName(
        full.select(F.col("ident_b").alias("ident"))).distinct()
    want = _as_map(canonical_mapping(full, idents))
    assert _as_map(C.read_canonical_mapping(spark, d)) == want

    v = C.compact_mapping(spark, d)
    assert _as_map(C.read_canonical_mapping(spark, d)) == want
    # compacted table holds exactly one row per ident
    assert T.read(spark, d).count() == len(want)
    # time travel still sees the pre-compaction state
    assert _as_map(C.read_canonical_mapping(spark, d, version=v - 1)) == want


def test_remap_log_resolves_chains(spark, tmp_path):
    d = str(tmp_path / "canon3")
    # sync1: {c,d} canon c ; {x,y} canon x
    C.sync_canonical_mapping(spark, d, _edges(spark, [("c", "d"), ("x", "y")]))
    # sync2: x joins c's component -> remap x->c
    C.sync_canonical_mapping(spark, d, _edges(spark, [("d", "x")]))
    # sync3: 'a' joins -> remap c->a ; chain x->c->a must resolve to x->a
    C.sync_canonical_mapping(spark, d, _edges(spark, [("a", "y")]))
    log = {(r["old_canonical_id"], r["new_canonical_id"])
           for r in C.read_remap_log(spark, d).collect()}
    assert log == {("x", "a"), ("c", "a")}
    # since_version filter keeps only canons absorbed after that sync
    late = {(r["old_canonical_id"], r["new_canonical_id"])
            for r in C.read_remap_log(spark, d, since_version=2).collect()}
    assert late == {("c", "a")}


def test_sync_handles_mega_star_component(spark, tmp_path, monkeypatch):
    # one hot canon with 300 members, then a merge touches it: the star
    # rebuild stays distributed-safe (exercise the distributed CC path)
    d = str(tmp_path / "canon4")
    star = [("a000", f"m{i:03d}") for i in range(300)]
    C.sync_canonical_mapping(spark, d, _edges(spark, star))
    _all_distributed(monkeypatch)
    m2, remaps = incremental_canonical_mapping(
        C.read_canonical_mapping(spark, d),
        _edges(spark, [("m000", "zz")]))
    got = _as_map(m2)
    assert got["zz"] == "a000" and len(got) == 302
    assert remaps.count() == 0


# ---------------------------------------------------------------------------
# Composed: incremental KG sync under an evolving canonicalization
# ---------------------------------------------------------------------------


def test_sync_graph_matches_batch_under_identity_drift(spark, tmp_path,
                                                       vocab_tables):
    from ckg_spark.datagen import gen_transcripts
    from ckg_spark.operators import extract as X
    from ckg_spark.operators import link as L
    from ckg_spark.operators import materialize as M
    from ckg_spark.operators.canonicalize import canonical_mapping
    from ckg_spark.streaming.ingest import linked_mentions
    from ckg_spark.vocab import build_vocab

    vb = build_vocab(n_entities=120, seed=7)  # matches conftest vocab_tables
    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    mdir = str(tmp_path / "mapping")
    chunks = [spark.createDataFrame(gen_transcripts(150, vocab=vb, seed=s))
              for s in (21, 22, 23)]

    # pick two idents that really emit edges, so the merge bites
    alias_grams = X.prepare_alias_grams(vocab_tables["aliases"])
    alias_table = L.prepare_alias_table(vocab_tables["aliases"])
    probe = linked_mentions(chunks[0], alias_grams, alias_table,
                            vocab_tables["stoplist"], None)
    ia, ib = [r["ident"] for r in
              probe.select("ident").distinct().orderBy("ident").limit(2).collect()]

    # tick 1: no identity edges; tick 2: merge ia~ib AFTER ia/ib already
    # emitted edges in tick 1 (remap-on-read must patch them); tick 3: none
    T.append(chunks[0], tdir)
    C.sync_graph(spark, tdir, vocab_tables, edir, mdir)
    T.append(chunks[1], tdir)
    C.sync_graph(spark, tdir, vocab_tables, edir, mdir,
                 identity_edges=_edges(spark, [(ia, ib)]))
    T.append(chunks[2], tdir)
    C.sync_graph(spark, tdir, vocab_tables, edir, mdir)

    # the merge must have produced a remap-log row (ia < ib lexicographic
    # or vice versa; one absorbed the other)
    log = C.read_remap_log(spark, mdir).collect()
    assert len(log) == 1

    got = C.read_graph_edges(spark, edir, mdir, comention=True)

    all_idents = vocab_tables["aliases"].select("ident").distinct()
    full_map = canonical_mapping(_edges(spark, [(ia, ib)]), all_idents)
    linked = linked_mentions(T.read(spark, tdir), alias_grams, alias_table,
                             vocab_tables["stoplist"], full_map)
    want = M.mention_edges(linked).unionByName(M.comention_edges(linked))

    key = lambda df: sorted(map(tuple, df.select(
        "subj", "pred", "obj", "score").collect()))
    assert key(got) == key(want)
    # the collapsed pair must not survive as a self co-mention
    assert got.where((F.col("pred") == "CO_MENTIONED_WITH")
                     & (F.col("subj") == F.col("obj"))).count() == 0


def test_streaming_sink_under_canonical_drift(spark, tmp_path, vocab_tables):
    """stream_mention_edges(mapping_table_dir=...): a canon merge
    synced BETWEEN two ticks applies to the second tick at write time and
    to the first tick at read time (remap log) — the merged view equals
    the one-shot batch under the final mapping, co-mentions included."""
    import os

    from ckg_spark.datagen import gen_transcripts
    from ckg_spark.operators import extract as X
    from ckg_spark.operators import link as L
    from ckg_spark.operators import materialize as M
    from ckg_spark.operators.canonicalize import canonical_mapping
    from ckg_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from ckg_spark.streaming.ingest import linked_mentions, stream_mention_edges
    from ckg_spark.vocab import build_vocab

    vb = build_vocab(n_entities=120, seed=7)
    pdf1 = gen_transcripts(150, vocab=vb, seed=31)
    pdf2 = gen_transcripts(150, vocab=vb, seed=32)
    in_dir, tbl, cp, mdir = (str(tmp_path / d)
                             for d in ("in", "tbl", "cp", "mapping"))
    os.makedirs(in_dir, exist_ok=True)

    alias_grams = X.prepare_alias_grams(vocab_tables["aliases"])
    alias_table = L.prepare_alias_table(vocab_tables["aliases"])
    probe = linked_mentions(spark.createDataFrame(pdf1), alias_grams,
                            alias_table, vocab_tables["stoplist"], None)
    ia, ib = [r["ident"] for r in probe.select("ident").distinct()
              .orderBy("ident").limit(2).collect()]

    # register vocab idents (remap-completeness precondition), tick 1
    C.sync_canonical_mapping(
        spark, mdir, _edges(spark, []),
        new_idents=vocab_tables["aliases"].select("ident").distinct())
    pdf1.to_parquet(f"{in_dir}/f1.parquet", index=False)
    q = stream_mention_edges(spark, in_dir, TRANSCRIPT_SCHEMA,
                             vocab_tables, tbl, cp,
                             mapping_table_dir=mdir)
    q.awaitTermination(120)

    # merge ia~ib AFTER tick 1 committed edges under the old canon
    rep = C.sync_canonical_mapping(spark, mdir, _edges(spark, [(ia, ib)]))
    assert rep.n_remaps == 1

    pdf2.to_parquet(f"{in_dir}/f2.parquet", index=False)
    q = stream_mention_edges(spark, in_dir, TRANSCRIPT_SCHEMA,
                             vocab_tables, tbl, cp,
                             mapping_table_dir=mdir)
    q.awaitTermination(120)

    got = C.read_graph_edges(spark, tbl, mdir, comention=True)

    all_idents = vocab_tables["aliases"].select("ident").distinct()
    full_map = canonical_mapping(_edges(spark, [(ia, ib)]), all_idents)
    import pandas as pd
    linked = linked_mentions(spark.createDataFrame(pd.concat([pdf1, pdf2])),
                             alias_grams, alias_table,
                             vocab_tables["stoplist"], full_map)
    want = M.mention_edges(linked).unionByName(M.comention_edges(linked))
    key = lambda df: sorted(map(tuple, df.select(
        "subj", "pred", "obj", "score").collect()))
    assert key(got) == key(want)


def test_streaming_drift_requires_registered_mapping(spark, tmp_path,
                                                     vocab_tables):
    import pytest as _pytest

    from ckg_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from ckg_spark.streaming.ingest import stream_mention_edges

    with _pytest.raises(ValueError, match="register"):
        stream_mention_edges(
            spark, str(tmp_path / "in"), TRANSCRIPT_SCHEMA, vocab_tables,
            str(tmp_path / "tbl"), str(tmp_path / "cp"),
            mapping_table_dir=str(tmp_path / "empty_mapping"))


def test_compact_graph_edges_folds_remaps(spark, tmp_path):
    """compact_graph_edges physically applies the remap log (storage has
    no retired canons), records remaps_folded_through, and later reads
    apply ONLY post-compaction remaps — exact across a chain that spans
    the compaction boundary (e3->e2 folded, then e2->e1 after)."""
    edir, mdir = str(tmp_path / "edges"), str(tmp_path / "mapping")

    def edge(s, o, sc=1.0):
        return (s, "MENTIONED_IN_TURN", o, "tagger", sc, "Entity")

    T.append(spark.createDataFrame(
        [edge("e2", "t:1"), edge("e3", "t:1"), edge("e4", "t:2"),
         edge("e1", "t:2")],
        "subj string, pred string, obj string, source string, "
        "score double, evidence_type string"), edir)
    C.sync_canonical_mapping(
        spark, mdir, _edges(spark, []),
        new_idents=spark.createDataFrame(
            [("e1",), ("e2",), ("e3",), ("e4",)], "ident string"))
    C.sync_canonical_mapping(spark, mdir, _edges(spark, [("e2", "e3")]))

    def view():
        return sorted(map(tuple, C.read_graph_edges(
            spark, edir, mdir, comention=True)
            .select("subj", "pred", "obj", "score").collect()))

    want = [("e1", "CO_MENTIONED_WITH", "e4", 1.0),
            ("e1", "MENTIONED_IN_TURN", "t:2", 1.0),
            ("e2", "MENTIONED_IN_TURN", "t:1", 2.0),
            ("e4", "MENTIONED_IN_TURN", "t:2", 1.0)]
    assert view() == want

    v = C.compact_graph_edges(spark, edir, mdir)
    assert view() == want  # fold is read-invisible
    stored = {r["subj"] for r in T.read(spark, edir).collect()}
    assert "e3" not in stored  # retired canon physically gone
    assert T.read_manifest(edir)["properties"]["remaps_folded_through"] \
        == T.current_version(mdir)

    # post-compaction merge: chain e3->e2->e1 crosses the fold boundary —
    # storage holds e2 (e3 already folded), and the since-filtered log
    # {e2->e1} patches it; t:2 ({e1, e4}) is untouched by the merge
    C.sync_canonical_mapping(spark, mdir, _edges(spark, [("e1", "e2")]))
    assert view() == [("e1", "CO_MENTIONED_WITH", "e4", 1.0),
                      ("e1", "MENTIONED_IN_TURN", "t:1", 2.0),
                      ("e1", "MENTIONED_IN_TURN", "t:2", 1.0),
                      ("e4", "MENTIONED_IN_TURN", "t:2", 1.0)]


def test_expire_remap_log_after_fold(spark, tmp_path):
    """After compact_graph_edges folds through version X, remap rows <= X
    can expire; reads stay exact for merges before AND after expiry."""
    edir, mdir = str(tmp_path / "edges"), str(tmp_path / "mapping")
    T.append(spark.createDataFrame(
        [("e2", "MENTIONED_IN_TURN", "t:1", "tagger", 1.0, "Entity"),
         ("e3", "MENTIONED_IN_TURN", "t:1", "tagger", 1.0, "Entity")],
        "subj string, pred string, obj string, source string, "
        "score double, evidence_type string"), edir)
    C.sync_canonical_mapping(
        spark, mdir, _edges(spark, []),
        new_idents=spark.createDataFrame(
            [("e1",), ("e2",), ("e3",)], "ident string"))
    C.sync_canonical_mapping(spark, mdir, _edges(spark, [("e2", "e3")]))
    C.compact_graph_edges(spark, edir, mdir)
    folded = T.read_manifest(edir)["properties"]["remaps_folded_through"]
    C.expire_remap_log(spark, mdir, folded)
    assert C.read_remap_log(spark, mdir).count() == 0

    # a NEW merge after expiry still patches exactly
    C.sync_canonical_mapping(spark, mdir, _edges(spark, [("e1", "e2")]))
    got = sorted(map(tuple, C.read_graph_edges(spark, edir, mdir)
                     .select("subj", "obj", "score").collect()))
    assert got == [("e1", "t:1", 2.0)]


def test_folded_through_survives_later_appends(spark, tmp_path):
    """Sync appends after a compaction commit manifests WITHOUT the
    remaps_folded_through property; reads must find it across snapshots
    (not just the head) and keep patching only the since-fold remaps."""
    edir, mdir = str(tmp_path / "edges"), str(tmp_path / "mapping")
    schema = ("subj string, pred string, obj string, source string, "
              "score double, evidence_type string")
    T.append(spark.createDataFrame(
        [("e2", "MENTIONED_IN_TURN", "t:1", "tagger", 1.0, "Entity"),
         ("e3", "MENTIONED_IN_TURN", "t:1", "tagger", 1.0, "Entity")],
        schema), edir)
    C.sync_canonical_mapping(
        spark, mdir, _edges(spark, []),
        new_idents=spark.createDataFrame(
            [("e1",), ("e2",), ("e3",), ("e5",)], "ident string"))
    C.sync_canonical_mapping(spark, mdir, _edges(spark, [("e2", "e3")]))
    C.compact_graph_edges(spark, edir, mdir)
    folded = T.last_stamped_version(edir, "remaps_folded_through")

    # a later plain append (as sync_graph would do) lacks the property
    T.append(spark.createDataFrame(
        [("e5", "MENTIONED_IN_TURN", "t:9", "tagger", 1.0, "Entity")],
        schema), edir)
    assert "remaps_folded_through" not in \
        T.read_manifest(edir).get("properties", {})
    assert T.last_stamped_version(edir, "remaps_folded_through") == folded

    # post-append merge still patches exactly (e2 -> e1)
    C.sync_canonical_mapping(spark, mdir, _edges(spark, [("e1", "e2")]))
    got = sorted(map(tuple, C.read_graph_edges(spark, edir, mdir)
                     .select("subj", "obj", "score").collect()))
    assert got == [("e1", "t:1", 2.0), ("e5", "t:9", 1.0)]


def test_sync_tiers_agree_on_tables_reports_and_mapping(spark, tmp_path,
                                                        monkeypatch):
    """The same three syncs with the parts' driver tier and with it off
    (DRIVER_PARTS_MAX_ROWS = 0) commit identical mapping-table and
    remap-log rows and report identical counts, and each report's mapping
    (what sync_graph hands on) equals read_canonical_mapping after the
    commit. Tick 2 merges two components and self-loops z; tick 3 is
    idle."""
    from ckg_spark.operators import canonicalize as CZ

    ticks = [([("b", "c"), ("x", "y")], ["iso1", "b"]),
             ([("c", "x"), ("a", "y"), ("z", "z")], ["iso2"]),
             ([], ["b"])]
    out = []
    for cap in (CZ.DRIVER_PARTS_MAX_ROWS, 0):
        monkeypatch.setattr(CZ, "DRIVER_PARTS_MAX_ROWS", cap)
        d = str(tmp_path / f"m{cap}")
        reps = []
        for pairs, ids in ticks:
            rep = C.sync_canonical_mapping(
                spark, d, _edges(spark, pairs),
                new_idents=spark.createDataFrame([(i,) for i in ids],
                                                 "ident string"))
            got = sorted(map(tuple, rep.mapping.collect()))
            assert got == sorted(map(tuple, C.read_canonical_mapping(
                spark, d).collect()))
            reps.append((rep.mapping_version, rep.n_changed, rep.n_remaps,
                         got))
        out.append((reps, sorted(map(tuple, T.read(spark, d).collect())),
                    sorted(map(tuple, T.read(spark, C._remap_dir(d))
                               .collect()))))
    assert out[0] == out[1]
    reps, _, log = out[0]
    assert [r[:3] for r in reps] == [(1, 5, 0), (2, 7, 2), (None, 0, 0)]
    assert log == [("b", "a", 2), ("x", "a", 2)]


def test_sync_graph_tick_job_budget(spark, tmp_path, vocab_tables):
    """One dictionary-scale tick — a transcript append, then sync_graph
    with an identity merge — runs in at most 20 Spark jobs: row counts
    come from parquet footers, the mapping fold fetches each input once
    and counts nothing, and the post-sync mapping is handed on without
    re-reading the table. The first tick is the warm-up."""
    from ckg_spark.datagen import gen_transcripts
    from ckg_spark.vocab import build_vocab

    vb = build_vocab(n_entities=120, seed=7)  # matches conftest vocab_tables
    tdir, edir, mdir = (str(tmp_path / n) for n in ("t", "e", "m"))
    chunks = [spark.createDataFrame(gen_transcripts(150, vocab=vb, seed=s))
              for s in (51, 52)]
    ia, ib = sorted(vb.aliases["ident"].unique())[:2]

    def tick(k, identity_edges=None):
        T.append(chunks[k], tdir)
        return C.sync_graph(spark, tdir, vocab_tables, edir, mdir,
                            identity_edges=identity_edges)

    tick(0)
    rep, jobs = _spark_jobs(spark, lambda: tick(1, _edges(spark, [(ia, ib)])))
    assert rep.n_edges > 0 and len(C.read_remap_log(spark, mdir).collect()) == 1
    assert jobs <= 20, jobs
