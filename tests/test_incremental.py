"""Incremental KG sync over a snapshot transcript table (plans/incremental):
manifest-diff append scan -> per-turn mention edges -> stamped edge commits.
The delta is exact because mention edges are per-turn functions of a single
transcript row + static vocab tables."""

import pandas as pd
import pytest

from conftest import _spark_jobs
from ckg_spark.datagen import gen_transcripts
from ckg_spark.plans import canon as C
from ckg_spark.plans import incremental as I
from ckg_spark.plans import table as T
from ckg_spark.streaming.ingest import linked_mentions
from ckg_spark.operators import extract as X
from ckg_spark.operators import link as L
from ckg_spark.operators import materialize as M
from ckg_spark.vocab import build_vocab, vocab_to_spark


@pytest.fixture(scope="module")
def vocab_tables(spark):
    return vocab_to_spark(spark, build_vocab(n_entities=40, seed=5))


def _chunk(spark, n, seed):
    pdf = gen_transcripts(n, vocab=build_vocab(n_entities=40, seed=5),
                          seed=seed)
    return spark.createDataFrame(pdf)


def _edge_set(df):
    return sorted(map(tuple, df.select(
        "subj", "pred", "obj", "score").collect()))


def test_sync_matches_full_batch(spark, tmp_path, vocab_tables):
    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    chunks = [_chunk(spark, 120, seed) for seed in (1, 2, 3)]

    # interleave appends and syncs: each sync consumes exactly the delta
    reports = []
    for i, ch in enumerate(chunks):
        T.append(ch, tdir)
        r = I.sync_mention_edges(spark, tdir, vocab_tables, edir)
        reports.append(r)
        assert r.to_version == i + 1
        assert r.n_files > 0
    assert [r.from_version for r in reports] == [None, 1, 2]

    # the union of delta edges == edges of a single full-batch run
    alias_grams = X.prepare_alias_grams(vocab_tables["aliases"])
    alias_table = L.prepare_alias_table(vocab_tables["aliases"])
    full = M.mention_edges(linked_mentions(
        T.read(spark, tdir), alias_grams, alias_table,
        vocab_tables["stoplist"], None))
    assert _edge_set(T.read(spark, edir)) == _edge_set(full)
    # every edge commit is stamped with the source version it consumed
    stamps = [s["properties"].get("transcripts_version")
              for s in T.snapshots(edir)]
    assert stamps == [1, 2, 3]


def test_sync_is_idempotent_and_crash_safe(spark, tmp_path, vocab_tables):
    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    T.append(_chunk(spark, 100, seed=7), tdir)
    r1 = I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    n = T.read(spark, edir).count()
    assert r1.n_edges == n and n > 0
    # replay (crash between commit and caller ack): no-op, no double edges
    r2 = I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    assert r2.edge_table_version is None and r2.n_files == 0
    assert T.read(spark, edir).count() == n


def test_sync_refuses_non_append_history(spark, tmp_path, vocab_tables):
    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    T.append(_chunk(spark, 60, seed=9), tdir)
    I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    T.append(_chunk(spark, 60, seed=10), tdir)
    T.compact(spark, tdir)  # rewrites the file set
    with pytest.raises(ValueError, match="re-baseline"):
        I.sync_mention_edges(spark, tdir, vocab_tables, edir)


def test_sync_survives_source_expiry_within_append_history(
        spark, tmp_path, vocab_tables):
    """Expiring OLD transcript snapshots keeps the sync working as long as
    the high-water-mark version's manifest survives (keep_last covers it);
    expiring past the mark raises FileNotFoundError instead of silently
    reprocessing everything."""
    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    for seed in (11, 12, 13):
        T.append(_chunk(spark, 60, seed), tdir)
    I.sync_mention_edges(spark, tdir, vocab_tables, edir)  # mark = 3
    T.append(_chunk(spark, 60, seed=14), tdir)             # v4
    T.expire_snapshots(tdir, keep_last=2)                  # keeps v3, v4
    r = I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    assert (r.from_version, r.to_version) == (3, 4) and r.n_edges > 0
    T.append(_chunk(spark, 60, seed=15), tdir)             # v5
    T.expire_snapshots(tdir, keep_last=1)                  # drops v4 (mark)
    with pytest.raises(FileNotFoundError):
        I.sync_mention_edges(spark, tdir, vocab_tables, edir)


def test_empty_append_advances_mark(spark, tmp_path, vocab_tables):
    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    T.append(_chunk(spark, 60, seed=21), tdir)
    I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    # schema-compatible empty append: zero new rows
    empty = _chunk(spark, 60, seed=21).limit(0)
    T.append(empty, tdir)
    r = I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    assert r.n_edges == 0
    assert I.last_synced_version(edir) == 2


def test_idle_tick_commits_metadata_only(spark, tmp_path, vocab_tables):
    """A source commit that adds no files makes an idle tick: the mark
    advances in a metadata-only commit that runs no Spark job and adds no
    file, so a consumer diffing the edge table sees no delta across it."""
    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    T.append(_chunk(spark, 60, seed=23), tdir)
    I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    before = T.read_manifest(edir)
    T.commit_properties(tdir, {"producer": "idle"})
    r, jobs = _spark_jobs(spark, lambda: I.sync_mention_edges(
        spark, tdir, vocab_tables, edir))
    after = T.read_manifest(edir)
    assert jobs == 0
    assert (r.n_files, r.n_edges, r.edge_table_version) == (
        0, 0, after["version"])
    assert I.last_synced_version(edir) == 2
    assert after["file_count"] == before["file_count"]
    assert after["row_count"] == before["row_count"]
    assert T.incremental_files(edir, before["version"], after["version"]) == []


def test_comention_partials_merge_to_exact_totals(spark, tmp_path,
                                                  vocab_tables):
    """Co-mention scores aggregate across turns, so a multi-delta edge
    table stores mention edges only and ``read_graph_edges(comention=True)``
    derives the co-mentions at read: the view equals a single full-batch
    run before and after ``compact_graph_edges``, and compaction keeps the
    sync high-water mark."""

    tdir = str(tmp_path / "transcripts")
    edir = str(tmp_path / "edges")
    for seed in (31, 32, 33):
        T.append(_chunk(spark, 100, seed), tdir)
        I.sync_mention_edges(spark, tdir, vocab_tables, edir)

    alias_grams = X.prepare_alias_grams(vocab_tables["aliases"])
    alias_table = L.prepare_alias_table(vocab_tables["aliases"])

    def full():
        linked = linked_mentions(T.read(spark, tdir), alias_grams,
                                 alias_table, vocab_tables["stoplist"], None)
        return M.mention_edges(linked).unionByName(M.comention_edges(linked))

    def view():
        return C.read_graph_edges(spark, edir, comention=True)

    want = _edge_set(full())
    assert [e for e in want if e[1] == "CO_MENTIONED_WITH"]
    assert _edge_set(view()) == want
    C.compact_graph_edges(spark, edir)
    assert T.read_manifest(edir)["operation"] == "overwrite"
    assert _edge_set(view()) == want
    assert I.last_synced_version(edir) == 3
    # sync continues normally after compaction
    T.append(_chunk(spark, 100, seed=34), tdir)
    r = I.sync_mention_edges(spark, tdir, vocab_tables, edir)
    assert r.from_version == 3 and r.n_edges > 0
    assert _edge_set(view()) == _edge_set(full())


def test_sync_partitioned_transcript_table(spark, tmp_path, vocab_tables):
    """Transcripts appended with partition_by=["conv_id"] keep conv_id in
    the manifest, not in the data files. The sync reads the delta through
    the manifest and emits the same edges as over an unpartitioned
    table."""
    chunks = [_chunk(spark, 120, seed) for seed in (41, 42)]
    got = {}
    for part in (None, ["conv_id"]):
        tdir = str(tmp_path / f"t{bool(part)}")
        edir = str(tmp_path / f"e{bool(part)}")
        for ch in chunks:
            T.append(ch, tdir, partition_by=part)
            I.sync_mention_edges(spark, tdir, vocab_tables, edir)
        got[part is not None] = _edge_set(
            C.read_graph_edges(spark, edir, comention=True))
    assert T.read_manifest(str(tmp_path / "tTrue"))["partition_by"] == [
        "conv_id"]
    assert got[True] == got[False] and got[False]


def test_submit_sync_compact_every_counts_since_last_fold(
        spark, tmp_path, monkeypatch, capsys):
    """``tools/submit_sync.py --compact-every 3`` over four syncs folds the
    edge table once: the count restarts at each fold's overwrite."""
    import importlib.util
    import json
    import os
    import sys

    from ckg_spark import session

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "submit_sync.py")
    spec = importlib.util.spec_from_file_location("submit_sync", path)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    tdir, edir = str(tmp_path / "transcripts"), str(tmp_path / "edges")
    compacted = []
    for seed in (1, 2, 3, 4):
        T.append(_chunk(spark, 60, seed), tdir)
        monkeypatch.setattr(sys, "argv", [
            "submit_sync.py", "--transcripts-table", tdir,
            "--edges-table", edir, "--synthetic-vocab", "40",
            "--compact-every", "3"])
        assert cli.main() == 0
        out = capsys.readouterr().out.strip().splitlines()[-1]
        compacted.append(json.loads(out)["compacted"])
    assert compacted == [False, False, True, False]
    assert [s["operation"] for s in T.snapshots(edir)] == \
        ["append"] * 3 + ["overwrite", "append"]
