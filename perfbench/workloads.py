"""The benchmark's workloads: batch build (with a query phase) and
incremental sync.

Each workload is one closed loop with a single client: the next operation
starts only after the previous one has returned and been checked. A
workload has a ``setup`` (inputs, warm-up), a repeated unit operation
``op`` and a closing read ``close``; ``run.py`` times them. Every
operation's output is compared with an independent reference, and a
mismatch raises ``WrongOutput``.

Inputs come from the seed alone: ``build_vocab`` and ``gen_transcripts``
(``ckg_spark.datagen``) are seeded with it, and the lookup entities of
the query phase are drawn from a ``random.Random(seed)``.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from pyspark.sql import functions as F

from ckg_spark import oracle_ref
from ckg_spark.datagen import gen_transcripts
from ckg_spark.operators import canonicalize as C_ops
from ckg_spark.operators import extract as X
from ckg_spark.operators import link as L
from ckg_spark.operators import materialize as M
from ckg_spark.plans import canon as C
from ckg_spark.plans import incremental as I
from ckg_spark.plans import lineage as LIN
from ckg_spark.plans import table as T
from ckg_spark.plans.pipeline import run_pipeline
from ckg_spark.vocab import build_vocab, vocab_to_spark
from query_phase import QueryPhase, check

# Corpus shape shared by all workloads, sized so that one run, setup
# included, takes about a minute on 4 cores. At this size a warm build is
# dominated by Spark's fixed per-job cost; see README.md.
N_TURNS = 4000
N_ENTITIES = 2000
# conversation-disjoint deltas: tick 0 is the warm-up, tick 1 is measured;
# a traced run adds one delta so it has an untraced and a traced tick
SYNC_DELTAS = 2
EDGE_COLS = ["subj", "pred", "obj", "source", "score"]


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(map(tuple, df[cols].itertuples(index=False)))


def du(path: str) -> int:
    """Bytes of all files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Inputs:
    """Seeded vocabulary and transcript corpus, written as parquet into the
    run's work directory and read back with ``ts`` cast to ``timestamp``
    (the parquet round trip yields ``timestamp_ntz``)."""

    def __init__(self, spark, work: str, seed: int):
        self.vocab = build_vocab(n_entities=N_ENTITIES, seed=seed)
        # gen_transcripts overshoots by up to one conversation; cut to exactly
        # N_TURNS so every seed carries the same amount of work
        self.pdf = gen_transcripts(N_TURNS, vocab=self.vocab,
                                   seed=seed).iloc[:N_TURNS]
        self.path = os.path.join(work, "transcripts.parquet")
        self.pdf.to_parquet(self.path, index=False, row_group_size=20_000)
        self.bytes = os.path.getsize(self.path)
        self.spark = spark
        self.tables = vocab_to_spark(spark, self.vocab)

    def transcripts(self, pdf: pd.DataFrame | None = None):
        if pdf is None:
            df = self.spark.read.parquet(self.path)
        else:
            df = self.spark.createDataFrame(pdf)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))


class Workload:
    """Base: ``item`` is what ``op``'s check counts toward ``items_per_s``.
    ``traced`` says whether this run will trace part of its operations."""

    name = ""
    item = ""

    def __init__(self, spark, work: str, seed: int, tracer, traced: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.traced = tracer, traced

    def remaining(self) -> int | None:
        """Operations left; None when the workload can repeat forever."""
        return None


# ---------------------------------------------------------------------------
# batch_build: the import phase
# ---------------------------------------------------------------------------


class BatchBuild(Workload):
    """One ``run_pipeline`` into a fresh out_dir per operation. The closing
    read is the query phase (``query_phase.py``) over the newest build."""

    name = "batch_build"
    item = "triples"

    def setup(self):
        self.inp = Inputs(self.spark, self.work, self.seed)
        self.tdf = self.inp.transcripts()
        # two warm-up builds: the JIT is still settling during the second
        for i in range(2):
            warm = os.path.join(self.work, f"warm{i}")
            run_pipeline(self.spark, self.tdf, self.inp.tables, warm)
            shutil.rmtree(warm)

    def reference(self):
        """Untimed: the oracle triple set for this seed."""
        self.want = _rows(oracle_ref.oracle_triples(self.inp.pdf,
                                                    self.inp.vocab),
                          EDGE_COLS)
        self.last = None

    def op(self, i: int):
        out = os.path.join(self.work, f"build{i}")
        res = run_pipeline(self.spark, self.tdf, self.inp.tables, out)
        return lambda: self._check(out, res)

    def _check(self, out: str, res) -> int:
        """Compare with the oracle, then keep only the newest build
        directory (the closing read uses it)."""
        got = res.edges.select(*EDGE_COLS).toPandas()
        if self.last is not None:
            shutil.rmtree(self.last[0])
        self.last = (out, got)
        check(_rows(got, EDGE_COLS) == self.want,
              "built triples != oracle_ref.oracle_triples")
        self.query = QueryPhase(self.spark, self.tracer, res.nodes, res.edges,
                                got, self.seed)
        return len(got)

    def close(self):
        return self.query.run()

    def layer_metrics(self, tr, n_ops: int, untraced_op_s: float) -> dict:
        out, got = self.last
        rows = {r["stage"]: r["rows"] for r in LIN.read_lineage(out)}
        layer_s = sum(tr.totals(n) for n in
                      ("extract", "link", "canonicalize", "materialize"))
        return {
            "extract.self_s": tr.totals("extract") / n_ops,
            "extract.mentions": rows["10_mentions"],
            "extract.jobs": tr.totals("extract", "jobs") / n_ops,
            "extract.tasks": tr.totals("extract", "tasks") / n_ops,
            "link.self_s": tr.totals("link") / n_ops,
            "link.linked": rows["20_linked"],
            "link.hit_ratio": rows["20_linked"] / rows["10_mentions"],
            "canonicalize.self_s": tr.totals("canonicalize") / n_ops,
            "canonicalize.idents": rows["30_canonical"],
            "materialize.self_s": tr.totals("materialize") / n_ops,
            "materialize.triples": rows["41_edges"],
            "materialize.comention_pairs": int(
                (got["pred"] == "CO_MENTIONED_WITH").sum()),
            # what committing, re-reading and footer-counting each stage adds
            # to the untraced build over the layers' own compute
            "lineage.overhead_s": untraced_op_s - layer_s / n_ops,
            "lineage.bytes_written_per_input_byte": du(out) / self.inp.bytes,
            **QueryPhase.layer_metrics(tr),
        }

    def trace_patches(self, tr):
        tr.patch(X, "extract_mentions", "extract", force="noop")
        tr.patch(L, "link_mentions", "link", force="noop")
        tr.patch(C_ops, "canonical_mapping", "canonicalize", force="noop")
        tr.patch(M, "materialize_nodes", "materialize", force="noop")
        tr.patch(M, "materialize_edges", "materialize", force="noop")
        tr.patch(LIN, "write_stage", "lineage")


# ---------------------------------------------------------------------------
# incremental_sync: the write path, small deltas and many commits
# ---------------------------------------------------------------------------


class IncrementalSync(Workload):
    """The corpus split into conversation-disjoint deltas. One operation
    (a tick) appends one delta to a ``plans.table`` transcript table and
    runs one ``plans.canon.sync_graph`` with that tick's share of the
    vocabulary's identity edges. Tick 0 is the discarded warm-up; the
    closing read is one ``read_graph_edges(comention=True)``."""

    name = "incremental_sync"
    item = "turns"

    def setup(self):
        self.inp = Inputs(self.spark, self.work, self.seed)
        # conversation-disjoint deltas of near-equal turn counts: largest
        # conversation first, each to the delta with the fewest turns
        sizes = self.inp.pdf.groupby("conv_id").size()
        sizes = sizes.sort_index().sort_values(ascending=False, kind="stable")
        n = SYNC_DELTAS + self.traced
        groups, load = [[] for _ in range(n)], [0] * n
        for conv, turns in sizes.items():
            k = load.index(min(load))
            groups[k].append(conv)
            load[k] += turns
        self.deltas = [self.inp.pdf[self.inp.pdf["conv_id"].isin(g)]
                       for g in groups]
        ie = self.inp.vocab.identity_edges
        self.idents = [ie.iloc[k::n] for k in range(n)]
        self.tdir, self.edir, self.mdir = (os.path.join(self.work, d)
                                           for d in ("t", "e", "m"))
        self.next = 0
        self.reports = []
        self.op(-1)()
        self.reports.clear()

    def reference(self):
        o = oracle_ref.oracle_triples(self.inp.pdf, self.inp.vocab)
        o = o[o["pred"].isin(["MENTIONED_IN_TURN", "CO_MENTIONED_WITH"])]
        self.want = _rows(o, EDGE_COLS)

    def remaining(self) -> int:
        return len(self.deltas) - self.next

    def op(self, i: int):
        k = self.next
        self.next += 1
        T.append(self.inp.transcripts(self.deltas[k]), self.tdir)
        ids = self.idents[k]
        rep = C.sync_graph(
            self.spark, self.tdir, self.inp.tables, self.edir, self.mdir,
            identity_edges=self.spark.createDataFrame(ids) if len(ids) else None)
        return lambda: self._check(k, rep)

    def _check(self, k: int, rep) -> int:
        check(rep.n_files > 0 and rep.edge_table_version is not None,
              f"tick {k} committed nothing")
        self.reports.append(rep)
        return len(self.deltas[k])

    def close(self):
        got = C.read_graph_edges(self.spark, self.edir, self.mdir,
                                 comention=True)
        got = got.select(*EDGE_COLS).toPandas()
        return lambda: check(
            _rows(got, EDGE_COLS) == self.want,
            "merged incremental view != batch mention + co-mention edges")

    def layer_metrics(self, tr, n_ops: int, untraced_op_s: float) -> dict:
        m, reps = T.read_manifest(self.edir), self.reports
        written = sum(du(d) for d in (self.tdir, self.edir, self.mdir,
                                      self.mdir + "_remaps"))
        return {
            "table.append_s": tr.totals("table.append") / n_ops,
            "table.manifest_bytes": os.path.getsize(
                T._manifest_path(self.edir, m["version"])),
            "table.live_files": m["file_count"],
            "table.bytes_written_per_input_byte": written / self.inp.bytes,
            "canon.sync_mapping_s": tr.totals("canon.sync_mapping") / n_ops,
            "canon.remaps": C.read_remap_log(self.spark, self.mdir).count(),
            "incremental.sync_edges_s":
                tr.totals("incremental.sync_edges") / n_ops,
            "incremental.delta_files": sum(r.n_files for r in reps) / len(reps),
            "incremental.edges_per_tick":
                sum(r.n_edges for r in reps) / len(reps),
            "canon.read_graph_edges_s": tr.totals("canon.read_graph_edges"),
        }

    def trace_patches(self, tr):
        tr.patch(T, "append", "table.append", force="input")
        tr.patch(C, "sync_canonical_mapping", "canon.sync_mapping")
        tr.patch(I, "sync_mention_edges", "incremental.sync_edges")
        tr.patch(C, "read_graph_edges", "canon.read_graph_edges", force="noop")


WORKLOADS = {w.name: w for w in (BatchBuild, IncrementalSync)}
