"""The query phase: catalog lookups, whole-graph templates, centrality.

Runs over a built graph (the ``nodes`` / ``edges`` DataFrames of a
``PipelineResult``) and checks every answer against a pandas recomputation
from the collected edge table. Lookup entities are drawn from the seed:
half from the top-degree entities, half uniformly from all nodes, because
hot keys behave differently from cold ones.
"""

from __future__ import annotations

import random
from collections import defaultdict

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from ckg_spark.queries import catalog, knowledge

LOOKUP_TEMPLATES = ["entity_turns", "top_comentions_for_entity",
                    "parents_of", "ancestors_of"]
SCAN_TEMPLATES = ["comention_neighborhood", "edge_counts_by_pred",
                  "entity_mention_counts", "hub_entities",
                  "merged_identities", "node_counts_by_label",
                  "dangling_endpoints"]
HOT_ENTITIES = 20
TOP_K = 15


class WrongOutput(Exception):
    """An operation returned a result that differs from its reference."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise WrongOutput(what)


def pd_lookup(e: pd.DataFrame, parents: dict, name: str, ent: str) -> list:
    """pandas recomputation of one entity-parametrized catalog template."""
    if name == "entity_turns":
        r = e[(e["pred"] == "MENTIONED_IN_TURN") & (e["subj"] == ent)]
        return sorted(zip(r["obj"], r["score"]))
    if name == "top_comentions_for_entity":
        r = e[(e["pred"] == "CO_MENTIONED_WITH")
              & ((e["subj"] == ent) | (e["obj"] == ent))]
        other = np.where(r["subj"] == ent, r["obj"], r["subj"])
        w = pd.Series(r["score"].to_numpy()).groupby(other).sum()
        top = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return [(o, float(s)) for o, s in top]
    if name == "parents_of":
        return [(p,) for p in sorted(parents.get(ent, ()))]
    if name == "ancestors_of":  # catalog default max_hops = 5
        seen, frontier = set(), set(parents.get(ent, ()))
        for _hop in range(5):
            seen |= frontier
            frontier = {p for x in frontier for p in parents.get(x, ())}
        return [(a,) for a in sorted(seen)]
    raise KeyError(name)


def pd_pagerank(co: pd.DataFrame, iters: int = 10, d: float = 0.85) -> dict:
    """numpy replica of ``operators.graph_algos.pagerank``."""
    ids = sorted(set(co["subj"]) | set(co["obj"]))
    ix = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    s = co["subj"].map(ix).to_numpy()
    o = co["obj"].map(ix).to_numpy()
    odeg = np.bincount(s, minlength=n).astype(float)
    dangling = odeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        inflow = np.bincount(o, weights=r[s] / odeg[s], minlength=n)
        r = (1.0 - d) / n + (d * r[dangling].sum()) / n + d * inflow
    return dict(zip(ids, r))


class QueryPhase:
    def __init__(self, spark, tracer, nodes, edges, e: pd.DataFrame,
                 seed: int):
        self.spark, self.tracer = spark, tracer
        self.nodes, self.edges, self.e = nodes, edges, e
        self.parents = defaultdict(set)
        hp = e[e["pred"] == "HAS_PARENT"]
        for s, o in zip(hp["subj"], hp["obj"]):
            self.parents[s].add(o)
        ents = e[e["pred"] != "MENTIONED_IN_TURN"]
        deg = pd.concat([ents["subj"], ents["obj"]]).value_counts()
        deg = deg.sort_index().sort_values(ascending=False, kind="stable")
        self.hot = list(deg.index[:HOT_ENTITIES])
        self.all_ents = sorted(r["id"] for r in nodes.select("id").collect())
        self.rng = random.Random(seed)

    def run(self):
        """Run every query; returns the untimed check of all answers."""
        lookups = []
        for i, name in enumerate(LOOKUP_TEMPLATES):
            ent = self.rng.choice(self.hot if i % 2 == 0 else self.all_ents)
            with self.tracer.span("catalog." + name):
                got = catalog.run_query(self.spark, name, self.nodes,
                                        self.edges, entity=ent).collect()
            lookups.append((name, ent, [tuple(r) for r in got]))
        scans = {}
        for name in SCAN_TEMPLATES:
            with self.tracer.span("catalog." + name):
                scans[name] = catalog.run_query(self.spark, name, self.nodes,
                                                self.edges).collect()
        summary = self._knowledge()
        return lambda: self._check(lookups, scans, *summary)

    def _knowledge(self):
        tr = self.tracer
        co_df = self.edges.where(F.col("pred") == "CO_MENTIONED_WITH")
        with tr.span("knowledge.pagerank"):
            pr = knowledge.knowledge_summary(co_df, k=TOP_K).collect()
        with tr.span("knowledge.degree"):
            dg = knowledge.knowledge_summary(co_df, k=TOP_K,
                                             method="degree").collect()
        return pr, dg

    def _check(self, lookups, scans, pr, dg) -> None:
        e = self.e
        for name, ent, got in lookups:
            check(got == pd_lookup(e, self.parents, name, ent),
                  f"{name}({ent}) != pandas recomputation")
        for name, rows in scans.items():
            check(len(rows) > 0, f"{name} returned no rows")
        check({r["pred"]: r["n"] for r in scans["edge_counts_by_pred"]}
              == e["pred"].value_counts().to_dict(),
              "edge_counts_by_pred != pandas")
        co = e[e["pred"] == "CO_MENTIONED_WITH"]
        check(sorted((r["subj"], r["obj"], r["score"])
                     for r in scans["comention_neighborhood"])
              == sorted(zip(*(co[co["score"] >= 2][c]
                              for c in ("subj", "obj", "score")))),
              "comention_neighborhood != pandas")

        want_pr = pd_pagerank(co)
        ranks = [r["centrality"] for r in pr]
        check(len(pr) == min(TOP_K, len(want_pr))
              and ranks == sorted(ranks, reverse=True)
              and all(abs(r["centrality"] - want_pr[r["id"]]) < 1e-9
                      for r in pr)
              and ranks[-1] >= sorted(want_pr.values())[-len(pr)] - 1e-9,
              "pagerank top-k != numpy replica")
        deg = pd.concat([co["subj"], co["obj"]]).value_counts()
        want_dg = sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        check([(r["id"], r["degree"]) for r in dg] == want_dg,
              "degree top-k != pandas")

    @staticmethod
    def layer_metrics(tr) -> dict:
        out = {}
        for name in LOOKUP_TEMPLATES + SCAN_TEMPLATES:
            n = tr.count("catalog." + name)
            out[f"catalog.{name}_s"] = (tr.totals("catalog." + name) / n
                                        if n else 0.0)
        for name in ("pagerank", "degree"):
            out[f"knowledge.{name}_s"] = tr.totals("knowledge." + name)
        return out
