"""Span tracer for the benchmark's traced runs.

A span records name, start, end, parent and run id. Each span tags the
Spark jobs it starts with its own job group, so the jobs and tasks a layer
ran are read back from ``sparkContext.statusTracker()`` when the span ends.
Spans stay in memory and are written out once, when the run ends.

Spark work is lazy: a layer function usually returns a plan, and the work
happens wherever the plan is consumed. ``Tracer.patch`` therefore wraps a
layer's public function so that, in a traced run, its output is forced
inside the layer's span:

- ``force="noop"`` runs the returned DataFrame into Spark's ``noop`` sink.
  The caller then computes it again, so this doubles the layer's work; the
  difference shows up in the reported tracing overhead.
- ``force="input"`` is for eager writers (``plans.table.append``): the
  DataFrame to be written is materialised first with
  ``operators.ckpt.checkpoint_reset_stats`` in a child span named
  ``<span>.input``, so the writer's own span holds only the write and
  commit path.

Self time is a span's duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

from ckg_spark.operators.ckpt import checkpoint_reset_stats


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Collects spans for one run. While ``enabled`` is False every span is
    a no-op, so untraced operations run the program unchanged."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        rec["group"] = f"{self.run_id}-{rec['id']}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["jobs"], rec["tasks"] = self._job_counts(rec["group"])

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    # -- layer wrapping ------------------------------------------------
    def patch(self, module, attr: str, name: str, force: str | None = None):
        """Replace ``module.attr`` with a version that runs inside a span
        named ``name``. Callers that look the function up through the
        module (``X.extract_mentions``) see the wrapper."""
        fn = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                if force == "input":
                    with tracer.span(name + ".input"):
                        args = (checkpoint_reset_stats(args[0]),) + args[1:]
                out = fn(*args, **kwargs)
                if force == "noop" and isinstance(out, DataFrame):
                    noop_write(out)
                return out

        self._patches.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unpatch(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    # -- summaries -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
                for s in self.spans}

    def totals(self, name: str, field: str = "self") -> float:
        """Sum over spans called ``name`` of their self time (``self``) or
        of a recorded count field."""
        selfs = self.self_times()
        return sum(selfs[s["id"]] if field == "self" else s.get(field, 0)
                   for s in self.spans if s["name"] == name)

    def tree_totals(self, name: str, field: str) -> float:
        """Sum of a count field over every span called ``name`` and all
        spans below it."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        todo = [s for s in self.spans if s["name"] == name]
        out = 0.0
        while todo:
            s = todo.pop()
            out += s.get(field, 0)
            todo.extend(kids.get(s["id"], []))
        return out

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                json.dump({k: v for k, v in s.items() if k != "group"}, f)
                f.write("\n")
