"""Spans and Spark metrics for the traced perfbench run.

A span is recorded around each call into a layer: name, start, end, the
parent span and the op (run/batch) it belongs to. Spans live in memory and
are written to JSON when the run ends.

Layers are the engine's modules. The traced run wraps the public functions
of those modules for its duration (every module namespace that holds the
function gets the wrapper, so calls made inside the engine are seen too) and
restores them afterwards. A wrapper materializes a DataFrame result inside
its span (persist + count), so a lazy layer's compute lands in its own span
and its self time is its span minus its child spans.

Each span runs its Spark jobs under a job group of its own. After the run
the Spark status stores give, per job group, the stages' task metrics
(shuffle bytes written, spill, bytes written) and the SQL plan-graph
metrics of its queries (rows out of a node, files written).
"""

from __future__ import annotations

import itertools
import statistics
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._cached: list[DataFrame] = []

    # ------------------------------------------------------------------ spans
    def group(self, op: str) -> None:
        """Run the following jobs outside any span, under op's own group."""
        self.op = op
        self.sc.setJobGroup(f"{self.run_id}.{op}", op)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "op": self.op,
            "counts": {},
        }
        rec["group"] = f"{self.run_id}.s{rec['id']}"
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.group(self.op)

    def materialize(self, df: DataFrame, rec: dict) -> DataFrame:
        df = df.persist()
        rec["counts"]["rows_out"] = df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    @contextmanager
    def instrument(self, targets):
        """Wrap each (holder, attr, span_name, hook) for the duration.
        ``holder`` is a module or class; every loaded engine module holding
        the same function object is patched too. ``hook(rec, args, out)``
        may add counts to the span."""
        patched = []
        for holder, attr, name, hook in targets:
            orig = getattr(holder, attr)
            wrapper = self._wrapper(orig, name, hook)
            homes = [holder] + [
                m
                for key, m in list(sys.modules.items())
                if key.startswith("sentometrics_spark") and m is not holder
                and getattr(m, attr, None) is orig
            ]
            for home in homes:
                patched.append((home, attr, orig))
                setattr(home, attr, wrapper)
        try:
            yield
        finally:
            for home, attr, orig in reversed(patched):
                setattr(home, attr, orig)

    def _wrapper(self, fn, name, hook):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = tracer.materialize(out, rec)
                if hook is not None:
                    hook(rec, args, out)
                return out

        traced.__wrapped__ = fn
        return traced

    # --------------------------------------------------------- spark metrics
    def spark_metrics(self, groups: list[str]) -> dict[str, dict]:
        """Per job group: jobs, tasks, shuffle bytes written, disk spill,
        bytes and files written, and the rows out of selected plan nodes."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_stages: dict[int, list[int]] = {}
        by_group: dict[str, list[int]] = {}
        for g in groups:
            ids = list(tracker.getJobIdsForGroup(g))
            by_group[g] = ids
            for j in ids:
                info = tracker.getJobInfo(j)
                job_stages[j] = list(info.stageIds) if info else []
        store = jsc.statusStore()
        stages: dict[int, dict] = {}
        for sid in {s for ss in job_stages.values() for s in ss}:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            stages[sid] = {
                "tasks": st.numCompleteTasks(),
                "shuffle_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.diskBytesSpilled(),
                "bytes_written": st.outputBytes(),
            }
        nodes = self._sql_node_rows(set(job_stages))
        out = {}
        for g, jobs in by_group.items():
            m = dict.fromkeys(("tasks", "shuffle_bytes", "spill_bytes", "bytes_written"), 0)
            for j in jobs:
                for s in job_stages.get(j, ()):
                    for k, v in stages.get(s, {}).items():
                        m[k] += v
            m["jobs"] = len(jobs)
            for key in ("rows_scored", "files_written"):
                m[key] = sum(nodes.get(j, {}).get(key, 0) for j in jobs)
            out[g] = m
        return out

    def _sql_node_rows(self, jobs: set[int]) -> dict[int, dict]:
        """SQL plan-graph metrics, keyed by an execution's first job: rows
        out of the Python scoring nodes and files written by write commands."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        picks = {
            "MapInPandas": ("number of output rows", "rows_scored"),
            "Execute InsertIntoHadoopFsRelationCommand": (
                "number of written files", "files_written"),
        }
        out: dict[int, dict] = {}
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = [int(j) for j in _scala_keys(ex.jobs())]
            mine = sorted(j for j in ex_jobs if j in jobs)
            if not mine:
                continue
            values = store.executionMetrics(ex.executionId())
            graph = store.planGraph(ex.executionId()).allNodes()
            seen = set()
            acc = out.setdefault(mine[0], {})
            for n in range(graph.size()):
                node = graph.apply(n)
                pick = picks.get(node.name().strip())
                if pick is None:
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    aid = pm.accumulatorId()
                    if pm.name() != pick[0] or aid in seen:
                        continue
                    seen.add(aid)
                    v = values.get(aid)
                    if v.isDefined():
                        acc[pick[1]] = acc.get(pick[1], 0) + int(v.get().replace(",", ""))
        return out

    # ------------------------------------------------------------- reporting
    def self_times(self) -> dict[int, float]:
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {
                "id": s["id"], "name": s["name"], "parent": s["parent"],
                "run": s["run"], "op": s["op"],
                "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                "self_s": selfs[s["id"]], "counts": s["counts"],
            }
            for s in sorted(self.spans, key=lambda s: s["id"])
        ]


def _scala_keys(m):
    it = m.keySet().iterator()
    while it.hasNext():
        yield it.next()


def per_op(values_by_op: dict[str, float]) -> float:
    """Median over ops of a per-op total (0.0 when no op recorded it)."""
    return statistics.median(values_by_op.values()) if values_by_op else 0.0
