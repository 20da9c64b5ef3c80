"""Outside-in tracing: spans around the benchmark's calls into each layer,
wrappers on a few public engine functions, a py4j call counter, and the
Spark figures of each operation's jobs (status store) and of the frame
that answered it (executed plan).  Nothing under ``lucene_spark`` is
edited; the wrappers are installed on module / class attributes and only
record while ``active`` is set, so an inactive tracer costs one flag test
per wrapped call.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

# (module path, attribute, span name); class methods are "Class.method"
WRAPPED = (
    ("lucene_spark.search.executor", "Index.term_stats_for", "executor.term_stats_for"),
    ("lucene_spark.search.executor", "Index.postings_for", "executor.postings_for"),
    ("lucene_spark.search.executor", "auto_seed_theta", "executor.seed"),
    ("lucene_spark.search.executor", "_auto_seed_theta_mixed", "executor.seed"),
    ("lucene_spark.search.executor", "search_tree", "executor.search_tree"),
    ("lucene_spark.index.builder", "build_segments", "builder.build_segments"),
    ("lucene_spark.index.builder", "finalize_index", "builder.finalize_index"),
    # the percolator's equi-join plan, taken when a stored-query set is
    # past the mask caps
    ("lucene_spark.streaming", "_percolate_tree_joins", "streaming.tree_joins"),
)

PY_NODES = ("FlatMapGroupsInPandasExec", "FlatMapCoGroupsInPandasExec",
            "MapInPandasExec", "ArrowEvalPythonExec", "BatchEvalPythonExec")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.active = False
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.op_id = 0
        self.py4j_calls = 0
        self._restore = []
        self.counts: Dict[str, int] = {}
        if enabled:
            self._install()

    # --- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def inside(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self._stack)

    def _install(self) -> None:
        import importlib

        for mod_name, attr, span_name in WRAPPED:
            owner = importlib.import_module(mod_name)
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, parts[-1], None)
            if orig is None:
                continue  # the engine renamed it: that layer reads 0
            setattr(owner, parts[-1], self._wrap(orig, span_name))
            self._restore.append((owner, parts[-1], orig))
        client = self.spark.sparkContext._gateway._gateway_client
        orig_send = client.send_command

        def send_command(*a, **kw):
            if self.active:
                self.py4j_calls += 1
            return orig_send(*a, **kw)

        client.send_command = send_command
        self._restore.append((client, "send_command", orig_send))

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            if span_name == "executor.search_tree" and tracer.inside("executor.search_call"):
                tracer.counts["executor.exhaustive_fallbacks"] = (
                    tracer.counts.get("executor.exhaustive_fallbacks", 0) + 1)
            with tracer.span(span_name):
                return fn(*a, **kw)

        return wrapper

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # --- per-operation Spark figures ---------------------------------------

    def begin_op(self) -> str:
        """New op id + job group; resets the per-op counters."""
        self.op_id += 1
        self.py4j_calls = 0
        self.counts = {}
        group = f"perfbench-{self.op_id}"
        if self.active:
            self.spark.sparkContext.setJobGroup(group, group)
        return group

    def end_op(self, group: str, frame=None) -> dict:
        """Figures of the op just finished; read after its timed window."""
        was, self.active = self.active, False
        try:
            out = {"py4j.calls": self.py4j_calls, **self.counts}
            out.update(stage_figures(self.spark.sparkContext, group))
            if frame is not None:
                out.update(plan_figures(frame))
            return out
        finally:
            self.active = was

    def op_span_ms(self) -> Dict[str, float]:
        """Total ms per span name within the current op."""
        out: Dict[str, float] = {}
        for s in self.spans:
            if s["op"] == self.op_id and s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + 1e3 * (s["end"] - s["start"])
        return out

    # --- reporting ------------------------------------------------------------

    def self_times(self) -> Dict[str, float]:
        """Per-layer self time (ms): span length minus its children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + 1e3 * (s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def stage_figures(sc, group: str) -> dict:
    """Sum of the op's executed stages (skipped stages excluded)."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(st.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tot = {"spark.jobs": len(jobs), "spark.stages": 0, "spark.tasks": 0,
           "spark.executor_run_ms": 0, "spark.executor_cpu_ms": 0.0,
           "spark.input_bytes": 0, "spark.shuffle_write_bytes": 0,
           "spark.gc_ms": 0, "spark.failed_tasks": 0}
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Exception:  # evicted or never submitted
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        tot["spark.stages"] += 1
        tot["spark.tasks"] += sd.numTasks()
        tot["spark.executor_run_ms"] += sd.executorRunTime()
        tot["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        tot["spark.input_bytes"] += sd.inputBytes()
        tot["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        tot["spark.gc_ms"] += sd.jvmGcTime()
        tot["spark.failed_tasks"] += sd.numFailedTasks()
    return tot


def _nodes(node):
    name = node.getClass().getSimpleName()
    yield name, node
    if name == "AdaptiveSparkPlanExec":
        yield from _nodes(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from _nodes(node.plan())
    elif name == "InMemoryTableScanExec":
        # a persisted answer: its work sits in the cached plan
        yield from _nodes(node.relation().cachedPlan())
    ch = node.children()
    for i in range(ch.size()):
        yield from _nodes(ch.apply(i))


def _metric(node, key: str) -> Optional[int]:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else None


def plan_figures(frame) -> dict:
    """Python-worker, AQE-read and join figures of the answering frame's
    executed plan (read after collect, so the metrics are final)."""
    out = {"pyworker.udf_ms": 0, "pyworker.arrow_bytes_sent": 0,
           "spark.plan_joins": 0, "plan_join_nodes": []}
    seen_py = False
    for name, node in _nodes(frame._jdf.queryExecution().executedPlan()):
        if name in PY_NODES:
            out["pyworker.udf_ms"] += _metric(node, "pythonTotalTime") or 0
            out["pyworker.arrow_bytes_sent"] += _metric(node, "pythonDataSent") or 0
            seen_py = seen_py or name.startswith("FlatMap")
        elif (name in ("AQEShuffleReadExec", "ShuffleExchangeExec") and seen_py
              and "spark.scoring_tasks" not in out):
            # the first shuffle read under the per-segment kernel sets its
            # task count (AQE's coalesced read when present)
            out["spark.scoring_tasks"] = _metric(node, "numPartitions")
        elif "Join" in name or name == "CartesianProductExec":
            out["spark.plan_joins"] += 1
            out["plan_join_nodes"].append(name)
    return out
