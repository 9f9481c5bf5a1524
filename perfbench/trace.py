"""Per-layer tracing for the benchmark's traced runs.

Two sources, both read outside the timed operations:

- ``Layers`` wraps public functions of engine modules at their import
  sites (every ``dbkit_spark`` module global bound to the original) and
  records wall-time spans. Only the outermost call of a layer counts, so a
  layer function calling another of the same layer is not double counted.
- ``StatusStore`` reads Spark's in-process status stores (works with
  ``spark.ui.enabled=false``): jobs and stages of the operation's job
  group, and SQL plan-node metrics of the executions those jobs belong to.
  Jobs are attributed to a layer span when submitted inside it.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time
from collections import defaultdict

MB = 1024 * 1024

# layer -> (module, function names or None for every public function)
LAYER_FUNCS = {
    "sources.read_table": ("dbkit_spark.sources.readers", ["read_table"]),
    "sources.footer": (
        "dbkit_spark.sources.readers",
        ["_scan_metadata", "parquet_ts_unit", "footer_lead_boundaries"],
    ),
    "iterate": ("dbkit_spark.operators.iterate", ["iterate_until_fixpoint"]),
    "llm": ("dbkit_spark.llm.dedup", None),
    "llm.cluster": ("dbkit_spark.llm.cluster", None),
    "llm.similarity": ("dbkit_spark.llm.similarity", None),
    "ingest": ("dbkit_spark.streaming.ingest_dedup", ["ingest_batch"]),
}
# the three llm modules report as one layer
LAYER_OF = {k: ("llm" if k.startswith("llm") else k) for k in LAYER_FUNCS}


class Layers:
    """Context manager that installs the wrappers and restores on exit."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []  # (layer, t0, t1) epoch s
        self._depth: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = self._depth[layer] == 0
            self._depth[layer] += 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] -= 1
                if outer:
                    self.spans.append((layer, t0, time.time()))

        return wrapper

    def __enter__(self) -> "Layers":
        for mod_name, _ in LAYER_FUNCS.values():
            importlib.import_module(mod_name)  # a later lazy import would miss the wrappers
        mods = [m for n, m in list(sys.modules.items()) if n.startswith("dbkit_spark") and m]
        for key, (mod_name, names) in LAYER_FUNCS.items():
            mod = sys.modules[mod_name]
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if callable(f) and not n.startswith("_")
                    and getattr(f, "__module__", None) == mod_name
                    and not isinstance(f, type)
                ]
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrap(LAYER_OF[key], orig)
                for m in mods:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            self._patched.append((m, attr, orig))
                            setattr(m, attr, wrapped)
        return self

    def __exit__(self, *exc) -> None:
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def take(self) -> list[tuple[str, float, float]]:
        out, self.spans = self.spans, []
        return out


def _parse_metric(text: str) -> float:
    """SQL metric display string -> number in base units (s, bytes, count).
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    scale = {
        "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
        "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": 1024.0 * MB, "TiB": 1024.0**2 * MB,
    }
    return v * scale.get(m.group(2), 1.0)


_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


class StatusStore:
    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala_mod)
        self._empty = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def collect(self, group: str, spans, t0: float, t1: float) -> dict[str, float]:
        """Counters of one operation run under job group ``group`` over
        wall interval [t0, t1] (epoch seconds)."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = [j for j in self._json(store.jobsList(None)) if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._json(store.stageList(None, False, False, self._empty, None))
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        m: dict[str, float] = defaultdict(float)
        m["exec.wall_s"] = t1 - t0
        m["exec.jobs"] = len(jobs)
        m["exec.stages"] = len(stages)
        for s in stages:
            m["exec.tasks"] += s["numCompleteTasks"]
            m["exec.run_s"] += s["executorRunTime"] / 1e3
            m["exec.cpu_s"] += s["executorCpuTime"] / 1e9
            m["exec.gc_s"] += s["jvmGcTime"] / 1e3
            m["exec.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
            m["exec.shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
            m["exec.shuffle_read_mb"] += s["shuffleReadBytes"] / MB
            m["exec.spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
            m["exec.result_mb"] += s["resultSize"] / MB
            m["sources.input_mb"] += s["inputBytes"] / MB
            m["sources.write_mb"] += s["outputBytes"] / MB
        busy = sorted(
            (s["submissionTime"] / 1e3, s["completionTime"] / 1e3)
            for s in stages if s.get("submissionTime") and s.get("completionTime")
        )
        covered, end = 0.0, t0
        for a, b in busy:
            a, b = max(a, end), min(b, t1)
            if b > a:
                covered += b - a
                end = b
        m["exec.idle_s"] = max(0.0, (t1 - t0) - covered)

        submitted = [j["submissionTime"] / 1e3 for j in jobs if j.get("submissionTime")]
        for layer, a, b in spans:
            key = {"sources.read_table": "sources.read_table_s", "sources.footer": "sources.footer_s",
                   "iterate": "iterate.s", "llm": "llm.driver_s", "ingest": "ingest.batch_s",
                   "plan.build": "plan.build_s", "plan.optimize": "plan.optimize_s"}[layer]
            m[key] += b - a
            jobs_key = {"plan.build": "plan.build_jobs", "iterate": "iterate.jobs", "llm": "llm.jobs"}.get(layer)
            if jobs_key:
                m[jobs_key] += sum(1 for t in submitted if a - 1e-3 <= t <= b + 1e-3)

        self._plan_nodes(job_ids, m)
        return dict(m)

    def _plan_nodes(self, job_ids: set[int], m: dict[str, float]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in self._json(sql.executionsList()):
            if not job_ids & {int(k) for k in (ex.get("jobs") or {})}:
                continue
            eid = ex["executionId"]
            values = {int(k): v for k, v in self._json(sql.executionMetrics(eid)).items()}
            for node in self._json(sql.planGraph(eid).allNodes()):
                name = node["name"]
                if name.startswith("WholeStageCodegen"):
                    continue  # a cluster; its children are listed separately

                def metric(label: str) -> float:
                    return sum(
                        _parse_metric(values[x["accumulatorId"]])
                        for x in node["metrics"]
                        if x["name"] == label and x["accumulatorId"] in values
                    )

                if name.startswith("Scan"):
                    m["scan.rows"] += metric("number of output rows")
                elif name == "Exchange":
                    m["exchange.count"] += 1
                    m["exchange.rows"] += metric("shuffle records written")
                elif "Aggregate" in name:
                    m["agg.time_s"] += metric("time in aggregation build")
                elif name == "BroadcastHashJoin":
                    m["join.bhj"] += 1
                elif name == "SortMergeJoin":
                    m["join.smj"] += 1
                elif name == "ShuffledHashJoin":
                    m["join.shj"] += 1
                elif name.startswith("Window"):
                    m["window.count"] += 1
                elif _PYTHON_NODE.search(name):
                    m["python.rows"] += metric("number of output rows")
                    m["python.time_s"] += sum(
                        _parse_metric(values[x["accumulatorId"]])
                        for x in node["metrics"]
                        if x["metricType"] == "timing" and x["accumulatorId"] in values
                    )
                elif "InsertInto" in name or "Write" in name:
                    m["sources.files_written"] += metric("number of written files")
