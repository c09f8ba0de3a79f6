"""Traced-run instrumentation, all of it outside the engine.

Spans are recorded around the benchmark's own calls into the engine
(run → pass → query → build/action/write) and kept in memory until the run
ends. Each query's jobs run under a ``setJobGroup`` named after its span
id, so the Spark event log written during the run attributes every job,
stage and task to the query and phase that started it. The layers are
then read from outside the program:

- ``plans``: build wall time, py4j commands sent while building, and jobs
  started during the build (eager ``localCheckpoint``/collects);
- ``catalyst``: ``queryExecution().tracker().phases()`` of the built plan;
- ``operators``/``sources``: the event log's TaskEnd metrics;
- ``udf``: the Python SQL metrics of the same tasks;
- ``sinks``: the files under the output directories;
- ``cache``: ``getRDDStorageInfo`` after each traced query.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

#: Every per-layer metric a traced run prints, with its unit.
PER_LAYER_UNITS = {
    "session.jvm_start_s": "s",
    "session.first_action_s": "s",
    "session.rss_mb": "MB",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "plans.eager_jobs": "count",
    "plans.eager_job_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.rows_per_output_row": "ratio",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.fetch_wait_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.shuffle_rows_per_output_row": "ratio",
    "operators.spill_mb": "MB",
    "operators.task_skew": "ratio",
    "operators.failed_tasks": "count",
    "udf.python_total_s": "s",
    "udf.python_boot_s": "s",
    "udf.python_init_s": "s",
    "udf.sent_mb": "MB",
    "udf.recv_mb": "MB",
    "udf.rows": "count",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.bytes_mb": "MB",
    "sinks.bytes_per_row": "B",
    "cache.rdds": "count",
    "cache.storage_mb": "MB",
    "trace.overhead_s": "s",
}

#: Python SQL metric display names (Spark 4.1 ``PythonSQLMetrics``).
PY_METRICS = {
    "time to run Python workers": "udf.python_total_s",
    "time to start Python workers": "udf.python_boot_s",
    "time to initialize Python workers": "udf.python_init_s",
    "data sent to Python workers": "udf.sent_mb",
    "data returned from Python workers": "udf.recv_mb",
}


class Tracer:
    """Spans and py4j command counts of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._counting = False
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._counting:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None, qid: str | None = None, **attrs):
        rec = {"id": len(self.spans), "parent": parent, "qid": qid, "name": name, **attrs}
        self.spans.append(rec)
        if qid is not None:
            self.sc.setJobGroup(f"{qid}|{name}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def counting_py4j(self, rec: dict):
        before = self.py4j_calls
        self._counting = True
        try:
            yield
        finally:
            self._counting = False
            rec["py4j_calls"] = self.py4j_calls - before

    def catalyst_phases(self, df) -> dict[str, float]:
        """Analysis, optimization and planning ms of the QueryExecution of ``df``
        (planning is forced here; the action re-plans its own copy)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        phases = conv.asJava(qe.tracker().phases())
        return {k: float(phases[k].durationMs()) for k in phases.keySet()}

    def storage(self) -> tuple[int, float]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return len(infos), size / 2**20

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


def dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a writer's output directory."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# ---------------------------------------------------------------------------
# Event log → per-group totals
# ---------------------------------------------------------------------------
#: SQL metric types (``SQLMetrics``) to seconds or MiB.
_SCALE = {"timing": 1e3, "nsTiming": 1e9, "size": 2**20, "sum": 1}


def _python_metrics(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """Accumulator id → (per-layer key, scale) for every Python-worker node."""
    metrics = {m["name"]: m for m in plan.get("metrics", [])}
    if "time to run Python workers" in metrics:
        for name, key in {**PY_METRICS, "number of output rows": "udf.rows"}.items():
            if name in metrics:
                m = metrics[name]
                out[m["accumulatorId"]] = (key, _SCALE.get(m["metricType"], 1))
    for child in plan.get("children", []):
        _python_metrics(child, out)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Totals per job group (``"<qid>|<phase>"``) from the run's event log."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {"jobs": 0, "job_s": 0.0, "stages": set(), "tasks": 0, "failed": 0,
             "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "fetch_wait_s": 0.0,
             "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
             "shuffle_rows": 0, "spill_mb": 0.0, "input_mb": 0.0,
             "input_rows": 0, "written_rows": 0, "task_ms": {},
             "udf": {k: 0.0 for k in [*PY_METRICS.values(), "udf.rows"]}},
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_metrics(ev["sparkPlanInfo"], py_acc)
            elif kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp is None:
                    continue
                job_group[ev["Job ID"]] = grp
                job_start[ev["Job ID"]] = ev["Submission Time"]
                g(grp)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, grp)
            elif kind == "SparkListenerJobEnd":
                grp = job_group.get(ev["Job ID"])
                if grp is not None:
                    g(grp)["job_s"] += (ev["Completion Time"] - job_start[ev["Job ID"]]) / 1e3
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                if grp is None:
                    continue
                t = g(grp)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                t["tasks"] += 1
                t["stages"].add(ev["Stage ID"])
                if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                    t["failed"] += 1
                t["task_ms"].setdefault(ev["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
                sr = m.get("Shuffle Read Metrics") or {}
                t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                t["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                t["shuffle_rows"] += sr.get("Total Records Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                im = m.get("Input Metrics") or {}
                t["input_mb"] += im.get("Bytes Read", 0) / 2**20
                t["input_rows"] += im.get("Records Read", 0)
                t["written_rows"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("ID") in py_acc and acc.get("Update") is not None:
                        key, scale = py_acc[acc["ID"]]
                        t["udf"][key] += int(acc["Update"]) / scale
    return groups


def layers_of(
    tracer: Tracer,
    queries: list[dict],
    groups: dict[str, dict],
    output_rows: dict[str, int],
) -> dict[str, float]:
    """Per-layer totals over some traced query spans (a pass, or one query)."""
    children = {
        q["id"]: [s for s in tracer.spans if s["parent"] == q["id"]] for q in queries
    }
    out = {k: 0.0 for k in PER_LAYER_UNITS if not k.startswith(("session.", "trace."))}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    out["_shuffle_rows"] = out["_written_rows"] = 0.0
    skews, out_rows = [], 0
    for q in queries:
        out_rows += output_rows[q["op"]]
        for s in children[q["id"]]:
            grp = groups.get(f"{q['qid']}|{s['name']}")
            dur = s["end"] - s["start"]
            if s["name"] == "build":
                add("plans.build_s", dur)
                add("plans.py4j_calls", s["py4j_calls"])
                for k in ("analysis", "optimization", "planning"):
                    add(f"catalyst.{k}_ms", s["catalyst"].get(k, 0.0))
                add("plans.eager_jobs", grp["jobs"] if grp else 0)
                add("plans.eager_job_s", grp["job_s"] if grp else 0.0)
            if s["name"] == "write":
                add("sinks.write_s", dur)
                add("sinks.files", s["files"])
                add("sinks.bytes_mb", s["bytes"] / 2**20)
            if grp is None:
                continue
            add("operators.jobs", grp["jobs"])
            add("operators.stages", len(grp["stages"]))
            add("operators.tasks", grp["tasks"])
            add("operators.failed_tasks", grp["failed"])
            for k in ("run_s", "cpu_s", "gc_s", "fetch_wait_s", "shuffle_write_mb",
                      "shuffle_read_mb", "spill_mb"):
                add(f"operators.{k}", grp[k])
            add("_shuffle_rows", grp["shuffle_rows"])
            add("sources.input_mb", grp["input_mb"])
            add("sources.input_rows", grp["input_rows"])
            add("_written_rows", grp["written_rows"])
            for k, v in grp["udf"].items():
                add(k, v)
            for durs in grp["task_ms"].values():
                if len(durs) > 1 and statistics.median(durs) > 0:
                    skews.append(max(durs) / statistics.median(durs))
    out_rows = max(out_rows, 1)
    out["operators.shuffle_rows_per_output_row"] = out.pop("_shuffle_rows") / out_rows
    out["sources.rows_per_output_row"] = out["sources.input_rows"] / out_rows
    written = out.pop("_written_rows")
    out["sinks.bytes_per_row"] = (
        out["sinks.bytes_mb"] * 2**20 / written if written else 0.0
    )
    out["operators.task_skew"] = statistics.median(skews) if skews else 1.0
    out["cache.rdds"] = max(q["cache"][0] for q in queries)
    out["cache.storage_mb"] = max(q["cache"][1] for q in queries)
    return out
