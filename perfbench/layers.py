"""Spans around the public calls, and the Spark event log read per layer.

The benchmark records one span per public call it makes (name, pass,
start, end) and tags the Spark jobs the call runs with
``setJobDescription("<workload>.<call>")``. A traced run also switches
the Spark event log on from outside (``PYSPARK_SUBMIT_ARGS``); after the
run, ``EventLog`` reads it and ``pass_layers`` charges every instant of
every call to exactly one layer:

- an instant with no Spark stage running is driver-only time of the
  call (planning, py4j round trips, commit renames);
- otherwise the highest-priority running stage decides, classified by
  its physical operators (``classify``).

So the layer self-times of a pass add up to the summed wall time of its
calls; what is left of the pass wall time is the benchmark's own work
between calls, reported as ``self.bench.gap_s``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager

# stage classes, highest priority first: when stages of several classes
# run at once, the instant is charged to the first
LAYER_PRIORITY = (
    "dispatch",
    "dedup",
    "lineage",
    "components",
    "pipeline.antijoin",
    "pipeline.spread",
    "io",
    "exports",
    "chunking",
)
DRIVER = "pipeline.driver_only"


class Spans:
    """In-memory span recorder around the benchmark's public calls."""

    def __init__(self, spark, workload: str):
        self._sc = spark.sparkContext
        self.workload = workload
        self.records: list[dict] = []

    @contextmanager
    def call(self, name: str, pass_no: int):
        self._sc.setJobDescription(f"{self.workload}.{name}")
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._sc.setJobDescription(None)
            self.records.append({"name": name, "pass": pass_no, "start": start, "end": end})

    def of_pass(self, pass_no: int) -> list[dict]:
        return [r for r in self.records if r["pass"] == pass_no]


def _plan_nodes(info: dict, out: list) -> list:
    out.append(info)
    for child in info.get("children", ()):
        _plan_nodes(child, out)
    return out


def _exchanges_below_kernel(info: dict) -> int:
    """Exchange nodes upstream of (below) the first MapInArrow node."""
    for node in _plan_nodes(info, []):
        if node["nodeName"] == "MapInArrow":
            return sum(
                1 for n in _plan_nodes(node, [])[1:] if "Exchange" in n["nodeName"]
            )
    return 0


class EventLog:
    """Jobs, stages, tasks and SQL-metric totals of one application's
    uncompressed Spark event log."""

    def __init__(self, log_dir: str):
        files = sorted(
            glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        ) or sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.execs: dict[int, dict] = {}
        acc_meta: dict[int, tuple] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), acc_meta)

    def _event(self, e: dict, acc_meta: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or []
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1000,
                "desc": props.get("spark.job.description"),
                "exec": int(ex) if ex is not None else None,
                "callsite": infos[-1]["Stage Name"] if infos else "",
            }
            for sid in e["Stage IDs"]:
                self.stages.setdefault(sid, self._new_stage())["job"] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], self._new_stage())
            if "Submission Time" in si and "Completion Time" in si:
                st["start"] = si["Submission Time"] / 1000
                st["end"] = si["Completion Time"] / 1000
            st["name"] = si.get("Stage Name", "")
            st["scopes"] = {
                json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")
            }
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], self._new_stage())
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st["run_ms"].append(m.get("Executor Run Time", 0))
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                self._accumulate(acc_meta, a["ID"], a.get("Update"))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            ex = self.execs.setdefault(
                e["executionId"], {"plan": "", "info": None, "metrics": Counter()}
            )
            ex["plan"] = ex["plan"] or e.get("physicalPlanDescription", "")
            ex["info"] = e["sparkPlanInfo"]
            for node in _plan_nodes(e["sparkPlanInfo"], []):
                for m in node["metrics"]:
                    acc_meta[m["accumulatorId"]] = (
                        e["executionId"], node["nodeName"].strip(), m["name"]
                    )
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self._accumulate(acc_meta, acc_id, value)

    @staticmethod
    def _new_stage() -> dict:
        return {
            "job": None, "start": None, "end": None, "name": "", "scopes": set(),
            "run_ms": [], "cpu_ns": 0, "gc_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        }

    def _accumulate(self, acc_meta: dict, acc_id: int, value) -> None:
        meta = acc_meta.get(acc_id)
        if meta is None or value is None:
            return
        ex, node, name = meta
        try:
            self.execs[ex]["metrics"][(node, name)] += int(value)
        except (TypeError, ValueError):
            pass  # non-numeric accumulator

    def jobs_between(self, start: float, end: float) -> list[int]:
        # event times are whole milliseconds: allow one either side
        return [j for j, job in self.jobs.items() if start - 0.001 <= job["start"] <= end + 0.001]


def classify(call: str, stage: dict, ex: dict | None, ctx: dict) -> str:
    """The layer a stage of one public call belongs to. ``ctx`` carries
    the call's lineage path and whether it resumed an existing table."""
    scopes = stage["scopes"]
    plan = ex["plan"] if ex else ""
    if call == "run_extraction":
        if "MapInArrow" in scopes:
            return "dispatch"
        if "MapInArrow" in plan:  # the kernel's query, other stages
            return "pipeline.antijoin" if ctx.get("resume") else "pipeline.spread"
        if ctx.get("lineage_path") and ctx["lineage_path"] in plan:
            return "lineage"
        return "io"
    if call == "run_dedup":
        if "MapInArrow" in scopes or "InMemoryTableScan" in scopes:
            return "dedup"
        if (
            stage["name"].startswith(("checkpoint ", "head "))
            or "checkpoint" in scopes
        ):
            return "components"
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return "io"
        return "dedup"
    if call in ("with_exports", "chunk_spans"):
        return "exports" if call == "with_exports" else "chunking"
    return "io"


def self_times(call_span: tuple[float, float], stages: list[tuple[float, float, str]]) -> dict:
    """Charge every instant of ``call_span`` to one layer: the
    highest-priority stage running then, or driver-only time when none
    is. The returned self-times add up to the span's length."""
    lo, hi = call_span
    cuts = sorted({lo, hi, *(min(max(t, lo), hi) for s, e, _ in stages for t in (s, e))})
    out: Counter = Counter()
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        running = [layer for s, e, layer in stages if s <= mid < e]
        if running:
            out[min(running, key=LAYER_PRIORITY.index)] += b - a
        else:
            out[DRIVER] += b - a
    return dict(out)


def pass_layers(log: EventLog, calls: list[dict], ctx: dict, cores: int) -> dict:
    """Per-layer numbers of one pass from its call spans."""
    out: Counter = Counter()
    stages_all: list[dict] = []
    execs: dict[str, set] = {}
    for c in calls:
        jobs = log.jobs_between(c["start"], c["end"])
        out["pipeline.jobs"] += len(jobs)
        spans = []
        for sid, st in log.stages.items():
            if st["job"] in jobs and st["start"] is not None:
                ex = log.execs.get(log.jobs[st["job"]]["exec"])
                spans.append((st["start"], st["end"], classify(c["name"], st, ex, ctx)))
                stages_all.append(st)
        for layer, secs in self_times((c["start"], c["end"]), spans).items():
            out[f"self.{layer}"] += secs
        out[f"call.{c['name']}"] += c["end"] - c["start"]
        execs[c["name"]] = {log.jobs[j]["exec"] for j in jobs} - {None}
        if c["name"] == "run_dedup":
            out["components.checkpoint_jobs"] += sum(
                1 for j in jobs if log.jobs[j]["callsite"].startswith("checkpoint ")
            )

    def metric(call: str | None, node: str, name: str) -> int:
        ids = set().union(*execs.values()) if call is None else execs.get(call, set())
        return sum(log.execs[i]["metrics"][(node, name)] for i in ids if i in log.execs)

    ins = "Execute InsertIntoHadoopFsRelationCommand"
    out["dispatch.python_run_s"] = metric("run_extraction", "MapInArrow", "time to run Python workers") / 1000
    out["dispatch.python_init_s"] = (
        metric("run_extraction", "MapInArrow", "time to initialize Python workers")
        + metric("run_extraction", "MapInArrow", "time to start Python workers")
    ) / 1000
    out["dispatch.bytes_to_python"] = metric("run_extraction", "MapInArrow", "data sent to Python workers")
    out["dispatch.bytes_from_python"] = metric("run_extraction", "MapInArrow", "data returned from Python workers")
    out["dispatch.docs_in"] = metric("run_extraction", "MapInArrow", "number of output rows")
    out["dedup.python_run_s"] = metric("run_dedup", "MapInArrow", "time to run Python workers") / 1000
    out["io.scan_s"] = metric(None, "Scan parquet", "scan time") / 1000
    out["io.scan_bytes"] = metric(None, "Scan parquet", "size of files read")
    out["io.task_commit_s"] = metric(None, ins, "task commit time") / 1000
    out["io.job_commit_s"] = metric(None, ins, "job commit time") / 1000
    out["io.files_written"] = metric(None, ins, "number of written files")
    out["io.bytes_written"] = metric(None, ins, "written output")
    out["exports.bytes_out"] = metric("with_exports", ins, "written output")
    out["chunking.chunks_out"] = metric("chunk_spans", ins, "number of output rows")
    out["pipeline.spread_exchanges"] = max(
        (
            _exchanges_below_kernel(log.execs[i]["info"])
            for i in execs.get("run_extraction", ())
            if i in log.execs and log.execs[i]["info"]
        ),
        default=0,
    )

    runs = [ms for st in stages_all for ms in st["run_ms"]]
    out["spark.task_s"] = sum(runs) / 1000
    out["spark.cpu_s"] = sum(st["cpu_ns"] for st in stages_all) / 1e9
    out["spark.gc_s"] = sum(st["gc_ms"] for st in stages_all) / 1000
    out["spark.shuffle_read_bytes"] = sum(st["shuffle_read"] for st in stages_all)
    out["spark.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages_all)
    out["spark.spill_bytes"] = sum(st["spill"] for st in stages_all)
    out["spark.stages"] = len(stages_all)
    out["spark.tasks"] = len(runs)
    kernel = [st for st in stages_all if "MapInArrow" in st["scopes"] and st["run_ms"]]
    if kernel:
        k = max(kernel, key=lambda st: sum(st["run_ms"]))
        med = statistics.median(k["run_ms"])
        out["spark.task_skew"] = max(k["run_ms"]) / med if med else 1.0
    wall = sum(c["end"] - c["start"] for c in calls)
    out["spark.idle_core_s"] = cores * wall - out["spark.task_s"]
    return dict(out)
