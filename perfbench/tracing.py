"""Tracing for ``--trace 1`` runs, kept entirely in the benchmark.

Spans are recorded in memory and turned into per-op layer numbers when
the run ends.  They come from four places: each op; calls into the
engine's public functions (wrappers installed by :meth:`Tracer.wrap`,
only in the traced run); streaming query progress; and Spark's own status
store (jobs and their stages, read once after the run).  A span belongs
to the op whose interval holds its start, and its parent is the innermost
span of a lower layer depth that holds its start.
"""

from __future__ import annotations

import bisect
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from stats import self_time, union_length

# Layer depth: a span's parent is the innermost span of a lower depth.
DEPTH = {
    "op": 0,
    "streaming.add_batch": 1,
    "registry.build": 1,
    "spark.action": 1,
    "dedup.batch": 2,
    "dedup.index_append": 2,
    "spark.job": 3,
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.catalyst_ms: list[tuple[float, float, float]] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.spans.append({"name": name, "start": start, "end": end, **attrs})

    @contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time())

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        orig = getattr(owner, attr)

        def traced(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def catalyst(self, df) -> None:
        """Analysis, optimization and planning ms from QueryPlanningTracker."""
        phases = df._jdf.queryExecution().tracker().phases()

        def ms(k):
            return float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0

        self.catalyst_ms.append((ms("analysis"), ms("optimization"), ms("planning")))


def spark_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its stages' totals."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    listed = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    stages = {}
    for s in json.loads(mapper.writeValueAsString(listed)):
        if s.get("status") != "COMPLETE":
            continue
        stages[s["stageId"]] = s
    jobs = []
    for j in json.loads(mapper.writeValueAsString(store.jobsList(None))):
        if not j.get("submissionTime") or not j.get("completionTime"):
            continue
        run = [stages[i] for i in j.get("stageIds", []) if i in stages]
        jobs.append({
            "name": "spark.job",
            "description": j.get("description") or "",
            "start": _parse_ts(j["submissionTime"]),
            "end": _parse_ts(j["completionTime"]),
            "stages": len(run),
            "tasks": sum(s["numCompleteTasks"] for s in run),
            "cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
            "run_s": sum(s["executorRunTime"] for s in run) / 1e3,
            "input_bytes": sum(s["inputBytes"] for s in run),
            "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in run),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run),
        })
    return jobs


def _parse_ts(v) -> float:
    """Status-store dates arrive as epoch ms or as an ISO string."""
    if isinstance(v, (int, float)):
        return v / 1000.0
    return datetime.fromisoformat(v.replace("GMT", "+00:00").replace("Z", "+00:00")).timestamp()


def progress_spans(progress: list[dict]) -> list[dict]:
    """Op and add-batch spans for the non-empty micro-batches of a
    streaming query, from its progress reports."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = p["durationMs"]
        start = _parse_ts(p["timestamp"])
        end = start + d["triggerExecution"] / 1000.0
        commit = d.get("commitOffsets", 0) / 1000.0
        out.append({"name": "op", "op": p["batchId"], "start": start, "end": end})
        out.append({"name": "streaming.add_batch", "start": end - commit - d["addBatch"] / 1000.0,
                    "end": end - commit})
    return out


def assign(ops: list[dict], spans: list[dict]) -> dict[int, list[dict]]:
    """Group spans by the op (index into ``ops``) whose interval holds
    their start; spans outside every op are dropped."""
    starts = [o["start"] for o in ops]
    out: dict[int, list[dict]] = {i: [] for i in range(len(ops))}
    for s in spans:
        i = bisect.bisect_right(starts, s["start"]) - 1
        if i >= 0 and s["start"] <= ops[i]["end"]:
            out[i].append(s)
    return out


def layer_self_times(op: dict, spans: list[dict]) -> dict[str, float]:
    """Self time per layer inside one op: each span's duration minus what
    its direct children cover; a child's parent is the innermost span of
    a lower depth that holds its start."""
    nodes = [op] + [s for s in spans if s["name"] in DEPTH and s is not op]
    children: dict[int, list[tuple[float, float]]] = {id(n): [] for n in nodes}
    for n in nodes[1:]:
        cands = [p for p in nodes if DEPTH[p["name"]] < DEPTH[n["name"]]
                 and p["start"] <= n["start"] <= p["end"]]
        if not cands:
            continue
        parent = max(cands, key=lambda p: (DEPTH[p["name"]], -(p["end"] - p["start"])))
        children[id(parent)].append((n["start"], n["end"]))
    out: dict[str, float] = {}
    for n in nodes:
        own = self_time((n["start"], n["end"]), children[id(n)])
        out[n["name"]] = out.get(n["name"], 0.0) + own
    return out


def op_layer_metrics(ops: list[dict], spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Per-op averages shared by every workload."""
    grouped = assign(ops, spans + jobs)
    n = max(len(ops), 1)
    acc = {k: 0.0 for k in ("jobs", "stages", "tasks", "cpu_s", "run_s", "input_bytes",
                            "shuffle_bytes", "spill_bytes", "gap")}
    selfs: dict[str, float] = {k: 0.0 for k in DEPTH}
    for i, op in enumerate(ops):
        mine = grouped[i]
        js = [s for s in mine if s["name"] == "spark.job"]
        acc["jobs"] += len(js)
        for k in ("stages", "tasks", "cpu_s", "run_s", "input_bytes", "shuffle_bytes", "spill_bytes"):
            acc[k] += sum(j[k] for j in js)
        clipped = [(max(op["start"], j["start"]), min(op["end"], j["end"])) for j in js]
        acc["gap"] += (op["end"] - op["start"]) - union_length([c for c in clipped if c[1] > c[0]])
        for k, v in layer_self_times(op, mine).items():
            selfs[k] += v
    out = {
        "spark.jobs_per_op": acc["jobs"] / n,
        "spark.stages_per_op": acc["stages"] / n,
        "spark.tasks_per_op": acc["tasks"] / n,
        "spark.executor_cpu_s_per_op": acc["cpu_s"] / n,
        "spark.executor_run_s_per_op": acc["run_s"] / n,
        "spark.input_bytes_per_op": acc["input_bytes"] / n,
        "spark.shuffle_bytes_per_op": acc["shuffle_bytes"] / n,
        "spark.spill_bytes_per_op": acc["spill_bytes"] / n,
        "spark.driver_gap_s_per_op": acc["gap"] / n,
    }
    for k, v in selfs.items():
        out[f"self_s.{k}"] = v / n
    return out


def mean_span(spans: list[dict], name: str, n_ops: int) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / max(n_ops, 1)


def tree_files(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-batch means of the streaming harness's own durations."""
    d = [p["durationMs"] for p in progress]
    n = max(len(d), 1) * 1000.0
    return {
        "streaming.add_batch_s": sum(x["addBatch"] for x in d) / n,
        "streaming.trigger_overhead_s": sum(x["triggerExecution"] - x["addBatch"] for x in d) / n,
        "streaming.wal_commit_s": sum(x.get("walCommit", 0) for x in d) / n,
    }
