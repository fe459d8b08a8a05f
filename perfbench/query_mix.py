"""``query_mix``: one closed-loop client running seeded interactive ops.

Each op is one builder call plus its action (the result collected to the
driver with ``toPandas()``) and is checked against recorded row counts and
order-insensitive digests.  Three families:

* ``log``: registered log-analytics queries from the reference group;
* ``warehouse``: reads of a ``raw_logs`` table that set-up stages by
  draining 20k nginx events through the log ingest stream
  (``start_ingest``: ``parse_enrich_validated`` then
  ``Warehouse.append_raw_logs``) — point ``remote_addr`` lookups and
  ``raw_logs_window`` trailing-window history;
* ``corpus``: registered corpus queries that fire eager jobs while
  building (the heavy mode).

Ops come in cycles that run a fixed multiset of ops (``CYCLE``).  The
timed window is a fixed number of cycles that depends on ``--seconds``
only, never on how fast the engine is, so every run times the same ops;
the seed orders each cycle and picks the lookup keys and windows.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

import gen
import tracing
from common import Op, frame_digest

LOG_QUERIES = (
    "parse_enrich",
    "batch_ip_stats",
    "hourly_reagg",
    "zscore_anomaly",
    "top_endpoints",
    "distinct_users",
    "traffic_forecast",
)
CORPUS_QUERIES = (
    "minhash_lsh_pairs",
    "dedup_clusters",
    "quality_survivors",
    "incremental_near_dups_probe",
    "jaccard_pairs_prefix",
    "embedding_lsh_pairs",
)
# One cycle runs every op of this multiset once, in a seeded order: each
# log query, lookup and window SHORT_REPEAT times and each corpus query
# once.  36 short ops of 42 put p50 at the 58th percentile of the short
# mode and p90 at the 71st of the heavy one.
SHORT_REPEAT = 4
CYCLE = ([("log", q) for q in LOG_QUERIES] * SHORT_REPEAT
         + [("lookup", None), ("window", None)] * SHORT_REPEAT
         + [("corpus", q) for q in CORPUS_QUERIES])
# Timed cycles per run: one per CYCLE_S seconds of --seconds, at least one.
CYCLE_S = 15.0
STAGE_BATCHES, STAGE_EVENTS = 4, 5_000
WINDOW_DAYS = 3
LOOKUP_COLS = ("request_id", "status_code", "request_time_seconds", "timestamp")
WINDOW_COLS = ("request_id", "remote_addr", "status_code", "request_time_seconds")
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def staged_logs() -> list[gen.LogBatch]:
    """The raw_logs content: 20k events over January 2024 (fixed seed)."""
    span = timedelta(days=30) / STAGE_BATCHES
    return [
        gen.nginx_lines(gen.TABLE_SEED, b, STAGE_EVENTS, gen.EPOCH + b * span, span)
        for b in range(STAGE_BATCHES)
    ]


def op_sequence(seed: int, n_cycles: int, ips: list[str]) -> list[tuple[str, object]]:
    """Seeded ops, (family, argument), ``len(CYCLE)`` per cycle: the seed
    orders each cycle and picks the lookup keys and windows."""
    rng = np.random.default_rng([seed, 11])
    out = []
    for _ in range(n_cycles):
        for i in rng.permutation(len(CYCLE)):
            fam, arg = CYCLE[int(i)]
            if fam == "lookup":
                arg = ips[int(rng.integers(0, len(ips)))]
            elif fam == "window":
                day = int(rng.integers(3, 31))
                arg = (f"2024-01-{day:02d} {int(rng.integers(0, 24)):02d}:00:00", WINDOW_DAYS)
            out.append((fam, arg))
    return out


# A corpus query that stages an at-rest index on first touch: set-up work.
INDEX_PROBES = ("incremental_near_dups_probe",)


def warmup_sequence() -> list[tuple[str, object]]:
    """Fixed warm-up: every short op twice, and the probe that stages its
    index.  The other corpus queries are not warmed: a cycle runs each of
    them once, so every run times them cold alike.  (A third pass cost
    2.7 s of set-up and did not shrink the short ops' within-run trend in
    a five-run probe.)"""
    short = [("log", q) for q in LOG_QUERIES] + [
        ("lookup", "10.0.1.7"), ("window", ("2024-01-20 00:00:00", WINDOW_DAYS))]
    return short + [("corpus", q) for q in INDEX_PROBES] + short


class Expected:
    """Row counts and digests each op must reproduce."""

    def __init__(self, batches: list[gen.LogBatch]):
        with open(EXPECTED) as f:
            self.queries = json.load(f)["queries"]
        self.rows = [r for b in batches for r in b.rows]

    def lookup(self, ip: str) -> tuple[int, str]:
        rows = [(rid, st, rt, ts) for (a, rid, st, rt, ts) in self.rows if a == ip]
        return frame_digest(pd.DataFrame(rows, columns=list(LOOKUP_COLS)))

    def window(self, as_of: str, days: int) -> tuple[int, str]:
        hi = datetime.fromisoformat(as_of)
        lo = hi - timedelta(days=days)
        rows = [(rid, ip, st, rt) for (ip, rid, st, rt, ts) in self.rows if lo < ts <= hi]
        return frame_digest(pd.DataFrame(rows, columns=list(WINDOW_COLS)))

    def query(self, name: str) -> tuple[int, str]:
        e = self.queries[name]
        return e["rows"], e["digest"]


class QueryMix:
    def __init__(self, spark, work: str, tracer=None):
        from nginx_analytics_spark import registry
        from nginx_analytics_spark.sources.warehouse import Warehouse

        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.sf = gen.write_tables(os.path.join(work, "tables"))
        self.batches = staged_logs()
        self.staged = os.path.join(work, "staged")
        os.makedirs(self.staged)
        for i, b in enumerate(self.batches):
            with open(os.path.join(self.staged, f"b{i}.json"), "w") as f:
                f.write("\n".join(b.lines) + "\n")
        self.expected = Expected(self.batches)
        self.ips = sorted({r[0] for b in self.batches for r in b.rows})
        self.wh = Warehouse(spark, os.path.join(work, "warehouse"))
        self.builders = registry.queries()

    def stage(self) -> bool:
        """Engine-side staging: drain the staged JSONL through the log
        ingest stream (``start_ingest``, one file per micro-batch).
        Returns whether ``raw_logs`` holds exactly the events the producer
        validation keeps, per ``log_date``."""
        from nginx_analytics_spark.sources.warehouse import RAW_LOGS
        from nginx_analytics_spark.streaming import ingest

        committed: list[int] = []
        q = ingest.start_ingest(
            ingest.jsonl_stream(self.spark, self.staged, max_files_per_trigger=1), self.wh,
            os.path.join(self.work, "checkpoint"), trigger={"availableNow": True},
            on_batch=lambda _b, n: committed.append(n),
        )
        q.awaitTermination()
        self.progress = [p for p in q.recentProgress if p["numInputRows"]]
        want: dict[str, int] = {}
        for b in self.batches:
            for d, c in b.per_date.items():
                want[d] = want.get(d, 0) + c
        got = {str(r[0]): r[1] for r in self.wh.table(RAW_LOGS).groupBy("log_date").count().collect()}
        return got == want and sorted(committed) == sorted(b.valid for b in self.batches)

    def build(self, fam: str, arg):
        from pyspark.sql import functions as F

        from nginx_analytics_spark.sources.warehouse import RAW_LOGS

        if fam == "lookup":
            return self.wh.table(RAW_LOGS).filter(F.col("remote_addr") == arg).select(*LOOKUP_COLS)
        if fam == "window":
            return self.wh.raw_logs_window(*arg).select(*WINDOW_COLS)
        return self.builders[arg](self.spark, self.sf)

    def expect(self, fam: str, arg) -> tuple[int, str]:
        if fam == "lookup":
            return self.expected.lookup(arg)
        if fam == "window":
            return self.expected.window(*arg)
        return self.expected.query(arg)

    def run_op(self, fam: str, arg) -> Op:
        """Build + action, timed; the digest check runs after the clock."""
        t = self.tracer
        start = time.time()
        t0 = time.perf_counter()
        try:
            if t:
                with t.span("registry.build"):
                    df = self.build(fam, arg)
                with t.span("spark.action"):
                    pdf = df.toPandas()
            else:
                df = self.build(fam, arg)
                pdf = df.toPandas()
            lat = time.perf_counter() - t0
            if t:
                t.add("op", start, start + lat, op=fam)
                t.catalyst(df)
            ok = frame_digest(pdf) == self.expect(fam, arg)
        except Exception as e:  # an op that raises counts as failed
            lat = time.perf_counter() - t0
            ok = False
            print(f"op {fam} {arg} failed: {e!r}"[:400], flush=True)
        if not ok:
            print(f"op {fam} {arg}: result mismatch or error", flush=True)
        return Op(lat, ok, kind=fam if fam in ("lookup", "window") else arg)


def run(ctx) -> dict:
    from nginx_analytics_spark.sources import warehouse
    from nginx_analytics_spark.streaming import ingest

    mix = QueryMix(ctx.spark, ctx.work, ctx.tracer)
    t0 = time.perf_counter()
    if ctx.tracer:
        ctx.tracer.wrap(ingest, "parse_enrich_validated", "parse.build")
        ctx.tracer.wrap(warehouse.Warehouse, "append_raw_logs", "warehouse.append")
    try:
        staged_ok = mix.stage()
    finally:
        if ctx.tracer:
            ctx.tracer.restore()
    for fam, arg in warmup_sequence():
        mix.run_op(fam, arg)
    setup = time.perf_counter() - t0
    staging = None
    if ctx.tracer:
        staging = staging_layers(ctx, mix)
        ctx.tracer.spans.clear()
        ctx.tracer.catalyst_ms.clear()
    n_cycles = max(1, round(ctx.seconds / CYCLE_S))
    ops = [mix.run_op(fam, arg) for fam, arg in op_sequence(ctx.seed, n_cycles, mix.ips)]
    result = {
        "ops": ops,
        "setup_extra_s": setup,
        "throughput_per_s": len(ops) / sum(o.latency for o in ops),
        "correct_extra": staged_ok,
    }
    if ctx.tracer:
        result["per_layer"] = {**layers(ctx), **staging}
    return result


def staging_layers(ctx, mix: QueryMix) -> dict:
    """The log-ingest layers, from the set-up stream's micro-batches."""
    from nginx_analytics_spark.sources.warehouse import RAW_LOGS

    spans = tracing.progress_spans(mix.progress)
    ops = [s for s in spans if s["name"] == "op"]
    timed = [s for v in tracing.assign(ops, ctx.tracer.spans).values() for s in v]
    files, size = tracing.tree_files(mix.wh.path(RAW_LOGS))
    rows = sum(b.valid for b in mix.batches)
    return {
        **tracing.streaming_metrics(mix.progress),
        "parse.build_s": tracing.mean_span(timed, "parse.build", len(ops)),
        "parse.valid_ratio": rows / sum(len(b.lines) for b in mix.batches),
        "warehouse.append_s": tracing.mean_span(timed, "warehouse.append", len(ops)),
        "warehouse.files_per_batch": files / len(ops),
        "warehouse.bytes_per_event": size / rows,
    }


def layers(ctx) -> dict:
    t = ctx.tracer
    ops = sorted((s for s in t.spans if s["name"] == "op"), key=lambda s: s["start"])
    n = len(ops)
    inner = [s for s in t.spans if s["name"] != "op"]
    jobs = tracing.spark_jobs(ctx.spark)
    out = tracing.op_layer_metrics(ops, inner, jobs)
    build_jobs = 0
    for spans in tracing.assign(ops, inner + jobs).values():
        builds = [s for s in spans if s["name"] == "registry.build"]
        for j in spans:
            if j["name"] == "spark.job" and any(b["start"] <= j["start"] <= b["end"] for b in builds):
                build_jobs += 1
    cat = t.catalyst_ms
    out.update({
        "registry.build_s": tracing.mean_span(inner, "registry.build", n),
        "registry.build_jobs": build_jobs / n,
        "catalyst.analysis_ms": sum(c[0] for c in cat) / len(cat),
        "catalyst.optimization_ms": sum(c[1] for c in cat) / len(cat),
        "catalyst.planning_ms": sum(c[2] for c in cat) / len(cat),
        "spark.action_s": tracing.mean_span(inner, "spark.action", n),
    })
    return out
