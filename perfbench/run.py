"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_mix,corpus_dedup}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  Starts the engine's SparkSession through
``get_spark`` at its defaults (``local[nproc]``), sets up the workload,
runs a fixed warm-up, then one closed-loop client over a fixed number of
ops that ``--seconds`` sets (about that many seconds of work).  The
last stdout line is the result: ``correct``, ``attempted``, ``failed`` and
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``), with the names and units listed in ``BENCHMARK.json``.  The line before it carries host facts and per-op
latencies for the steadiness command.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import stats  # noqa: E402


def load_benchmark() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object = None


def parse_args(argv, bench: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail_percentiles(lat: list[float]) -> dict:
    """Every tail percentile the sample supports, for the detail line."""
    out = {}
    for q in (0.75, 0.9):
        if len(lat) >= stats.min_samples(q):
            out[f"p{round(q * 100)}_s"] = stats.percentile(lat, q)
    return out


def main(argv=None) -> int:
    bench = load_benchmark()
    args = parse_args(argv, bench)
    load_start, cpu_start = common.loadavg_1m(), common.cpu_times()
    if not os.path.isdir(os.path.join(common.ROOT, "nginx_analytics_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(common.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    common.prepare_env(work)
    workload = importlib.import_module(args.workload)
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
    spark = None
    try:
        spark, spark_s = common.start_spark()
        ctx = Ctx(spark, work, args.seed, args.seconds, tracer)
        res = workload.run(ctx)
        host = common.host_facts(spark, args.seed, load_start, cpu_start)
        rss = common.peak_rss_mb(spark)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    attempted, failed = stats.count_failures([o.ok for o in ops])
    lat = [o.latency for o in ops]
    e2e = {
        "setup_s": spark_s + res["setup_extra_s"],
        "latency_p50_s": stats.percentile(lat, 0.5),
        "throughput_per_s": res["throughput_per_s"],
    }
    detail = {
        "workload": args.workload,
        "host": host,
        "samples": len(lat),
        **tail_percentiles(lat),
        "latency_trend": stats.trend(lat, [o.kind for o in ops]),
        "latencies_s": lat,
    }
    if args.trace:
        # a layer the workload never reaches reads 0
        layer = {**res.get("per_layer", {}), "driver.peak_rss_mb": rss,
                 "traced.throughput_per_s": res["throughput_per_s"]}
        out = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
               for m in bench["per_layer"]}
    else:
        out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
        detail["driver_peak_rss_mb"] = rss
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": bool(res["correct_extra"]) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
