"""Steadiness check: is the benchmark repeatable on this host?

    python3 perfbench/steady.py [--workloads query_mix,corpus_dedup]
                                [--runs 5] [--traced 1]

Run from the repository root.  For each workload, runs two sets of
``--runs`` fresh processes at ``BENCHMARK.json``'s ``run_seconds`` (seeds
101, 102, .., the same list in both sets) and prints, per end-to-end
metric and set, the median and the quartile spread (Q3-Q1)/median.  It
flags:

* a spread above the metric's bound in ``BENCHMARK.json``;
* two set medians that differ by more than the bound;
* a run whose ops drift from the first to the second half of the timed
  window by more than the ``latency_p50_s`` bound, each op compared with
  later runs of the same op (an unfinished JIT ramp, say).

``--traced N`` adds N traced runs per workload and reports tracing
overhead as traced vs untraced ``throughput_per_s``.  Exits 1 when
anything is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
SETS = 2
FIRST_SEED = 101


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    return {"detail": detail, "result": result}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    flags: list[str] = []
    summary: dict = {}
    for wl in args.workloads.split(","):
        sets = []
        for s in range(SETS):
            runs = []
            for i in range(args.runs):
                r = run_once(wl, FIRST_SEED + i, seconds, 0)
                res, det = r["result"], r["detail"]
                if not res["correct"] or res["failed"]:
                    flags.append(f"{wl} set {s} seed {FIRST_SEED + i}: incorrect or failed ops")
                drift = det["latency_trend"]
                if abs(drift) > bounds["latency_p50_s"]:
                    flags.append(f"{wl} set {s} seed {FIRST_SEED + i}: latency drifts "
                                 f"{drift:+.1%} from first to second half")
                runs.append(r)
                print(f"{wl} set {s} seed {FIRST_SEED + i}: "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                      + f" samples={det['samples']} drift={drift:+.1%}"
                      + f" load={det['host']['loadavg_1m_start']:.1f}"
                      + f" steal={det['host']['cpu_steal_share']:.1%}", flush=True)
            sets.append(runs)
        summary[wl] = {}
        for m in bench["end_to_end"]:
            name, unit, better = m["name"], m["unit"], m["better"]
            meds = []
            for s, runs in enumerate(sets):
                vals = [r["result"]["metrics"][name]["value"] for r in runs]
                med = statistics.median(vals)
                spread = stats.quartile_spread(vals) if len(vals) >= 2 else 0.0
                meds.append(med)
                print(f"{wl:13s} {name:18s} set {s}: median {med:.4g} {unit} spread {spread:.1%}"
                      f" (bound {bounds[name]:.0%})")
                summary[wl].setdefault(name, []).append({"median": med, "spread": spread})
                if spread > bounds[name]:
                    flags.append(f"{wl} {name} set {s}: spread {spread:.1%} > bound")
            for s in range(1, len(meds)):
                worse = stats.relative_change(meds[s], meds[0], better)
                if abs(worse) > bounds[name]:
                    flags.append(f"{wl} {name}: set {s} median differs from set 0 by {worse:+.1%}")
        if args.traced:
            base = statistics.median(r["result"]["metrics"]["throughput_per_s"]["value"]
                                     for runs in sets for r in runs)
            traced = [run_once(wl, FIRST_SEED + i, seconds, 1)["result"]["metrics"]
                      ["traced.throughput_per_s"]["value"] for i in range(args.traced)]
            overhead = 1 - statistics.median(traced) / base
            summary[wl]["tracing_overhead"] = overhead
            print(f"{wl:13s} tracing overhead {overhead:+.1%} of throughput_per_s")
    print(json.dumps({"steadiness": summary, "flags": flags}))
    for f in flags:
        print("FLAG", f)
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
