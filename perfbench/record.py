"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/record.py --seeds 1-10 [--traced-seeds 1-3]
        [--out perfbench/baselines/NAME.json]

Runs every workload of ``BENCHMARK.json`` for its ``run_seconds``, one
workload at a time, never two at once (a concurrent Spark job
would disturb the timings): first the untraced runs of ``--seeds``, then
the traced runs of ``--traced-seeds``.  For every workload and metric it
reports the values, their median and quartiles
(``statistics.quantiles(n=4)``) and the spread: the distance between the
quartiles as a share of the median.  The tracing overhead is the median,
over the seeds run both ways, of the traced ``trace.op_p50_ms`` minus the
untraced ``op_p50_ms``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in filter(None, text.split(",")):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    info = next((json.loads(ln[len("perfbench "):]) for ln in lines
                 if ln.startswith("perfbench ")), {})
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"seed": seed, "trace": trace, "rc": proc.returncode, "wall_s": wall,
            "info": info, "result": result}


def summarise(runs: list[dict]) -> dict:
    by_metric: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in runs:
        for k, v in (r["result"] or {}).get("metrics", {}).items():
            by_metric.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    out = {}
    for k, vals in by_metric.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[k] = {"unit": units[k], "median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0, "values": vals}
    return out


def _runs(workload: str, seeds: list[int], seconds: float, trace: int) -> list[dict]:
    runs = []
    for seed in seeds:
        r = run_once(workload, seed, seconds, trace)
        runs.append(r)
        print(f"{workload} seed={seed} trace={trace} rc={r['rc']} wall={r['wall_s']:.1f}s "
              f"correct={(r['result'] or {}).get('correct')}", file=sys.stderr, flush=True)
    return runs


def _overhead_ms(untraced: list[dict], traced: list[dict]) -> float | None:
    base = {r["seed"]: r["result"]["metrics"]["op_p50_ms"]["value"]
            for r in untraced if r["result"]}
    diffs = [r["result"]["metrics"]["trace.op_p50_ms"]["value"] - base[r["seed"]]
             for r in traced if r["result"] and r["seed"] in base]
    return statistics.median(diffs) if diffs else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--traced-seeds", default="")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record: dict = {"seconds": seconds, "workloads": {}}
    for w in workloads:
        untraced = _runs(w, parse_seeds(args.seeds), seconds, 0)
        traced = _runs(w, parse_seeds(args.traced_seeds), seconds, 1)
        entry: dict = {}
        for name, runs in (("untraced", untraced), ("traced", traced)):
            if runs:
                entry[name] = {
                    "runs": [{k: r[k] for k in ("seed", "rc", "wall_s")} for r in runs],
                    "host": runs[-1]["info"],
                    "metrics": summarise(runs),
                }
        entry["tracing_overhead_ms"] = _overhead_ms(untraced, traced)
        record["workloads"][w] = entry
        for k, s in entry.get("untraced", {}).get("metrics", {}).items():
            flag = "" if s["spread"] <= bounds.get(k, 1.0) / 3 else "  <-- above bound/3"
            print(f"  {w:6s} {k:14s} median={s['median']:12.4f} spread={s['spread']:.3f}"
                  f" bound={bounds.get(k)}{flag}", file=sys.stderr)
    text = json.dumps(record, indent=1, sort_keys=True)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
