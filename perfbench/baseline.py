#!/usr/bin/env python3
"""Runs every workload of the graft benchmark over a range of seeds and
summarises the results the way a baseline or a before/after comparison
needs them: per end-to-end metric the median, the quartiles and the
spread (interquartile distance as a share of the median, from
statistics.quantiles(values, n=4)); then one traced run per workload
for the per-layer table, run twice to show that its counts repeat.

    python3 perfbench/baseline.py --seeds 10 --out perfbench/baseline.json

Run from the repository root. Each run goes through perfbench/run.py
with the settings in BENCHMARK.json.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2])["report"], time.time() - t0


def spread(values):
    values = [v for v in values if v is not None]
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "min": min(values), "max": max(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default="perfbench/baseline.json")
    a = ap.parse_args()
    bench = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    out = {"run_seconds": seconds, "seeds": list(range(a.first_seed, a.first_seed + a.seeds)),
           "left_out": "ingest: one upsert/refresh/vacuum cycle takes 20-35 s on 4 cores, so a run cannot "
                       "reach a steady state; the traced ann run measures one write cycle instead "
                       "(see perfbench/README.md)",
           "workloads": {}}
    for w in [x["name"] for x in bench["workloads"]]:
        runs = []
        for s in out["seeds"]:
            res, rep, wall = run(w, s, seconds, 0)
            runs.append({"seed": s, "wall_s": wall, "result": res, "named": rep["named"],
                         "per_kind": rep["per_kind"], "setup_runs_s": rep["setup_runs_s"]})
            print(f"{w} seed {s}: {wall:.0f} s, failed {res['failed']}/{res['attempted']}", file=sys.stderr)
        metrics = {m["name"]: spread([r["result"]["metrics"][m["name"]]["value"] for r in runs])
                   for m in bench["end_to_end"]}
        named = {k: spread([r["named"][k] for r in runs]) for k in runs[0]["named"]}
        traced = [run(w, out["seeds"][0], seconds, 1) for _ in range(2)]
        counts = {m["name"] for m in bench["per_layer"] if m["unit"] in ("count", "bytes")}
        first, second = (t[0]["metrics"] for t in traced)
        out["workloads"][w] = {
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "failed": sum(r["result"]["failed"] for r in runs),
            "end_to_end": metrics,
            "named": named,
            "per_layer": first,
            "per_layer_counts_repeat": all(first[k]["value"] == second[k]["value"] for k in counts),
            "ops": traced[0][1].get("ops", {}),
            "runs": runs,
        }
    pathlib.Path(a.out).write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
