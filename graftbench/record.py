#!/usr/bin/env python3
"""Writes a committed benchmark record: every workload, untraced and
traced, on the default seed and the hold-out seed.

Run from the repository root:

    python3 graftbench/record.py            # writes graftbench/records/baseline.json

For each workload it runs `run.py` untraced on each seed, traced on each
seed, and traced a second time on the first seed, then stores
- the end-to-end metrics (untraced) and the per-layer metrics (traced),
- the tracing overhead: 1 - traced ops_per_s / untraced ops_per_s,
- which `*jobs_per_call` counts repeat exactly between the two traced
  runs of the first seed, and which do not,
and copies the first seed's span files next to the record.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{p.stdout[-3000:]}{p.stderr[-3000:]}")
    with open(os.path.join(BENCH, "out", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def values(metrics):
    return {k: v["value"] for k, v in metrics.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", default=os.path.join(BENCH, "records", "baseline.json"))
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--seeds", default="1,2", help="default seed, then hold-out seed(s)")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    doc = {"seconds": a.seconds, "seeds": seeds, "workloads": {}}
    for wl in run.WORKLOADS:
        untraced = {s: one(wl, s, a.seconds, 0) for s in seeds}
        traced = {s: one(wl, s, a.seconds, 1) for s in seeds}
        spans = os.path.join(BENCH, "out", f"spans-{wl}-seed{seeds[0]}.json")
        shutil.copy(spans, os.path.join(os.path.dirname(a.out), os.path.basename(spans)))
        again = one(wl, seeds[0], a.seconds, 1)
        first, second = values(traced[seeds[0]]["per_layer"]), values(again["per_layer"])
        jobs = sorted(k for k in first if "jobs_per_call" in k and (first[k] or second[k]))
        doc["cpus"] = untraced[seeds[0]]["cpus"]
        doc["workloads"][wl] = {
            "end_to_end": {s: {**values(r["end_to_end"]), "n": {k: v["n"] for k, v in
                                                                  r["end_to_end"].items() if "n" in v},
                               "ops_by_kind": r["ops_by_kind"], "correct": r["correct"]}
                           for s, r in untraced.items()},
            "per_layer": {s: values(r["per_layer"]) for s, r in traced.items()},
            "tracing_overhead": {
                s: 1 - traced[s]["per_layer"]["trace.ops_per_s"]["value"]
                / untraced[s]["end_to_end"]["ops_per_s"]["value"] for s in seeds},
            "jobs_per_call_repeat": {
                "equal": [k for k in jobs if first[k] == second[k]],
                "differ": {k: [first[k], second[k]] for k in jobs if first[k] != second[k]},
            },
        }
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
