"""Steadiness proof: two alternated sets of runs of the same code.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--traced 2]

Run from the repository root. Per workload, run i (seed 1000 + i) goes
to set A or B in the pattern A, B, B, A, A, B, B, A, ... -- the same
alternation used when a parent commit and a change are compared. For
every end-to-end metric it prints each set's median and quartile
spread (IQR / median) and how far B's median sits from A's, against the
metric's bound in BENCHMARK.json. With --traced K it adds K traced runs
per workload, lists every per-layer count (jobs, stages,
shuffle_records) that does not repeat exactly, and the tracing overhead
(traced ops.wall_s against the untraced wall_s median).

Every raw run is appended to .perfbench_work/steadiness.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("jobs", "stages", "shuffle_records")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True).stdout.splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace,
           **json.loads(out[-2]), "result": json.loads(out[-1])}
    with open(os.path.join(".perfbench_work", "steadiness.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def spread(xs: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10, help="runs per set")
    p.add_argument("--workloads",
                   default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--traced", type=int, default=0)
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for i in range(2 * args.runs):
            rec = _run(wl, 1000 + i, bench["run_seconds"], 0)
            ok &= rec["result"]["correct"]
            sets["B" if i % 4 in (1, 2) else "A"].append(rec)
            print(f"{wl} seed {1000 + i}: steal_s {rec['record']['steal_s']} "
                  f"probe {rec['record']['probe_before_s']}/"
                  f"{rec['record']['probe_after_s']} " + " ".join(
                      f"{k}={v['value']:.4g}"
                      for k, v in rec["result"]["metrics"].items()), flush=True)
        for name, bound in bounds.items():
            vals = {s: [r["result"]["metrics"][name]["value"] for r in rs]
                    for s, rs in sets.items()}
            med = {s: statistics.median(v) for s, v in vals.items()}
            sp = {s: spread(v) for s, v in vals.items()}
            drift = abs(med["B"] - med["A"]) / med["A"]
            good = drift <= bound and (name == "setup_s" or max(sp.values()) <= bound)
            ok &= good
            print(f"{wl} {name}: median A {med['A']:.4g} B {med['B']:.4g} "
                  f"drift {drift:.3f} spread A {sp['A']:.3f} B {sp['B']:.3f} "
                  f"bound {bound} {'ok' if good else 'OVER'}", flush=True)
        if args.traced:
            traced = [_run(wl, 2000, bench["run_seconds"], 1)
                      for _ in range(args.traced)]
            ms = [r["result"]["metrics"] for r in traced]
            for k in ms[0]:
                if k.rsplit(".", 1)[-1] in EXACT:
                    vs = [m[k]["value"] for m in ms]
                    if len(set(vs)) > 1:
                        print(f"{wl} traced {k} does not repeat: {vs}")
            untraced = statistics.median(
                r["result"]["metrics"]["wall_s"]["value"]
                for r in sets["A"] + sets["B"])
            tw = statistics.median(m["ops.wall_s"]["value"] for m in ms)
            attr = min(m["ops.job_attribution"]["value"] for m in ms)
            print(f"{wl} tracing overhead: traced wall {tw:.3f} s vs untraced "
                  f"{untraced:.3f} s ({(tw - untraced) / untraced:+.1%}); "
                  f"min job attribution {attr:.4f}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
