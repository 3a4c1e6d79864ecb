"""Steadiness check: run every workload as two alternating sets of runs.

    python3 perfbench/steady.py --runs 10
    python3 perfbench/steady.py --runs 5 --workloads lake_rw

Round i runs set A (seed 1000 + i) and then set B (seed 2000 + i) of every
workload, so host contention drifts over both sets alike. For each
end-to-end metric and workload it prints each set's median and quartiles,
the spread (quartile distance over median) and set B's median drift from
set A beside the metric's bound in BENCHMARK.json, then the same over both
sets together, plus each set's failed share and median host CPU-steal
share. Each run's result and context lines
are appended to ``perfbench/.run/out/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    context = next((json.loads(x[len("context "):]) for x in lines
                    if x.startswith("context ")), {})
    return {"workload": workload, "seed": seed, "context": context,
            "result": json.loads(lines[-1])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args()
    names = args.workloads.split(",")
    log = os.path.join(HERE, ".run", "out", "steady.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    runs = {(w, s): [] for w in names for s in "AB"}
    t0 = time.time()
    for i in range(args.runs):
        for s, base in (("A", 1000), ("B", 2000)):
            for w in names:
                rec = one_run(w, base + i, args.seconds)
                rec["set"] = s
                runs[(w, s)].append(rec)
                with open(log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"[{time.time() - t0:7.1f}s] {w} set {s} seed {rec['seed']}: "
                      f"failed {rec['result']['failed']}/{rec['result']['attempted']} "
                      f"steal {rec['context'].get('host_steal_share')}", flush=True)

    print(f"\n{'workload':14} {'metric':12} {'set':3} {'q1':>10} {'median':>10} "
          f"{'q3':>10} {'spread':>7} {'drift':>7} {'bound':>6}")
    for w in names:
        for m in bench["end_to_end"]:
            meds = {}
            for s in "AB":
                xs = [r["result"]["metrics"][m["name"]]["value"] for r in runs[(w, s)]]
                q1, q2, q3 = quartiles(xs)
                meds[s] = q2
                drift = "" if s == "A" else f"{(q2 - meds['A']) / meds['A']:+.3f}"
                print(f"{w:14} {m['name']:12} {s:3} {q1:10.4f} {q2:10.4f} {q3:10.4f} "
                      f"{(q3 - q1) / q2:7.3f} {drift:>7} {m['bound']:6.2f}")
            xs = [r["result"]["metrics"][m["name"]]["value"]
                  for s in "AB" for r in runs[(w, s)]]
            q1, q2, q3 = quartiles(xs)
            print(f"{w:14} {m['name']:12} all {q1:10.4f} {q2:10.4f} {q3:10.4f} "
                  f"{(q3 - q1) / q2:7.3f} {'':>7} {m['bound']:6.2f}")
        for s in "AB":
            rs = runs[(w, s)]
            share = sum(r["result"]["failed"] for r in rs) / sum(r["result"]["attempted"] for r in rs)
            steal = statistics.median(r["context"].get("host_steal_share", 0) for r in rs)
            print(f"{w:14} failed share {share:.4f}, median host steal {steal:.3f} (set {s})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
