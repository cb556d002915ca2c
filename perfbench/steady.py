"""Steadiness check: repeat untraced runs and report each end-to-end
metric's median, quartiles and spread, and how far two sets of runs apart.

    python3 perfbench/steady.py --workload extract --runs 10 --sets 2

Each run is ``run.py`` in a fresh process with its own seed (set s, run i
uses seed ``1000*s + i``) at the ``run_seconds`` of BENCHMARK.json, run one
after another so no two runs share the machine. The spread is (q3 - q1) / median with Python's
``statistics.quantiles(values, n=4)``; the gap is the largest relative
difference between two sets' medians. Results are appended to
``.bench_build/perfbench/steady-<workload>.jsonl``.
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

import harness as H  # noqa: E402


def one_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=H.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}")
    return json.loads(lines[-1])


def summary(results: list[dict]) -> dict[str, dict]:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / statistics.median(vals)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    args = ap.parse_args()
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    log = os.path.join(H.STATE, f"steady-{args.workload}.jsonl")
    sets = []
    for s in range(args.sets):
        results = []
        for i in range(args.runs):
            seed = 1000 * s + i
            r = one_run(args.workload, seed, seconds)
            results.append(r)
            os.makedirs(H.STATE, exist_ok=True)
            with open(log, "a") as f:
                f.write(json.dumps({"set": s, "seed": seed, **r}) + "\n")
            print(f"set {s} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        sets.append(results)

    sums = [summary(rs) for rs in sets]
    print(f"\n{args.workload}: {args.runs} runs x {args.sets} sets, {seconds} s each")
    print(f"{'metric':18s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for name in sums[0]:
        for s, sm in enumerate(sums):
            m = sm[name]
            print(f"{name:18s} {s:3d} {m['median']:12.5g} {m['q1']:12.5g} "
                  f"{m['q3']:12.5g} {m['spread']:8.2%}")
        meds = [sm[name]["median"] for sm in sums]
        if len(meds) > 1:
            gap = max(abs(a - b) / min(a, b) for a in meds for b in meds)
            print(f"{name:18s} gap between set medians: {gap:.2%}")
    shares = {round(sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs), 9)
              for rs in sets}
    print(f"failed share per set: {sorted(shares)}; all correct: "
          f"{all(r['correct'] for rs in sets for r in rs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
