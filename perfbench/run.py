"""Benchmark of the extraction engine: the extract and search workloads.

    python3 perfbench/run.py --workload extract|search --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. One process drives Spark at local[nproc];
the run starts with a clean scratch directory and stops every process it
started. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also prints the span table and its own overhead before that line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H  # noqa: E402

END_TO_END = [
    ("rate_per_s", "1/s"),
    ("cpu_ms_per_item", "ms"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("pss_p50_mb", "MB"),
    ("setup_s", "s"),
]


class Phase:
    """The timed operations of a run, or the rounds a traced run adds."""

    def __init__(self):
        self.lat: list[float] = []
        self.items = 0
        self.cpu = 0.0
        self.pss: list[float] = []
        self.attempted = 0
        self.failed = 0

    def metrics(self) -> dict:
        if not self.lat:
            return {}
        wall = sum(self.lat)
        return {
            "rate_per_s": self.items / wall,
            "cpu_ms_per_item": self.cpu * 1e3 / self.items,
            "latency_p50_ms": H.median(self.lat) * 1e3,
            "latency_p90_ms": H.quantile(self.lat, 0.9) * 1e3,
            "pss_p50_mb": H.median(self.pss) if self.pss else H.tree_pss_mb(),
        }


def run_round(ops, phase: Phase, pss: H.PssSampler, counts: dict) -> bool:
    """Runs one round; returns False if an output check failed. Every
    operation's scratch output is removed, whether it succeeded or not."""
    from workloads import Meter

    ok = True
    for op in ops:
        phase.attempted += 1
        try:
            op.prepare()
            meter = Meter(pss)
            n_pss = len(pss.samples)
            try:
                op.run(meter)
            except Exception:
                traceback.print_exc()
                phase.failed += 1
                continue
            phase.lat.append(meter.wall)
            phase.cpu += meter.cpu
            phase.items += op.items
            phase.pss += pss.samples[n_pss:]
            try:
                for k, v in op.check().items():
                    counts[k] = counts.get(k, 0) + v
            except AssertionError as exc:
                print(f"CHECK FAILED: {exc}", file=sys.stderr)
                ok = False
        finally:
            op.cleanup()
    return ok


def check_warm_up(ops) -> bool:
    """Checks the warm-up operations a set-up ran; returns False if a check
    failed."""
    ok = True
    for op in ops:
        try:
            op.check()
        except AssertionError as exc:
            print(f"CHECK FAILED (warm-up): {exc}", file=sys.stderr)
            ok = False
        finally:
            op.cleanup()
    return ok


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    H.require_package()
    import inputs as I
    import layers as L
    from workloads import TRACE_ROUNDS, WORKLOADS

    I.ensure_corpus()
    log("corpus ready")
    H.fresh_run_dir()
    H.spark_env()
    trace = bool(args.trace)
    tracer = H.Tracer(False)
    wl = WORKLOADS[args.workload](None, args.seed, tracer)
    wl.prepare_setup()
    log("set-up inputs ready")
    pss = H.PssSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = H.start_spark(os.path.join(H.RUN_DIR, "eventlog") if trace else None)
        wl.spark = spark
        warm = wl.setup()
        setup_s = time.perf_counter() - t0
        log(f"set up in {setup_s:.2f}s")
        correct = check_warm_up(warm)
        tracer.enabled = trace

        phase = Phase()
        first_counts: dict = {}
        r = 0
        while sum(phase.lat) < args.seconds:
            log(f"round {r}")
            n_lat = len(phase.lat)
            round_counts: dict = {}
            correct &= run_round(wl.round(r), phase, pss, round_counts)
            log("latencies " + " ".join(f"{x:.3f}" for x in phase.lat[n_lat:]))
            if len(phase.lat) == n_lat:
                # every operation of the round raised: the timed seconds
                # would never add up, so end with what was attempted
                log("no operation of the round succeeded; stopping")
                break
            if r == 0:
                first_counts = round_counts
            r += 1

        extra = Phase()
        if trace:
            for name, cls in TRACE_ROUNDS.items():
                if name == args.workload:
                    continue
                # the other workload's set-up runs untraced first, as it
                # does before the timed rounds of its own runs
                other = cls(spark, args.seed, tracer)
                tracer.enabled = False
                other.prepare_setup()
                correct &= check_warm_up(other.setup())
                tracer.enabled = True
                round_counts = {}
                correct &= run_round(other.round(0), extra, pss, round_counts)
                for k, v in round_counts.items():
                    first_counts.setdefault(k, v)
            L.probe(spark, args.seed, tracer)
        log("timed phase done")
    finally:
        pss.close()
        H.stop_spark(spark)
        log("spark stopped")

    attempted = phase.attempted + extra.attempted
    failed = phase.failed + extra.failed
    e2e = phase.metrics()
    e2e["setup_s"] = setup_s
    # the tracing overhead compares a traced run with the last untraced run
    # of the same workload in this checkout
    last = os.path.join(H.STATE, f"last-{args.workload}.json")
    if not trace:
        with open(last, "w") as f:
            json.dump({"seed": args.seed, "metrics": e2e}, f)
        # a run whose every operation raised has only its set-up time
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END if n in e2e}
    else:
        groups = {s["op"] for s in tracer.spans if s["name"] == "op.extract"}
        stats = L.event_log(os.path.join(H.RUN_DIR, "eventlog"), groups)
        values = L.per_layer_metrics(tracer, stats, first_counts)
        try:
            with open(last) as f:
                base = json.load(f)
        except (OSError, ValueError):
            base = None
        tracer.dump(os.path.join(H.STATE, f"trace-{args.workload}-{args.seed}.json"))
        L.print_table(tracer, values, e2e, base)
        missing = [n for n, _, _ in L.PER_LAYER if n not in values]
        if missing:
            print(f"per-layer metrics not measured: {missing}", file=sys.stderr)
            correct = False
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u, _ in L.PER_LAYER if n in values}
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
