#!/usr/bin/env python3
"""Steadiness check for the nerdspark benchmark.

    python3 perfbench/steady.py [--workloads ingest,serve] [--seeds 10] [--sets 1]
                                [--overhead]

Runs every chosen workload once per seed 1..N (untraced, for BENCHMARK.json's
run_seconds), printing each run's values, then reports for each end-to-end
metric the sample count, median, quartiles and the spread (q3 - q1) /
median, with the quartiles taken as `statistics.quantiles(n=4)` gives them.
A metric whose spread exceeds its bound in BENCHMARK.json is flagged
UNSTEADY; one whose spread exceeds a third of its bound is flagged "wide".
With `--sets 2` the seeds run twice and the second set's median may not be
worse than the first's by more than the bound. With `--overhead` each seed
also runs traced, and the tracing overhead is reported as the traced op
median over the untraced one. Exits 1 when any check fails. Run from the
root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def worse(metric, before, after):
    """Share by which `after` is worse than `before`."""
    d = (after - before) / before
    return d if metric["better"] == "lower" else -d


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()

    e2e = {m["name"]: m for m in spec["end_to_end"]}
    ok = True
    for w in a.workloads.split(","):
        sets, failed, traced = [], 0, []
        for _ in range(a.sets):
            vals = {m: [] for m in e2e}
            for seed in range(1, a.seeds + 1):
                r = run(w, seed, spec["run_seconds"], 0)
                if r is None or not r["correct"]:
                    failed += 1
                    print(f"{w} seed {seed}: run failed or incorrect: {r and r['failed']}")
                    continue
                for m in e2e:
                    vals[m].append(r["metrics"][m]["value"])
                print(f"{w} seed {seed}: " + " ".join(f"{m}={vals[m][-1]:.5g}" for m in e2e),
                      flush=True)
                if a.overhead:
                    t = run(w, seed, spec["run_seconds"], 1)
                    if t is not None:
                        traced.append(t["metrics"]["trace.op_p50_ms"]["value"])
            sets.append({m: summary(v) for m, v in vals.items() if v})
        ok &= failed == 0
        print(f"\n== {w}: {a.seeds} seeds x {a.sets} set(s), {failed} failed run(s)")
        print(f"{'metric':<14}{'n':>4}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}")
        for m, spec_m in e2e.items():
            for s in sets:
                if m not in s:
                    continue
                flag = ""
                if s[m]["spread"] > spec_m["bound"]:
                    flag, ok = "UNSTEADY", False
                elif s[m]["spread"] > spec_m["bound"] / 3:
                    flag = "wide"
                print(f"{m:<14}{s[m]['n']:>4}{s[m]['median']:>14.4f}{s[m]['q1']:>14.4f}"
                      f"{s[m]['q3']:>14.4f}{s[m]['spread']:>9.3f}{spec_m['bound']:>7}  {flag}")
            if len(sets) == 2 and m in sets[0] and m in sets[1]:
                d = worse(spec_m, sets[0][m]["median"], sets[1][m]["median"])
                bad = d > spec_m["bound"]
                ok &= not bad
                print(f"{'':<14}second set worse by {d:+.3f}{'  DRIFT' if bad else ''}")
        if traced and "op_p50_ms" in sets[0]:
            ov = statistics.median(traced) / sets[0]["op_p50_ms"]["median"] - 1
            print(f"tracing overhead on op_p50_ms: {ov:+.3f} ({len(traced)} traced runs)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
