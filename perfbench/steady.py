#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly on one commit and print,
for every end-to-end metric, the median, the quartiles and their spread
((q3 - q1) / median) beside the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py                      # 10 runs per workload
    python3 perfbench/steady.py --runs 5 --workloads query_mix
    python3 perfbench/steady.py --traced 3           # + tracing overhead
    python3 perfbench/steady.py --against .bench_build/steady-A.json

--against compares this set's medians with an earlier set's: a metric
"drifts" when the two medians differ by more than its bound, either way. Every run's
result line is kept in the summary written to .bench_build/steady-*.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        return None
    r = json.loads(p.stdout.strip().splitlines()[-1])
    r["wall_s"] = time.monotonic() - t0
    return r


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload, for tracing overhead")
    ap.add_argument("--against", help="earlier summary to compare medians with")
    a = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    earlier = None
    if a.against:
        with open(a.against) as fh:
            earlier = json.load(fh)["summary"]
    summary, runs, bad = {}, {}, 0
    for w in a.workloads.split(","):
        results = []
        for i in range(a.runs):
            r = run_once(w, a.seed0 + i, a.seconds, 0)
            results.append(r)
            ok = r is not None and r["correct"] and r["failed"] == 0
            bad += not ok
            print(f"{w} seed={a.seed0 + i} "
                  + ("FAILED" if r is None else
                     f"correct={r['correct']} {r['failed']}/{r['attempted']} failed "
                     + " ".join(f"{k}={v['value']:.4g}"
                                for k, v in r["metrics"].items())
                     + f" wall={r['wall_s']:.1f}s"),
                  flush=True)
        traced = [run_once(w, a.seed0 + 500 + i, a.seconds, 1)
                  for i in range(a.traced)]
        runs[w] = {"untraced": results, "traced": traced}
        good = [r for r in results if r]
        summary[w] = {}
        print(f"\n{w}: {len(good)} runs")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}  verdict")
        for name, m in metrics.items():
            vals = [r["metrics"][name]["value"] for r in good]
            if not vals:
                continue
            q1, md, q3 = quartiles(vals)
            spread = (q3 - q1) / md if md else float("inf")
            verdict = ("steady" if spread <= m["bound"] / 3 else
                       "within bound" if spread <= m["bound"] else "UNSTEADY")
            bad += verdict == "UNSTEADY"
            line = (f"  {name:<18}{md:>12.5g}{q1:>12.5g}{q3:>12.5g}"
                    f"{spread:>9.3f}{m['bound']:>7.2f}  {verdict}")
            summary[w][name] = {"median": md, "q1": q1, "q3": q3,
                                "spread": spread, "bound": m["bound"],
                                "values": vals}
            if earlier and name in earlier.get(w, {}):
                before = earlier[w][name]["median"]
                change = md / before - 1
                drift = "DRIFT" if abs(change) > m["bound"] else "agrees"
                bad += drift == "DRIFT"
                line += f"  vs {before:.5g}: {change:+.3f}, {drift}"
                summary[w][name]["vs_earlier"] = change
            print(line)
        tr = [r for r in traced if r]
        if tr:
            lat = statistics.median(r["metrics"]["trace.latency_ms"]["value"] for r in tr)
            thr = statistics.median(r["metrics"]["trace.throughput_per_s"]["value"] for r in tr)
            base_lat = summary[w]["latency_ms"]["median"]
            base_thr = summary[w]["throughput_per_s"]["median"]
            summary[w]["tracing_overhead"] = {
                "latency": lat / base_lat - 1, "throughput": thr / base_thr - 1}
            print(f"  tracing overhead ({len(tr)} traced runs): latency "
                  f"{lat / base_lat - 1:+.3f}, throughput {thr / base_thr - 1:+.3f}")
        print(flush=True)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_build", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump({"summary": summary, "runs": runs, "args": vars(a)}, fh, indent=1)
    print(f"summary: {out}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
