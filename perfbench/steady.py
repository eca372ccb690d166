"""Steadiness check: run every workload N times (a different seed each
time) and report, per end-to-end metric, the median, the quartiles, the
quartile spread as a share of the median (what BENCHMARK.json's bounds
are checked against) and the widest run-to-run spread.

    python3 perfbench/steady.py [--runs 10] [--sets 1] [--trace-overhead]

Every workload listed in BENCHMARK.json is run. Set k (from 1) uses
seeds 100 * (k - 1) + 1 onwards.

With `--sets 2` the whole set is run twice and the second set's
medians are compared with the first's. `--trace-overhead` adds one
traced run per workload and compares its own end-to-end figures with
the untraced medians. Results go to stdout as a table and, as JSON, to
`<build dir>/steady.json`.
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
sys.path.insert(0, HERE)
import build  # noqa: E402


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, seconds, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(r.stdout.strip().splitlines()[-1]), wall


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"median": m, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / m if m else 0.0,
            "widest_share": (max(values) - min(values)) / m if m else 0.0}


def one_set(b, workloads, runs, seed0):
    out = {}
    for w in workloads:
        rows, walls = [], []
        for i in range(runs):
            res, wall = run(w, seed0 + i, b["run_seconds"])
            rows.append(res)
            walls.append(wall)
            print(f"  {w} seed {seed0 + i}: {wall:.0f} s, correct={res['correct']}, "
                  f"failed {res['failed']}/{res['attempted']}, " + ", ".join(
                      f"{k} {v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                  file=sys.stderr)
        out[w] = {
            "metrics": {m["name"]: stats([r["metrics"][m["name"]]["value"] for r in rows])
                        for m in b["end_to_end"]},
            "runs": [{k: v["value"] for k, v in r["metrics"].items()} for r in rows],
            "failed_share": sorted({r["failed"] / r["attempted"] for r in rows}),
            "all_correct": all(r["correct"] for r in rows),
            "wall_s": stats(walls),
        }
    return out


def show(label, result, b):
    print(f"\n{label}")
    print(f"{'workload':10} {'metric':16} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'iqr/med':>8} {'widest':>8} {'bound':>6}")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    for w, r in result.items():
        for name, s in r["metrics"].items():
            print(f"{w:10} {name:16} {s['median']:10.4g} {s['q1']:10.4g} {s['q3']:10.4g} "
                  f"{s['iqr_share']:8.3f} {s['widest_share']:8.3f} {bounds[name]:6.2f}")
        print(f"{w:10} failed share {r['failed_share']}, all correct {r['all_correct']}, "
              f"run wall median {r['wall_s']['median']:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    b = bench()
    workloads = [w["name"] for w in b["workloads"]]
    build.ensure()
    report = {"sets": []}
    for s in range(a.sets):
        res = one_set(b, workloads, a.runs, 1 + 100 * s)
        report["sets"].append(res)
        show(f"set {s + 1}: {a.runs} runs per workload, seeds from {1 + 100 * s}", res, b)
    if a.sets > 1:
        print("\nsecond set median vs first (share; positive = worse)")
        for m in b["end_to_end"]:
            for w in workloads:
                m1 = report["sets"][0][w]["metrics"][m["name"]]["median"]
                m2 = report["sets"][1][w]["metrics"][m["name"]]["median"]
                worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
                print(f"  {w:10} {m['name']:16} {worse:+.3f} (bound {m['bound']})")
    if a.trace_overhead:
        report["trace_overhead"] = {}
        for w in workloads:
            run(w, 1, b["run_seconds"], trace=1)
            path = os.path.join(build.build_dir(), "trace", f"{w}-seed1", "summary.json")
            with open(path) as fh:
                traced = json.load(fh)["end_to_end_traced"]
            base = report["sets"][0][w]["metrics"]
            report["trace_overhead"][w] = {
                k: traced[k]["value"] / base[k]["median"] - 1 for k in base if base[k]["median"]}
            print(f"\ntraced vs untraced median ({w}): " + ", ".join(
                f"{k} {v:+.3f}" for k, v in report["trace_overhead"][w].items()))
    with open(os.path.join(build.build_dir(), "steady.json"), "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
