#!/usr/bin/env python3
"""Same-code steadiness check for the benchmark: runs each workload once
per seed and reports, per end-to-end metric, the median, the quartiles
and the spread (quartile distance over median) next to the metric's
bound from BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads ingest_foreign] [--out FILE]
                                    [--against EARLIER_OUT]

Run from the root of a checkout. With --out, the per-run values and the
summary are written as JSON (perfbench/STEADINESS.json collects such
files). With --against, each median is also compared with the same
metric's median in an earlier --out file: the drift is this median over
that one, minus 1.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    ap.add_argument("--against")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    earlier = None
    if a.against:
        with open(a.against) as fh:
            earlier = json.load(fh)["summary"]
    runs, summary = {}, {}
    for w in a.workloads.split(","):
        runs[w] = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.exit(f"{w} seed {s}: run failed ({p.returncode})")
            ctx, res = json.loads(lines[-2]), json.loads(lines[-1])
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            runs[w].append({"seed": s, "wall_s": round(time.time() - t0, 1),
                            "correct": res["correct"], "failed": res["failed"],
                            "box_kernel_ms_p50": ctx["box_kernel_ms"].get("p50"),
                            "metrics": vals})
            print(f"{w} seed {s}: " + " ".join(f"{k}={v:.4g}" for k, v in sorted(vals.items())),
                  file=sys.stderr)
        summary[w] = {}
        for m in sorted(bounds):
            xs = [r["metrics"][m] for r in runs[w]]
            q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
            summary[w][m] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "bound": bounds[m]}
            if earlier and m in earlier.get(w, {}):
                summary[w][m]["drift"] = med / earlier[w][m]["median"] - 1
    for w, ms in summary.items():
        print(f"\n{w}")
        print(f"  {'metric':18} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'drift':>7} {'bound':>6}")
        for m, r in ms.items():
            drift = f"{r['drift']:+7.3f}" if "drift" in r else f"{'':7}"
            print(f"  {m:18} {r['median']:10.4f} {r['q1']:10.4f} {r['q3']:10.4f}"
                  f" {r['spread']:7.3f} {drift} {r['bound']:6.2f}")
        widest = max(ms, key=lambda m: ms[m]["spread"])
        print(f"  widest spread: {widest} ({ms[widest]['spread']:.3f} of {ms[widest]['bound']})")
        if earlier:
            moved = max((m for m in ms if "drift" in ms[m]), key=lambda m: abs(ms[m]["drift"]))
            print(f"  largest drift: {moved} ({ms[moved]['drift']:+.3f} of {ms[moved]['bound']})")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"run_seconds": bench["run_seconds"], "summary": summary, "runs": runs},
                      fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
