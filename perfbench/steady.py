#!/usr/bin/env python3
"""Steadiness check: two interleaved sets of runs on one commit.

    python3 perfbench/steady.py --runs 10 [--trace] [--workloads curate ...]

Run i of set A and run i of set B use the same seed (seed = i + 1) and run
back to back, so slow periods of the machine hit both sets alike. For
every metric this prints each set's median, quartiles and spread (the
distance between the quartiles as a share of the median, as
statistics.quantiles(values, n=4) gives them). An end-to-end metric is
flagged when a set's spread exceeds its bound (setup_s excepted), when
set B's median is worse than set A's by more than the bound, or when the
share of failed operations differs between the sets. With --trace the
runs are traced and the per-layer metrics are reported instead, and
spark.jobs is flagged unless it repeats exactly.

This is how the bounds in BENCHMARK.json were set and how a workload or
metric is shown to be too unsteady to keep. Raw results go to --out.
Exits 1 when anything is flagged.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def one_run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    # a layer the workload never calls reads 0 in every run
    return q1, med, q3, (q3 - q1) / med if med else float(q3 != q1) * float("inf")


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    results = {w: {"A": [], "B": []} for w in a.workloads}
    for i in range(a.runs):
        for w in a.workloads:
            for s in ("A", "B"):
                res = one_run(w, i + 1, a.seconds, int(a.trace))
                results[w][s].append(res)
                print(f"{w} set {s} seed {i + 1}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())
                    if not a.trace or k in ("spark.jobs", "trace.wall_s")),
                    flush=True)
    if a.out:
        a.out.write_text(json.dumps(results, indent=1))

    flagged = []
    for w, sets in results.items():
        print(f"\n{w}")
        shares = {s: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                  for s, rs in sets.items()}
        if shares["A"] != shares["B"]:
            flagged.append(f"{w}: failed share {shares['A']} vs {shares['B']}")
        if not all(r["correct"] for rs in sets.values() for r in rs):
            flagged.append(f"{w}: a run reported incorrect output")
        for m in sorted(sets["A"][0]["metrics"]):
            row = []
            stats = {}
            for s, rs in sets.items():
                vals = [r["metrics"][m]["value"] for r in rs]
                if len(vals) < 2:
                    continue
                q1, med, q3, sp = spread(vals)
                stats[s] = (med, sp, vals)
                row.append(f"{s}: median {med:.4g} [{q1:.4g}, {q3:.4g}] spread {sp:.1%}")
            print(f"  {m:32s} " + " | ".join(row))
            if len(stats) < 2:
                continue
            if m in bounds:
                b = bounds[m]
                (ma, sa, _), (mb, sb, _) = stats["A"], stats["B"]
                if m != "setup_s" and max(sa, sb) > b:
                    flagged.append(f"{w} {m}: spread {max(sa, sb):.1%} > bound {b:.0%}")
                if mb > ma * (1 + b):
                    flagged.append(f"{w} {m}: set B median {mb:.4g} worse than "
                                   f"A {ma:.4g} by more than {b:.0%}")
            if m == "spark.jobs" and len({v for st in stats.values() for v in st[2]}) > 1:
                flagged.append(f"{w} spark.jobs does not repeat exactly")
    print("\nflagged:" if flagged else "\nnothing flagged")
    for f in flagged:
        print("  " + f)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
