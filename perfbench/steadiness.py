"""Steadiness report: runs the benchmark on fresh seeds in two sets and
prints, per workload and end-to-end metric, each set's median and quartiles,
the spread (interquartile distance over the median) against the metric's
bound in BENCHMARK.json, and how far the second median moved from the first.

    python3 perfbench/steadiness.py                       # 2 sets x 10 runs, every workload
    python3 perfbench/steadiness.py --runs 5 --sets 1 --workloads session_reroute
    python3 perfbench/steadiness.py --report perfbench/.state/steadiness-<time>.json

Raw results go to perfbench/.state/steadiness-<time>.json; --report prints
the report for saved results against the bounds now in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["stdout"] = lines[:-1]
    print(f"  {workload} seed={seed} wall={wall:.1f}s correct={res['correct']} "
          f"failed={res['failed']}/{res['attempted']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
          flush=True)
    return res


def stats(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--report", help="print the report for saved raw results")
    args = ap.parse_args()

    if args.report:
        out = args.report
        with open(out) as fh:
            results = json.load(fh)
    else:
        results = {}
        seed = args.first_seed
        for s in range(args.sets):
            print(f"set {s + 1}", flush=True)
            for w in args.workloads:
                for _ in range(args.runs):
                    results.setdefault(w, [[] for _ in range(args.sets)])[s].append(
                        run_once(w, seed, args.seconds))
                    seed += 1
        os.makedirs(os.path.join(BENCH_DIR, ".state"), exist_ok=True)
        out = os.path.join(BENCH_DIR, ".state", f"steadiness-{int(time.time())}.json")
        with open(out, "w") as fh:
            json.dump(results, fh)
    return report(results, bench, out)


def report(results: dict, bench: dict, out: str) -> int:
    ok = True
    for w, sets in results.items():
        failed = sum(r["failed"] for rs in sets for r in rs)
        print(f"\n{w}: failed operations {failed}, wall per run "
              f"{statistics.median(r['wall_s'] for rs in sets for r in rs):.1f}s (median)")
        print(f"  {'metric':22} {'bound':>6} " + " ".join(
            f"{'set' + str(i + 1) + ' median [q1, q3] spread':>44}" for i in range(len(sets)))
            + "   moved")
        for m in bench["end_to_end"]:
            cells, meds = [], []
            for rs in sets:
                med, q1, q3, spread = stats([r["metrics"][m["name"]]["value"] for r in rs])
                meds.append(med)
                flag = "" if spread < m["bound"] / 3 else (" <bound" if spread < m["bound"] else " OVER")
                if m["name"] != "setup_s" and spread >= m["bound"]:
                    ok = False
                cells.append(f"{med:>10.4g} [{q1:.4g}, {q3:.4g}] {spread:6.1%}{flag:7}")
            moved = ""
            if len(meds) > 1:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                moved = f"{worse:+.1%}" + (" OVER" if worse > m["bound"] else "")
                ok &= worse <= m["bound"]
            print(f"  {m['name']:22} {m['bound']:6.2f} " + " ".join(f"{c:>44}" for c in cells)
                  + f"   {moved}")
    print(f"\nraw results: {out}\n{'STEADY' if ok else 'NOT STEADY'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
