#!/usr/bin/env python3
"""Run each workload repeatedly and report how steady its end-to-end metrics are.

    python3 workbench/steadiness.py --runs 10 --sets 2 --out workbench/STEADINESS.json

Each set runs every workload once per seed (set k uses seeds 1000*k + 1 ..
1000*k + runs; workloads alternate within a seed). For every end-to-end metric
of BENCHMARK.json it prints the median, the quartiles (statistics.quantiles,
n=4) and the spread, (q3 - q1) / median, against the metric's bound. With two
or more sets it also prints the two-set agreement: how far the last set's
median moved from the first set's in the metric's worse direction, as a share
of the first median. A spread within a third of the bound and an agreement
within the bound are marked ok; setup_s is judged on agreement only.
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


def one_run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "wall_s": wall, "exit": p.returncode,
                "error": (p.stderr or "")[-2000:]}
    result = json.loads(lines[-1])
    report = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                   if ln.startswith("workbench-report ")), None)
    return {"workload": workload, "seed": seed, "wall_s": wall, "exit": 0,
            "result": result, "report": report}


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    runs = []
    for k in range(1, a.sets + 1):
        for i in range(1, a.runs + 1):
            seed = 1000 * k + i
            order = workloads if i % 2 else list(reversed(workloads))
            for w in order:
                r = one_run(w, seed, seconds)
                r["set"] = k
                runs.append(r)
                res = r.get("result") or {}
                print(f"set {k} {w:7s} seed {seed}: exit {r['exit']} wall {r['wall_s']:.1f} s "
                      f"correct {res.get('correct')} failed {res.get('failed')} " +
                      " ".join(f"{n}={v['value']:.4g}" for n, v in res.get("metrics", {}).items()),
                      flush=True)

    summary = {}
    ok_all = True
    for w in workloads:
        summary[w] = {}
        for m in metrics:
            name, bound, better = m["name"], m["bound"], m["better"]
            per_set = []
            for k in range(1, a.sets + 1):
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and r["set"] == k and "result" in r]
                if len(vals) >= 2:
                    per_set.append(summarize(vals))
            if not per_set:
                continue
            entry = {"bound": bound, "sets": per_set}
            entry["spread_ok"] = name == "setup_s" or all(s["spread"] <= bound / 3 for s in per_set)
            entry["spread_within_bound"] = name == "setup_s" or all(s["spread"] <= bound for s in per_set)
            if len(per_set) >= 2:
                m1, m2 = per_set[0]["median"], per_set[-1]["median"]
                worse = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
                entry["agreement"] = worse
                entry["agreement_ok"] = worse <= bound
            ok = entry["spread_within_bound"] and entry.get("agreement_ok", True)
            ok_all &= ok
            summary[w][name] = entry
            spreads = " ".join(f"{s['spread']:.3f}" for s in per_set)
            agree = f" agreement {entry['agreement']:+.3f}" if "agreement" in entry else ""
            print(f"{w:7s} {name:16s} median {per_set[0]['median']:.4g} "
                  f"q1 {per_set[0]['q1']:.4g} q3 {per_set[0]['q3']:.4g} "
                  f"spread {spreads} (bound {bound}, target {bound / 3:.3f}){agree} "
                  f"{'ok' if entry['spread_ok'] and entry.get('agreement_ok', True) else 'CHECK'}")
    failures = [r for r in runs if r["exit"] != 0 or not r["result"]["correct"]]
    print(f"runs {len(runs)}, failed or incorrect {len(failures)}, "
          f"mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s, "
          f"verdict {'steady' if ok_all and not failures else 'NOT steady'}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"seconds": seconds, "runs_per_set": a.runs, "sets": a.sets,
                       "summary": summary,
                       "runs": [{k: v for k, v in r.items() if k != "report"} |
                                {"report_metrics": {n: x["value"] for n, x in
                                                    ((r.get("report") or {}).get("metrics") or {}).items()}}
                                for r in runs]},
                      fh, indent=1)
            fh.write("\n")
    return 0 if ok_all and not failures else 1


if __name__ == "__main__":
    sys.exit(main())
