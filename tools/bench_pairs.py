#!/usr/bin/env python3
"""Compare two checkouts on one perfbench workload with alternating pairs.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed S [--out FILE]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i` once in
each checkout (untraced, BENCHMARK.json's run_seconds), the parent first
in even pairs and the change first in odd ones, and reads each run's
result JSON line. For every end-to-end metric of BENCHMARK.json it prints
the median [Q1-Q3] of each side, how many pairs the change won, and one
verdict against the metric's `better` and `bound`:
  worse       the change's median is worse than the parent's by more than the bound;
  unresolved  either side's interquartile spread is wider than the bound,
              unless every change run beats every parent run;
  within      otherwise.
Beside it, whether a gain on the metric could be claimed (the claim rule
of the choosing-metrics guide, section 8):
  gain        the change won at least 9/10 of the pairs, ties counting for
              neither, and its median is better than the parent's by more
              than the parent's interquartile range;
  no gain     otherwise.
The last line is the workload's verdict: the worst of its metrics'.

A run that fails stops the comparison: the table covers the pairs
completed before it, the failed run is named with its side, seed, exit
code and the tail of its stderr, and the script exits non-zero. `--out`
writes every run made, failed ones included, as a JSON list of
{pair, seed, side, checkout, exit, metrics}.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed):
    """One untraced perfbench run in `checkout`: (exit code, metric values or
    None when the run failed, stderr)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return p.returncode, None, p.stderr
    return p.returncode, {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}, p.stderr


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def relative(x, base):
    return x / base if base else (0.0 if x == 0 else float("inf"))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--out", help="write every run's metrics to this JSON file")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    sides = {"parent": [], "change": []}
    runs, failed = [], None
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            code, values, stderr = run(getattr(a, side), a.workload, seed)
            runs.append({"pair": i + 1, "seed": seed, "side": side, "checkout": getattr(a, side),
                         "exit": code, "metrics": values})
            if values is None:
                failed = (side, seed, code, stderr)
                break
            sides[side].append(values)
        if failed:
            break
        print(f"pair {i + 1}/{a.pairs} (seed {seed}, {order[0]} first): " + ", ".join(
            f"{m['name']} {sides['parent'][-1][m['name']]:.4g}/{sides['change'][-1][m['name']]:.4g}"
            for m in metrics), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)

    # a failed pair's completed run does not count
    done = min(len(sides["parent"]), len(sides["change"]))
    if done:
        report(a.workload, metrics, sides["parent"][:done], sides["change"][:done])
    if failed:
        side, seed, code, stderr = failed
        sys.stderr.write(stderr[-3000:])
        sys.exit(f"perfbench failed: {side} run, seed {seed}, exit {code}, in {getattr(a, side)}; "
                 f"{done} of {a.pairs} pairs completed")


def report(workload, metrics, parent, change):
    """Prints each metric's medians, wins and verdict, then the workload's."""
    print(f"== {workload}: {len(parent)} pairs, parent vs change, median [Q1-Q3]")
    verdicts = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name] for r in parent]
        c = [r[name] for r in change]
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(p), quartiles(c)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        worse = relative(cmed - pmed if lower else pmed - cmed, pmed)
        spread = max(relative(pq3 - pq1, pmed), relative(cq3 - cq1, cmed))
        dominates = max(c) < min(p) if lower else min(c) > max(p)
        verdict = ("worse" if worse > m["bound"] else
                   "unresolved" if spread > m["bound"] and not dominates else "within")
        verdicts.append(verdict)
        gap = pmed - cmed if lower else cmed - pmed
        gain = "gain" if 10 * wins >= 9 * len(p) and gap > pq3 - pq1 else "no gain"
        print(f"  {name:18s} parent {pmed:.4g} [{pq1:.4g}-{pq3:.4g}]  change {cmed:.4g} [{cq1:.4g}-{cq3:.4g}] "
              f"{m['unit']}  wins {wins}/{len(p)}  worse by {worse:+.1%}  spread {spread:.1%}  "
              f"bound {m['bound']:.0%}: {verdict}, {gain}")
    print(f"verdict {workload}: " + next(v for v in ("worse", "unresolved", "within") if v in verdicts))


if __name__ == "__main__":
    main()
