#!/usr/bin/env python3
"""Markdown tables from graft.Bench's bench_full.json dumps. Usage:

    python3 tools/scale_table.py bench_full.json
        per-query cold (pass 1) and warm (pass 2) time in ms and Spark
        jobs per pass, slowest warm time first, with a total row.
    python3 tools/scale_table.py /tmp/scale_1x.json /tmp/scale_10x.json
        the 1x/10x scale table (min of the two passes per query), sorted
        by ratio descending, flagging ratios > 3x.
"""
import json, sys


def ms(sec):
    return "FAIL" if sec is None or sec < 0 else f"{sec * 1000:.1f}"


def jobs(q):
    j = ["-" if q.get(p) is None else str(q[p]["jobs"]) for p in ("prof1", "prof2")]
    return j[0] if j[0] == j[1] else "/".join(j)


def cold_warm(path):
    d = json.load(open(path))
    qs = d["queries"]
    print(f"sf {d.get('sf')}; total {d.get('total', -1):.3f} s; "
          f"failed {d.get('failed', 0)} {d.get('failed_names', [])}\n")
    print("| query | cold p1 (ms) | warm p2 (ms) | jobs |")
    print("|---|---|---|---|")
    for name in sorted(qs, key=lambda n: -qs[n]["p2"]):
        q = qs[name]
        print(f"| {name} | {ms(q['p1'])} | {ms(q['p2'])} | {jobs(q)} |")
    ok = [q for q in qs.values() if q["p1"] >= 0 and q["p2"] >= 0]
    njobs = [sum((q.get(p) or {}).get("jobs", 0) for q in qs.values()) for p in ("prof1", "prof2")]
    print(f"| **total ({len(ok)} of {len(qs)})** | {ms(sum(q['p1'] for q in ok))} | "
          f"{ms(sum(q['p2'] for q in ok))} | {njobs[0]}/{njobs[1]} |")


def ratio_table(path1, path10):
    a = json.load(open(path1))["queries"]
    b = json.load(open(path10))["queries"]
    rows = []
    for name in sorted(a):
        t1, t10 = a[name]["min"], b.get(name, {}).get("min", -1)
        ratio = (t10 / t1) if (t1 and t1 > 0 and t10 > 0) else float("nan")
        rows.append((name, t1, t10, ratio))
    rows.sort(key=lambda r: -(r[3] if r[3] == r[3] else -1))
    print("| query | 1x (s) | 10x (s) | ratio | flag |")
    print("|---|---|---|---|---|")
    for name, t1, t10, ratio in rows:
        flag = "**>3x**" if ratio == ratio and ratio > 3 else ""
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x | {flag} |")
    flagged = [r for r in rows if r[3] == r[3] and r[3] > 3]
    print(f"\n{len(rows)} queries; {len(flagged)} above 3x: {[r[0] for r in flagged]}")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        cold_warm(sys.argv[1])
    elif len(sys.argv) == 3:
        ratio_table(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
