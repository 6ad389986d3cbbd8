#!/usr/bin/env python3
"""Read the span rows graft.Bench writes next to its bench file
(`graft_bench.telemetry.json`; graft.Verify's `telemetry.json` reads too).

Usage:
  tools/bench_compare.py A.telemetry.json              # where the time and jobs go
  tools/bench_compare.py A.telemetry.json B.telemetry.json   # A -> B deltas

One file: the top rows by wall and by jobs. Two files: per query and per
family (name prefix up to the first `_`) the wall delta with each side's
pass spread (max - min over passes), jobs, shuffle bytes (read + write)
and codegen compiles (`compiles`; 0 in files written before the field);
memo rows (`memo:<node>`, one per session-memo build) in their own table.
Wall is each span's self time (`self_s`: its wall minus the memo builds
nested in it), so a shared build counts once, in its memo row. Each name's
numbers are medians over the passes it ran in.
"""
import json
import statistics
import sys
from collections import defaultdict

TOP = 20


def load(path):
    """name -> pass -> {"wall", "jobs", "shuffle", "compiles", "error"},
    summed when a name has several rows in one pass."""
    rows = defaultdict(lambda: defaultdict(
        lambda: {"wall": 0.0, "jobs": 0, "shuffle": 0, "compiles": 0, "error": None}))
    for r in json.load(open(path))["rows"]:
        v = rows[r["name"]][r.get("pass", 1)]
        v["wall"] += r["self_s"]
        v["jobs"] += r["jobs"]
        v["shuffle"] += r["shuffle_read_bytes"] + r["shuffle_write_bytes"]
        v["compiles"] += r.get("compiles", 0)
        v["error"] = v["error"] or r.get("error")
    return rows


def med(passes, key):
    return statistics.median(v[key] for v in passes.values())


def spread(passes):
    walls = [v["wall"] for v in passes.values()]
    return max(walls) - min(walls)


def mb(b):
    return f"{b / 1048576:.1f}"


def single(rows):
    def table(key):
        print(f"\n== top {TOP} by {'self time' if key == 'wall' else key}")
        print(f"{'name':44} {'self_s':>8} {'jobs':>6} {'shuffle_mb':>10} {'compiles':>8}")
        for n, p in sorted(rows.items(), key=lambda kv: -med(kv[1], key))[:TOP]:
            err = "  FAILED" if any(v["error"] for v in p.values()) else ""
            print(f"{n:44} {med(p, 'wall'):8.3f} {med(p, 'jobs'):6.0f} {mb(med(p, 'shuffle')):>10}"
                  f" {med(p, 'compiles'):8.0f}{err}")
    table("wall")
    table("jobs")


def compare(ra, rb):
    def line(n, a, b):
        wa, wb = med(a, "wall"), med(b, "wall")
        return (f"{n:44} {wa:8.3f} {wb:8.3f} {wb - wa:+8.3f} {spread(a):6.3f} {spread(b):6.3f}"
                f" {med(a, 'jobs'):5.0f} -> {med(b, 'jobs'):<5.0f}"
                f" {mb(med(a, 'shuffle')):>8} -> {mb(med(b, 'shuffle')):<8}"
                f" {med(a, 'compiles'):5.0f} -> {med(b, 'compiles'):.0f}")

    header = (f"{'name':44} {'A self':>8} {'B self':>8} {'delta':>8} {'A sprd':>6} {'B sprd':>6}"
              f" {'jobs A -> B':13} {'shuffle MB A -> B':20} compiles A -> B")
    names = sorted(set(ra) & set(rb))
    queries = [n for n in names if not n.startswith("memo:") and n != "(no span)"]
    memos = [n for n in names if n.startswith("memo:")]

    print(f"== queries: top {TOP} by |self time delta| of {len(queries)} in both")
    print(header)
    for n in sorted(queries, key=lambda n: -abs(med(rb[n], "wall") - med(ra[n], "wall")))[:TOP]:
        print(line(n, ra[n], rb[n]))
    moved = [n for n in queries if med(ra[n], "jobs") != med(rb[n], "jobs")]
    print(f"\n== queries whose job count moved: {len(moved)}")
    for n in moved:
        print(line(n, ra[n], rb[n]))

    def families(rows):
        fam = defaultdict(lambda: defaultdict(lambda: {"wall": 0.0, "jobs": 0, "shuffle": 0, "compiles": 0}))
        for n in queries:
            for p, v in rows[n].items():
                f = fam[n.split("_")[0]][p]
                for k in f:
                    f[k] += v[k]
        return fam

    fa, fb = families(ra), families(rb)
    print("\n== families (per-pass sums over the queries in both)")
    print(header)
    for k in sorted(fa):
        print(line(k, fa[k], fb[k]))

    print(f"\n== memo builds: {len(memos)} in both")
    print(header)
    for n in memos:
        print(line(n, ra[n], rb[n]))
    for side, only in (("A", set(ra) - set(rb)), ("B", set(rb) - set(ra))):
        if only:
            print(f"\nonly in {side}: {', '.join(sorted(only))}")


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    if len(argv) == 2:
        single(load(argv[1]))
    else:
        compare(load(argv[1]), load(argv[2]))


if __name__ == "__main__":
    main(sys.argv)
