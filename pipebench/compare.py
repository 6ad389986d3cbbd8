#!/usr/bin/env python3
"""Compare two sweep result files (parent first, change second).

Usage (from the repository root):
  python3 pipebench/compare.py PARENT.json CHANGE.json

The two files are the two outputs of one pipebench/sweep.py run, which
alternates the checkouts seed by seed, so each seed's pair of runs was
made about a minute apart.

For each workload and end-to-end metric: median, quartiles and sample
count of both sides, the share of seed-paired runs the change won (ties
count for neither side), and a verdict against the metric's bound in
BENCHMARK.json:
  improved    the change won at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread;
  no worse    the change's median is not worse than the parent's by more
              than the bound;
  unresolved  the parent's own spread is wider than the bound, and not
              every change run beats every parent run;
  worse       the change's median is worse by more than the bound.
Then the per-layer deltas of the two traced runs, and the tracing
overhead (traced run wall minus untraced median wall) on each side.
"""
import json
import statistics
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(side, workload, metric):
    """{seed: value} of one metric over a side's successful untraced runs."""
    out = {}
    for r in side["workloads"].get(workload, {}).get("runs", []):
        res = r.get("result")
        if res and metric in res["metrics"]:
            out[r["seed"]] = res["metrics"][metric]["value"]
    return out


def verdict(a, b, pairs, m):
    """The verdict of one workload x metric (see the module doc)."""
    lower = m["better"] == "lower"
    ma, mb = statistics.median(a), statistics.median(b)
    gain = (ma - mb) if lower else (mb - ma)  # > 0: the change is better
    q1, _, q3 = quartiles(a)
    spread = (q3 - q1) / abs(ma)
    won = sum(1 for x, y in pairs if (y < x if lower else y > x))
    share = won / len(pairs) if pairs else 0.0
    all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
    if share >= 0.9 and gain > q3 - q1 and gain > 0:
        v = "improved"
    elif spread > m["bound"] and not all_better:
        v = f"unresolved (parent spread {spread:.3f} > bound {m['bound']})"
    elif -gain <= m["bound"] * abs(ma):
        v = "no worse"
    else:
        v = f"worse ({-gain / abs(ma):+.3f} > bound {m['bound']})"
    return share, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    pa, pb = (json.load(open(p)) for p in sys.argv[1:3])
    bench = json.load(open("BENCHMARK.json"))
    print(f"{'workload':16s} {'metric':20s} {'parent med [q1,q3] n':>34s} "
          f"{'change med [q1,q3] n':>34s} {'won':>6s}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["end_to_end"]:
            va, vb = values(pa, w, m["name"]), values(pb, w, m["name"])
            if not va or not vb:
                print(f"{w:16s} {m['name']:20s} missing runs (parent {len(va)}, change {len(vb)})")
                continue
            a, b = sorted(va.values()), sorted(vb.values())
            share, v = verdict(a, b, [(va[s], vb[s]) for s in va if s in vb], m)
            qa, qb = quartiles(a), quartiles(b)
            ma, mb = qa[1], qb[1]
            fa = f"{ma:.4g} [{qa[0]:.4g},{qa[2]:.4g}] {len(a)}"
            fb = f"{mb:.4g} [{qb[0]:.4g},{qb[2]:.4g}] {len(b)}"
            print(f"{w:16s} {m['name']:20s} {fa:>34s} {fb:>34s} {share:6.0%}  {v}")

    print("\nper-layer (traced runs), parent -> change, metrics not 0 on both sides:")
    for w in [x["name"] for x in bench["workloads"]]:
        ta, tb = (side["workloads"].get(w, {}).get("traced") or {} for side in (pa, pb))
        ma_, mb_ = ((t.get("result") or {}).get("metrics", {}) for t in (ta, tb))
        for k in sorted(set(ma_) | set(mb_)):
            x, y = ma_.get(k, {}).get("value"), mb_.get(k, {}).get("value")
            if x is None or y is None or x == y == 0:
                continue
            d = f"{(y - x) / x:+.1%}" if x else "new"
            print(f"  {w:16s} {k:52s} {x:12.4g} -> {y:12.4g}  {d}")
        for name, side, t in (("parent", pa, ma_), ("change", pb, mb_)):
            wall = values(side, w, "wall_s")
            if "run.wall_s" in t and wall:
                over = t["run.wall_s"]["value"] - statistics.median(wall.values())
                print(f"  {w:16s} tracing overhead ({name}): {over:+.3f} s")


if __name__ == "__main__":
    main()
