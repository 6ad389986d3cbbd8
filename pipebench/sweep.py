#!/usr/bin/env python3
"""Run the benchmark of two checkouts, alternating them seed by seed, and
collect one result file per checkout.

Usage:
  python3 pipebench/sweep.py [--seeds 1-10] PARENT_DIR PARENT.json CHANGE_DIR CHANGE.json

Each DIR is the root of a checkout (a `git archive` of the commit); its own
`pipebench/run.py` runs inside it. For every workload of the change's
BENCHMARK.json: one untraced run per seed and checkout, the two checkouts
taking turns (parent then change on odd seeds, change then parent on even
ones), so the two runs of a seed are made about a minute apart and a drift
of the host speed lands on both sides alike; then one traced run per
checkout on the first seed, in the same alternating order. The files feed
pipebench/compare.py.
"""
import argparse
import json
import os
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "pipebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    info = [l for l in p.stderr.splitlines() if l.startswith("pipebench:")]
    sys.stderr.write(f"{root} {workload} seed={seed} trace={trace} exit={p.returncode} "
                     f"{time.time() - t0:.1f}s {info[-1] if info else ''}\n")
    return {"seed": seed, "exit": p.returncode, "elapsed_s": time.time() - t0, "result": res,
            "log": info}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("parent_dir")
    ap.add_argument("parent_out")
    ap.add_argument("change_dir")
    ap.add_argument("change_out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change_dir, "BENCHMARK.json")))
    sides = [(a.parent_dir, a.parent_out), (a.change_dir, a.change_out)]
    outs = [{"benchmark": bench, "workloads": {}} for _ in sides]
    ss = seeds(a.seeds)
    for w in [x["name"] for x in bench["workloads"]]:
        for o in outs:
            o["workloads"][w] = {"runs": [], "traced": None}
        for i, (s, trace) in enumerate([(s, 0) for s in ss] + [(ss[0], 1)]):
            order = (0, 1) if i % 2 == 0 else (1, 0)
            for k in order:
                r = run(sides[k][0], w, s, bench["run_seconds"], trace)
                if trace:
                    outs[k]["workloads"][w]["traced"] = r
                else:
                    outs[k]["workloads"][w]["runs"].append(r)
            for (_, path), o in zip(sides, outs):
                with open(path, "w") as f:
                    json.dump(o, f, indent=1)


if __name__ == "__main__":
    main()
