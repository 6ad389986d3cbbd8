#!/usr/bin/env python3
"""Pipeline benchmark entry point.

Usage (from the repository root):
  python3 pipebench/run.py --workload W --seed N --seconds S --trace 0|1 [--smoke]

Builds the engine, generates the workload's inputs from the seed (untimed),
times the JVM's cold start, runs the workload closed-loop in that JVM (a
fixed number of timed runs, sized to fill S seconds), checks the outputs
against their DuckDB oracles and pinned fingerprints, and prints one JSON
object as the last line of stdout. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
--smoke runs the same path on tiny inputs. See pipebench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170   # every run must end within 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# kind, inputs, smoke inputs (sf0.1 density: 66.7 events a case, 3,333 a day),
# and the nominal length of one timed run in seconds: a process makes
# --seconds / nominal timed runs (at least one), a count that depends on
# --seconds alone, never on how fast the code under test is
WORKLOADS = {
    "paper_2k": ("events", dict(events=2_000, cases=30, days=0.6),
                 dict(events=500, cases=8, days=0.15), 15),
    "corpus_ingest": ("corpus", dict(documents=100, vectors=100),
                      dict(documents=50, vectors=50), 7),
}

LAYERS = [
    "pm.EnabledTime.withEnabled", "pm.BatchDiscovery.segment",
    "pm.BatchDiscovery.discoverFromSeg", "pm.BatchDiscovery.discoverFullFromStages",
    "pm.WaitingTimes.batchCaseWT", "pm.Reporting.render",
    "rules.Features.featuresTable", "rules.ActivationRulesText.render",
    "pm.Ep1.analyze", "sources.EventLogCsv.writeCsvGz",
    "ext.Dedup", "ext.Similarity", "ext.TextOps", "ext.Pipeline",
]
LAYER_METRICS = [("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("task_s", "s"),
                 ("core_util", "ratio"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                 ("failed_tasks", "count")]


def java_cmd(work, *args):
    return (["java", *ADD_OPENS, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{build.OUT}:{build.classpath()}", "pipebench.PipeBench", "--work", work, *args])


def start_to_ready(cmd, log, timeout):
    """Launch `cmd`, return (process, seconds from launch to its READY line)."""
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    timer = threading.Timer(timeout, p.kill)
    timer.start()
    ready = None
    for line in p.stdout:
        if line.strip() == "READY":
            ready = time.perf_counter() - t0
            break
    p.timer = timer
    return p, ready


def finish(p):
    p.stdout.read()
    p.wait()
    p.timer.cancel()
    return p.returncode


def steal_s():
    """Host-wide CPU time stolen by the hypervisor so far (diagnostic)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fail(msg):
    sys.stderr.write(f"pipebench: {msg}\n")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same code path")
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root (no src/main/scala here)")
    import oracle  # imports tools/check.py of the repository
    build.build()
    t_start = time.perf_counter()  # a run must end within 180 s, builds excepted

    kind, full, smoke, nominal_s = WORKLOADS[a.workload]
    timed_runs = max(1, int(a.seconds // nominal_s))
    size = smoke if a.smoke else full
    tag = f"{a.workload}-{a.seed}{'-smoke' if a.smoke else ''}"
    data = os.path.abspath(f".bench_build/data/{tag}-" + "-".join(f"{v}" for v in size.values()))
    gen.generate(kind, a.seed, size, data)

    work = os.path.abspath(f".bench_build/work/{tag}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    log = open(f"{work}/jvm.log", "w")

    steal0 = steal_s()
    remaining = DEADLINE_S - (time.perf_counter() - t_start) - 15
    p, setup = start_to_ready(java_cmd(work, "--workload", a.workload, "--data", data,
                                       "--runs", str(timed_runs), "--trace", str(a.trace)),
                              log, remaining)
    if finish(p) != 0 or setup is None:
        log.close()
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        fail(f"workload run failed (exit {p.returncode})")
    res = json.load(open(f"{work}/result.json"))
    runs = res["runs"]
    timed = [r for r in runs if r["kind"] == "timed"]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for r in runs:
        for e in r["errors"]:
            sys.stderr.write(f"pipebench: run {r['id']} failed call {e}\n")

    checked, mismatches = oracle.check(a.workload, a.seed, a.smoke, data, f"{work}/check")

    if a.trace:
        metrics = {}
        for layer in LAYERS:
            for m, unit in LAYER_METRICS:
                vals = [r["layers"].get(layer, {}).get(m, 0.0) for r in timed]
                metrics[f"{layer}.{m}"] = {"value": median(vals), "unit": unit}
        metrics["run.wall_s"] = {"value": median([r["wall_s"] for r in timed]), "unit": "s"}
        metrics["run.jobs"] = {"value": median([sum(l["jobs"] for l in r["layers"].values()) + r["jobs"]
                                                for r in timed]), "unit": "count"}
    else:
        metrics = {
            "wall_s": {"value": median([r["wall_s"] for r in timed]), "unit": "s"},
            "setup_s": {"value": setup, "unit": "s"},
            "block_mb_peak": {"value": median([r["block_mb_peak"] for r in timed]), "unit": "MB"},
            "ok_ratio": {"value": (attempted - failed) / attempted, "unit": "ratio"},
            "oracle_match_ratio": {"value": (checked - mismatches) / max(checked, 1), "unit": "ratio"},
        }
    sys.stderr.write(f"pipebench: {a.workload} seed={a.seed} runs={[round(r['wall_s'], 3) for r in runs]} "
                     f"setup={setup:.3f} checked={checked} mismatches={mismatches} "
                     f"steal={steal_s() - steal0:.1f}s total={time.perf_counter() - t_start:.1f}s\n")
    for d in ("out", "spark-local", "tmp"):
        shutil.rmtree(f"{work}/{d}", ignore_errors=True)
    out = {"correct": failed == 0 and mismatches == 0 and checked > 0,
           "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
