#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify, then
compare every query's parquet output against its DuckDB oracle SQL.

Usage: python3 tools/check.py [sfdir] [--only q1,q2] [--keep]

Fidelity notes (round-8 regression): the driver hashes TYPED values, so this
gate is dtype-STRICT after normalize() — int64 vs float64 must FAIL here,
exactly as the driver's hash does. Round 7 shipped two queries (cx_rolling,
e5_cohort) whose oracle SQL summed uncast BIGINTs; DuckDB typed the sums
HUGEINT (materialized float64) while Spark emitted int64, and the old
check_dtype=False compare hid it. Additionally, any oracle OUTPUT column
that DuckDB types as HUGEINT is rejected outright (sweep) — wrap integer
sums in CAST(... AS BIGINT) in the oracle SQL.
"""
import json, os, shutil, subprocess, sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.001"
ONLY = None
for a in sys.argv:
    if a.startswith("--only="):
        ONLY = set(a.split("=", 1)[1].split(","))
OUT = "/tmp/graft_verify_" + os.path.basename(SF.rstrip("/"))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def spark_env():
    """The Verify JVM's cores and heap: SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM
    from the environment, else sized to the host like the ScalaTest run in
    ROADMAP.md (every core this process may run on, and half of MemTotal
    clamped to 2-8g)."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if "SPARK_DRIVER_MEM" not in env:
        try:
            with open("/proc/meminfo") as f:
                kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
            env["SPARK_DRIVER_MEM"] = f"{min(8, max(2, kb // 2097152))}g"
        except (OSError, StopIteration):
            env["SPARK_DRIVER_MEM"] = "2g"
    return env


def main():
    if os.path.exists(OUT):
        shutil.rmtree(OUT)
    env = spark_env()
    if ONLY:
        env["SPARK_GRAFT_ONLY"] = ",".join(sorted(ONLY))
    r = subprocess.run([os.path.join(REPO, "tools", "run.sh"), "graft.Verify", SF, OUT],
                       capture_output=True, text=True, env=env)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-8000:])
        sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

    con = duckdb.connect()
    # Signed-integer-division parity preflight (round-10 advice): embDrift's
    # cross-engine correctness on negative-mean dimensions rests on DuckDB
    # `//` truncating toward zero exactly like Spark `div` (-7 // 2 -> -3 on
    # both; FunctionsSpec pins the Spark half). If a DuckDB upgrade switches
    # to floor semantics, fail HERE instead of via a subtle hash mismatch.
    assert con.sql("SELECT -7 // 2").fetchone()[0] == -3, \
        "DuckDB // no longer truncates toward zero — embDrift oracle parity broken"
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))

    produced = sorted(d for d in os.listdir(OUT) if os.path.isdir(os.path.join(OUT, d)))
    # A query that threw in Spark writes no output dir — iterate over the
    # EXPECTED set (queries.json manifest written by Verify) so crashed
    # queries count as FAIL instead of being silently skipped.
    qmanifest = os.path.join(OUT, "queries.json")
    expected = sorted(json.load(open(qmanifest))) if os.path.exists(qmanifest) else produced
    fmanifest = os.path.join(OUT, "failures.json")
    failures = json.load(open(fmanifest)) if os.path.exists(fmanifest) else {}
    npass = nfail = nweak = 0
    names = sorted(set(expected) | set(produced))
    for name in names:
        if name not in produced:
            print(f"  FAIL  {name}: no output (Spark error: {failures.get(name, 'unknown')[:200]})")
            nfail += 1
            continue
        if ONLY and name not in ONLY:
            continue
        got = pd.read_parquet(os.path.join(OUT, name))
        if name not in oracle:
            print(f"  WEAK  {name}: rows={len(got)} (no oracle)")
            nweak += 1
            continue
        try:
            rel = con.sql(oracle[name])
            # Type-discipline sweep: a HUGEINT output column means an uncast
            # integer sum in the oracle — pandas materializes it float64
            # while Spark emits int64, and the driver's typed hash fails.
            huge = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
            if huge:
                print(f"  FAIL  {name}: oracle output column(s) {huge} typed HUGEINT — wrap in CAST(... AS BIGINT)")
                nfail += 1
                continue
            exp = rel.df()
        except Exception as e:
            print(f"  FAIL  {name}: oracle SQL error: {str(e)[:200]}")
            nfail += 1
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            print(f"  FAIL  {name}: columns spark={list(g.columns)} oracle={list(e.columns)}")
            nfail += 1
            continue
        if len(g) != len(e):
            print(f"  FAIL  {name}: rows spark={len(g)} oracle={len(e)}")
            nfail += 1
            continue
        dt_mismatch = [(c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns
                       if str(g[c].dtype) != str(e[c].dtype)]
        if dt_mismatch:
            # The driver hashes typed values: int64 vs float64 is a real FAIL.
            print(f"  FAIL  {name}: dtype mismatch (spark,oracle): {dt_mismatch}")
            nfail += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=True, check_exact=True)
            print(f"  PASS  {name}: rows={len(g)}")
            npass += 1
        except AssertionError as ex:
            # show first differing cells
            diff = (g != e) & ~(g.isna() & e.isna())
            cells = diff.to_numpy().nonzero()
            msg = ""
            if len(cells[0]):
                i, j = cells[0][0], cells[1][0]
                col = g.columns[j]
                msg = f" first diff row {i} col {col}: spark={g.iloc[i, j]!r} oracle={e.iloc[i, j]!r}"
            print(f"  FAIL  {name}:{msg}")
            nfail += 1
    print(f"== {npass} pass, {nfail} fail, {nweak} weak (rows-only), sf={SF}")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
