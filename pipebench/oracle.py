"""Untimed correctness check of one benchmark process's check run.

Outputs with a DuckDB oracle (`SparkEntry.oracleSql`, dumped by the benchmark
next to the outputs) are compared exactly after the same normalization as
the repository's oracle gate: columns sorted by name, rows sorted, dtypes
strict. Text outputs and the EP1 artifact get an order-free fingerprint
(SHA-256 of the sorted lines); `pins.json` holds the fingerprints recorded
on the commit that introduced the benchmark, per workload, size and seed.
"""
import glob
import gzip
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check import normalize  # noqa: E402  the normalization of the repository's oracle gate

# outputs each workload must produce for the oracle comparison
EXPECTED_SQL = {
    "paper_2k": ["pm_enabled", "pm_batches", "pm_sp_batches", "pm_wt", "pm_report_text", "ar_features"],
    "corpus_ingest": None,  # every registry call that has an oracle
}
# text outputs fingerprinted and pinned
FINGERPRINTED = {
    "paper_2k": ["rules.txt", "wts_csv"],
    "corpus_ingest": [],
}


def compare(got, exp):
    """None when equal, else a one-line reason."""
    g, e = normalize(got), normalize(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs oracle {len(e)}"
    dt = [(c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns if str(g[c].dtype) != str(e[c].dtype)]
    if dt:
        return f"dtypes {dt}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=True, check_exact=True)
    except AssertionError as ex:
        return str(ex).splitlines()[0][:200]
    return None


def fingerprint(path):
    """Order-free fingerprint of a text file or of a directory of gzip CSV
    parts (header excluded): SHA-256 over the sorted lines."""
    if os.path.isdir(path):
        lines = []
        for part in sorted(glob.glob(os.path.join(path, "part-*.csv.gz"))):
            with gzip.open(part, "rt") as f:
                lines.extend(f.read().splitlines()[1:])
    else:
        with open(path) as f:
            lines = f.read().splitlines()
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def check_sql(workload, data, out):
    """(checked, mismatches) over the oracle-backed outputs."""
    con = connect()
    for t in glob.glob(os.path.join(data, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    names = EXPECTED_SQL[workload]
    if names is None:
        names = sorted(oracle)
    checked = mismatches = 0
    for name in names:
        checked += 1
        path = os.path.join(out, name)
        if name not in oracle or not os.path.isdir(path):
            sys.stderr.write(f"pipebench: MISMATCH {name}: no output or no oracle\n")
            mismatches += 1
            continue
        try:
            why = compare(pd.read_parquet(path), con.sql(oracle[name]).df())
        except Exception as ex:  # an oracle that cannot run is a failed check
            why = f"oracle error: {str(ex)[:200]}"
        if why:
            sys.stderr.write(f"pipebench: MISMATCH {name}: {why}\n")
            mismatches += 1
    return checked, mismatches


def check_pins(workload, seed, smoke, out):
    """(checked, mismatches) over the fingerprinted outputs; a seed with no
    pin is not counted."""
    if not FINGERPRINTED[workload]:
        return 0, 0
    key = f"{workload}/{'smoke' if smoke else 'full'}/{seed}"
    pins = json.load(open(PINS))
    if key not in pins:
        return 0, 0
    got = {}
    for name in FINGERPRINTED[workload]:
        path = os.path.join(out, name)
        got[name] = fingerprint(path) if os.path.exists(path) else "missing"
    bad = [n for n in got if pins[key].get(n) != got[n]]
    for n in bad:
        sys.stderr.write(f"pipebench: MISMATCH {n}: fingerprint {got[n]} vs pinned {pins[key].get(n)}\n")
    return len(got), len(bad)


def _secs(col):
    """Artifact timestamps ("yyyy-MM-dd HH:mm:ss+00:00") to epoch seconds."""
    return pd.to_datetime(col.str.slice(0, 19)).astype("datetime64[s]").astype("int64")


def check_wt_artifact(data, out):
    """(checked, mismatches) for the EP1 artifact, re-read from disk.

    1. Against the DuckDB `pm_sp_batches` oracle over the parquet twin of
       the CSV input (EP1 runs full discovery, which is what that query
       grades): the same events, enabled times, batch types and the same
       partition of events into batches (batch ids themselves may differ).
    2. The reference invariant batch_total_wt = creation + ready + other
       on every row (FIXTURES.md of the repository, section 2)."""
    parts = sorted(glob.glob(os.path.join(out, "wts_csv", "part-*.csv.gz")))
    if not parts:
        sys.stderr.write("pipebench: MISMATCH wts_csv: no artifact\n")
        return 2, 2
    art = pd.concat([pd.read_csv(p, dtype=str, keep_default_na=False) for p in parts])
    got = pd.DataFrame({
        "key": art["case_id"] + "|" + art["Activity"] + "|" + art["Resource"] + "|"
               + _secs(art["start_time"]).astype(str) + "|" + _secs(art["end_time"]).astype(str)
               + "|" + _secs(art["enabled_time"]).astype(str),
        "batch": art["batch_instance_id"], "type": art["batch_instance_type"]})
    con = connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(data, 'events.parquet')}'")
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))["pm_sp_batches"]
    o = con.sql(sql).df()
    exp = pd.DataFrame({
        "key": o["case_id"].astype(str) + "|" + o["activity"] + "|" + o["resource"] + "|"
               + (o["start_us"] // 1_000_000).astype(str) + "|" + (o["end_us"] // 1_000_000).astype(str)
               + "|" + (o["enabled_us"] // 1_000_000).astype(str),
        "batch": o["batch_id"].astype("Int64").astype(str).replace("<NA>", ""),
        "type": o["batch_type"].fillna("")})

    def canon(df):
        # order-free, id-free: every batch as (type, sorted member keys)
        b = df[df["batch"] != ""].groupby("batch").agg(
            type=("type", "first"), members=("key", lambda k: "\n".join(sorted(k))))
        return (sorted(df["key"]), sorted(zip(b["type"], b["members"])))

    mismatches = 0
    if canon(got) != canon(exp):
        sys.stderr.write(f"pipebench: MISMATCH wts_csv: events or batches differ from pm_sp_batches "
                         f"({len(got)} rows vs {len(exp)})\n")
        mismatches += 1
    d = {c: pd.to_timedelta(art[c]) for c in
         ("batch_total_wt", "batch_creation_wt", "batch_ready_wt", "batch_other_wt")}
    bad = int((d["batch_total_wt"] != d["batch_creation_wt"] + d["batch_ready_wt"] + d["batch_other_wt"]).sum())
    if bad:
        sys.stderr.write(f"pipebench: MISMATCH wts_csv: {bad} rows break total = creation + ready + other\n")
        mismatches += 1
    return 2, mismatches


def check(workload, seed, smoke, data, out):
    c1, m1 = check_sql(workload, data, out)
    if workload == "paper_2k":
        c, m = check_wt_artifact(data, out)
        c1, m1 = c1 + c, m1 + m
    c2, m2 = check_pins(workload, seed, smoke, out)
    return c1 + c2, m1 + m2
