"""Seeded input generators for the pipeline benchmark.

Every generator is a pure function of (seed, size): the same arguments give
byte-identical files. Shapes follow the harness tables the engine is graded
on (`events`, `documents`, `embeddings`), so `graft.Tables` and the DuckDB
oracle read them unchanged.
"""
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ACTIVITIES = np.array(["signup", "click", "error", "purchase", "view"])
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00 UTC
DAY_US = 86_400 * 1_000_000
# 31-word vocabulary with the harness's text statistics (10-100 words/doc)
VOCAB = np.array(("a agg batch big column customer data fast filter group hash join key "
                  "line merge order part query row scan slow small sort spark stream table "
                  "the value vector window").split())
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def events(seed, n_events, n_cases, days):
    """The `events` table: uniform arrivals over `days`, event_id in time
    order, case = user_id, activity = event_type, duration = value minutes
    (two decimals, mean 50)."""
    r = _rng(seed, 1)
    ts = np.sort(EPOCH_US + r.integers(0, int(days * DAY_US), n_events))
    cents = np.round(r.exponential(5000.0, n_events)).astype(np.int64)
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, n_cases, n_events).astype(np.int64),
        "event_type": ACTIVITIES[r.integers(0, len(ACTIVITIES), n_events)],
        "cents": cents,
        "k": r.integers(0, 100, n_events),
    }


def write_events_parquet(ev, path):
    t = pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["cents"] / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]]),
    })
    pq.write_table(t, path)


def _fmt_ts(us):
    s = np.datetime_as_string(us.astype("datetime64[us]"), unit="us")
    return np.char.add(np.char.replace(s, "T", " "), "+00:00")


def write_events_csv_gz(ev, path):
    """The reference-layout twin of `events` (FIXTURES.md §1): one gzip CSV
    in event order, which is the file-order contract of EventLogCsv.read.
    Columns follow EventLogOps.fromEvents: case = user_id, Activity =
    event_type, end = ts + round(value * 60 s), Resource = r<user_id % 4>."""
    start = ev["ts"]
    end = start + ev["cents"] * 600_000
    cols = [ev["user_id"].astype(str), _fmt_ts(start), _fmt_ts(end),
            ev["event_type"], np.char.add("r", (ev["user_id"] % 4).astype(str))]
    lines = cols[0]
    for c in cols[1:]:
        lines = np.char.add(np.char.add(lines, ","), c)
    body = "case_id,start_time,end_time,Activity,Resource\n" + "\n".join(lines.tolist()) + "\n"
    with gzip.GzipFile(path, "wb", compresslevel=6, mtime=0) as f:
        f.write(body.encode())


def documents(seed, n_docs):
    """The `documents` table. 5% of documents are near-duplicates (an
    earlier document plus the token "dup"), as in the harness corpus."""
    r = _rng(seed, 2)
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[r.integers(0, len(VOCAB), int(r.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[r.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed, n_vecs, dim=64):
    """The `embeddings` table: unit-norm float vectors, 2% of them a noisy
    copy of an earlier vector, labels 0-9."""
    r = _rng(seed, 3)
    v = r.normal(0.0, 1.0, (n_vecs, dim))
    for i in range(1, n_vecs):
        if r.random() < 0.02:
            v[i] = v[int(r.integers(0, i))] + r.normal(0.0, 0.02, dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs).astype(np.int32)),
    })


def generate(kind, seed, size, out_dir):
    """Write one workload's inputs under `out_dir` (idempotent per seed:
    a completed directory carries a `.done` marker and is reused)."""
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    if kind == "events":
        ev = events(seed, size["events"], size["cases"], size["days"])
        write_events_parquet(ev, os.path.join(out_dir, "events.parquet"))
        write_events_csv_gz(ev, os.path.join(out_dir, "events.csv.gz"))
    elif kind == "corpus":
        pq.write_table(documents(seed, size["documents"]), os.path.join(out_dir, "documents.parquet"))
        pq.write_table(embeddings(seed, size["vectors"]), os.path.join(out_dir, "embeddings.parquet"))
    else:
        raise ValueError(kind)
    open(done, "w").close()
