"""Seeded input generators, one per workload.

Each generator writes files under an input directory and nothing else;
the program reads only those files. The same seed gives the same files.
Sizes are fixed per workload (see SIZES); README.md records each
generator's make-up against the `sf0.1` testdata and the reference's
training CSV.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Rows per workload input. Rows per user (~67) and the event-type mix
# follow sf0.1/events; see README.md for why the tables are smaller.
SIZES = {
    "train_score_batch": {"rows": 2000},
    "serve_stream": {"train_rows": 2000, "warmup": 50, "rate": 25, "warm_s": 4, "dup_share": 0.03},
    "gateway_csv": {"rows": 200000, "warmup": 2000},
    "corpus_dedup": {"docs": 1000, "warmup": 200},
}

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ROWS_PER_USER = 100000 / 1500
T0_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1000000


def _events(rng, n, users, id0, ts_us):
    """An events-schema table: sf0.1's exponential(mean 50) amounts,
    five uniform event types and a JSON `props` key k in 0..99."""
    return {
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "ts": ts_us,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    }


def _write_events(cols, path, extra=None):
    os.makedirs(path, exist_ok=True)
    arrays = dict(cols)
    arrays["ts"] = pa.array(cols["ts"], type=pa.timestamp("us"))
    if extra:
        arrays.update(extra)
    pq.write_table(pa.table(arrays), os.path.join(path, "events.parquet"))


def _table_events(rng, n, path):
    users = max(2, int(round(n / ROWS_PER_USER)))
    ts = np.sort(rng.integers(T0_US, T0_US + 30 * DAY_US, n))
    _write_events(_events(rng, n, users, 0, ts), path)
    return users


def train_score_batch(rng, seconds, out):
    rows = SIZES["train_score_batch"]["rows"]
    _table_events(rng, rows, out)
    return {"rows": rows}


def serve_stream(rng, seconds, out):
    """A training table, a warm-up batch and the send sequence. The
    sequence covers the run at the fixed rate; about 3% of sends repeat
    an event sent shortly before, with the same id and content."""
    p = SIZES["serve_stream"]
    users = _table_events(rng, p["train_rows"], os.path.join(out, "train"))
    t_stream = T0_US + 30 * DAY_US
    w = p["warmup"]
    warm = _events(rng, w, users, 9_000_000, t_stream - DAY_US // 2 + np.arange(w) * 1000000)
    _write_events(warm, os.path.join(out, "warmup"),
                  {"seq": np.arange(w), "is_dup": np.zeros(w, dtype=bool)})
    n = int(p["rate"] * (p["warm_s"] + seconds + 2))
    is_dup = rng.random(n) < p["dup_share"]
    is_dup[:50] = False
    fresh = int((~is_dup).sum())
    base = _events(rng, fresh, users, 10_000_000, t_stream + np.arange(fresh) * 1000000)
    # send j: the next fresh event, or a re-send of one of the last 200
    src = np.empty(n, dtype=np.int64)
    k = 0
    for j in range(n):
        if is_dup[j]:
            src[j] = rng.integers(max(0, k - 200), k)
        else:
            src[j] = k
            k += 1
    seq = {c: (np.asarray(v)[src] if not isinstance(v, list) else [v[i] for i in src])
           for c, v in base.items()}
    _write_events(seq, os.path.join(out, "stream"),
                  {"seq": np.arange(n), "is_dup": is_dup})
    return {"rate": p["rate"], "warm_s": p["warm_s"], "sent_max": n}


CHANNELS = ["card", "bank_transfer", "mobile_money", "pos"]
LOCATIONS = ["Harare", "Bulawayo", "Gweru", "Mutare", "Marondera", "Victoria Falls"]


def _transactions(rng, n):
    """The reference's 7-column CSV make-up (SURVEY §1.3): organic rows
    with amounts <= 1,000, plus ~3.2% injected rows with round amounts
    in {5,000, 10,000, 20,000, 50,000} that reuse organic ids, sit in
    Victoria Falls or Mutare and arrive every 7 minutes."""
    n_inj = int(round(n * 1500 / 47500))
    n_org = n - n_inj
    customers = max(2, int(round(30 * n / 47500)))
    start = 1746064800  # 2025-05-01T02:00:00Z
    org_ts = np.sort(rng.integers(start, start + 60 * 86400, n_org))
    inj_ts = start + np.arange(n_inj) * 420
    ts = np.concatenate([org_ts, inj_ts])
    org_ids = np.arange(1000, 1000 + n_org)
    inj_ids = rng.choice(org_ids, n_inj, replace=False)
    amount = np.concatenate([
        np.round(np.clip(rng.lognormal(5.3, 0.9, n_org), 1.01, 1000.0), 2),
        rng.choice([5000.0, 10000.0, 20000.0, 50000.0], n_inj)])
    channel = np.concatenate([rng.choice(CHANNELS, n_org), rng.choice(CHANNELS, n_inj)])
    location = np.concatenate([rng.choice(LOCATIONS, n_org),
                               rng.choice(["Victoria Falls", "Mutare"], n_inj)])
    order = rng.permutation(n)
    stamps = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    return pa.table({
        "timestamp": pa.array([s + "Z" for s in stamps[order]]),
        "transaction_id": pa.array(np.concatenate([org_ids, inj_ids])[order].astype(str)),
        "customer_id": pa.array(rng.integers(101, 101 + customers, n)[order].astype(str)),
        "merchant_id": pa.array(rng.integers(501, 505, n)[order].astype(str)),
        "amount": pa.array(amount[order]),
        "channel": pa.array(channel[order]),
        "location": pa.array(location[order]),
    })


def gateway_csv(rng, seconds, out):
    p = SIZES["gateway_csv"]
    os.makedirs(out, exist_ok=True)
    pacsv.write_csv(_transactions(rng, p["rows"]), os.path.join(out, "transactions.csv"))
    pacsv.write_csv(_transactions(rng, p["warmup"]), os.path.join(out, "warmup.csv"))
    return {"rows": p["rows"]}


WORDS = ["w%03d" % i for i in range(400)]
LANGS = ["en", "de", "fr", "es", "zh"]


def _corpus(rng, n, id0):
    """Random 30-80 word documents over a 400-word vocabulary, with planted
    clusters: ~6% of documents are exact copies (clusters of 2-4) and ~6%
    are near copies (every 12th word replaced) of another document."""
    texts = [" ".join(rng.choice(WORDS, rng.integers(30, 81))) for _ in range(n)]
    kind = np.zeros(n, dtype=np.int8)  # 0 plain, 1 exact-cluster member, 2 near copy
    cluster = np.full(n, -1, dtype=np.int64)
    free = list(rng.permutation(n))
    c = 0
    while (kind == 1).sum() < 0.06 * n and len(free) > 4:
        size = int(rng.integers(2, 5))
        members = [free.pop() for _ in range(size)]
        for m in members:
            texts[m] = texts[members[0]]
            kind[m] = 1
            cluster[m] = c
        c += 1
    while (kind == 2).sum() < 0.06 * n and len(free) > 2:
        a, b = free.pop(), free.pop()
        words = texts[a].split(" ")
        for i in range(0, len(words), 12):
            words[i] = str(rng.choice(WORDS))
        texts[b] = " ".join(words)
        kind[a] = kind[b] = 2
    return pa.table({
        "doc_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), pa.table({"doc_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
                  "exact_cluster": pa.array(cluster)})


def corpus_dedup(rng, seconds, out):
    p = SIZES["corpus_dedup"]
    os.makedirs(os.path.join(out, "warmup"), exist_ok=True)
    docs, planted = _corpus(rng, p["docs"], 0)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    # planted clusters are for the checker only; the program never reads them
    pq.write_table(planted, os.path.join(out, "planted.parquet"))
    warm, _ = _corpus(rng, p["warmup"], 0)
    pq.write_table(warm, os.path.join(out, "warmup", "documents.parquet"))
    return {"docs": p["docs"]}


def generate(workload, seed, seconds, out):
    """Write the workload's inputs under `out`; returns its params, also
    written to `out/params.json` for the benchmark driver."""
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    params = globals()[workload](rng, seconds, out)
    with open(os.path.join(out, "params.json"), "w") as f:
        json.dump(params, f)
    return params
