"""Seeded synthetic inputs for the benchmark.

Two kinds of input are made here, both a pure function of the seed:

* ``tables(dir, sf, seed)`` writes the operator tables the ``ops_mix``
  queries read (region, nation, customer, orders, lineitem, documents) as
  one parquet file each, with the schemas and value distributions of the
  project's synthetic testdata.  Row counts scale with ``sf`` the same
  way (lineitem = 6,000,000 x sf).
* ``web_files(dir, clients, seed)`` writes the files the web clients
  upload: document, event and line-item extracts in CSV, JSON-lines and
  Parquet, 0.2-2 MB each.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    return EPOCH_1995 + rng.integers(lo, hi, n) * np.timedelta64(1, "D")


def _docs(rng, n):
    """Documents over a small vocabulary; ~1% exact copies and ~2% near
    copies (one word replaced by 'dup') so the dedup operators find pairs."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    for i in range(1, n):
        r = rng.random()
        if r < 0.01:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.03:
            src = texts[rng.integers(0, i)].split(" ")
            src[rng.integers(0, len(src))] = "dup"
            texts[i] = " ".join(src)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _events(rng, n, users):
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _lineitem(rng, n, orders, parts, suppliers):
    return {
        "l_orderkey": rng.integers(0, orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, suppliers, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _days(rng, 1, 2499, n),
    }


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def tables(out, sf, seed):
    """The six operator tables ``ops_mix`` reads, at scale factor ``sf``.
    Each table has a generator of its own, seeded by the seed and the
    table's place in this list."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    builders = {
        "region": lambda rng: {
            "r_regionkey": i32(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": lambda rng: {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)])},
        "customer": lambda rng: {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        "orders": lambda rng: {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
        # part and supplier keys keep the ranges of the full TPC-H schema
        "lineitem": lambda rng: _lineitem(rng, n_line, n_ord, n_part, n_supp),
        "documents": lambda rng: _docs(rng, n_docs),
    }
    os.makedirs(out, exist_ok=True)
    for i, (name, build) in enumerate(builders.items()):
        _write(f"{out}/{name}.parquet", build(np.random.default_rng([seed, 1, i])))


# rows per upload of each kind (fixed, so every run does the same work);
# every events file passes the 10,000-row display cap, so its
# list-everything question takes the two-job path
WEB_ROWS = {"documents": 2200, "events": 13000, "lineitem": 8800}
# each client uploads one file of each kind, in one of two format sets
WEB_FORMATS = ({"documents": "json", "events": "csv", "lineitem": "parquet"},
               {"documents": "csv", "events": "parquet", "lineitem": "json"})


def _iso(ts):
    return np.datetime_as_string(ts, unit="us")


def _save(path, fmt, cols):
    names = list(cols)
    if fmt == "parquet":
        _write(path, cols)
        return
    # timestamps are written ISO-8601 so both engines infer them
    cols = {k: (_iso(v) if np.issubdtype(np.asarray(v).dtype, np.datetime64) else v)
            for k, v in cols.items()}
    n = len(cols[names[0]])
    with open(path, "w", encoding="utf-8") as f:
        if fmt == "csv":
            f.write(",".join(names) + "\n")
            for i in range(n):
                f.write(",".join(str(cols[c][i]) for c in names) + "\n")
        else:
            for i in range(n):
                row = {}
                for c in names:
                    v = cols[c][i]
                    row[c] = v.item() if hasattr(v, "item") else v
                f.write(json.dumps(row) + "\n")


def web_files(out, clients, seed, scale=1.0):
    """Upload files for ``clients`` clients: each client uploads one file
    of every kind, client ``c`` starting at kind ``c`` so that the clients
    work on different kinds at the same time, and the two format sets
    alternate between clients.  The seed picks the contents.  File
    ``NN_kind.fmt`` is upload ``NN // clients`` of client ``NN % clients``;
    ``scale`` shrinks the row counts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    kinds = list(WEB_ROWS)
    for c in range(clients):
        formats = WEB_FORMATS[c % 2]
        for k in range(len(kinds)):
            kind = kinds[(c + k) % len(kinds)]
            rows = max(10, int(WEB_ROWS[kind] * scale))
            if kind == "documents":
                cols = _docs(rng, rows)
            elif kind == "events":
                cols = _events(rng, rows, max(20, rows // 60))
                del cols["props"]  # a JSON text column is no question's subject
            else:
                cols = _lineitem(rng, rows, rows // 4, 2000, 100)
            _save(f"{out}/{k * clients + c:02d}_{kind}.{formats[kind]}", formats[kind], cols)


