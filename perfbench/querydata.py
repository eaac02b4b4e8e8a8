"""Seeded tables for the query workload.

Writes lineitem, events, documents and embeddings as single parquet files
with the column names and types graft.SparkEntry's queries read, at roughly
the row counts of a TPC-H scale factor of 0.01. Text and vectors carry the
structure the queries' oracles rely on: documents hold near-verbatim
duplicate families (the near-dup queries have true pairs to find) and
language stop words (the language-id query has something to detect);
embeddings are unrelated random directions (the planted ANN clones stay the
unique nearest neighbours).
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "line sort window join order data column customer query big small "
         "filter group stream vector a the").split()
STOP = {
    "en": "the a and of to in is it that for".split(),
    "de": "der die das und ist nicht ein zu mit auf".split(),
    "fr": "le la les et est un une dans pour que".split(),
    "es": "el la los y es un una en por que".split(),
}


def _lineitem(rng, n):
    orders = max(1, n // 4)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 2500, n).astype("timedelta64[D]")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def _events(rng, n):
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "signup", "error", "view", "purchase"], n)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.02, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n):
    langs = list(STOP) + ["zh"]
    texts, lang = [], []
    for i in range(n):
        if i > 0 and rng.random() < 0.12:
            # near-verbatim copy of an earlier document, one word appended
            # or dropped at the end: the duplicate shape q09's exact-oracle
            # contract is stated for (true pairs at winnow containment 1.0)
            j = int(rng.integers(0, i))
            src = texts[j].split(" ")
            src = src[:-1] if rng.random() < 0.5 else src + [str(rng.choice(WORDS))]
            texts.append(" ".join(src))
            lang.append(lang[j])
            continue
        lg = langs[int(rng.integers(0, len(langs)))]
        vocab = WORDS + STOP.get(lg, [])
        words = rng.choice(vocab, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
        lang.append(lg)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(out_dir, seed):
    """Write the four tables under out_dir; returns their total row count."""
    rng = np.random.default_rng(seed)
    tables = {
        "lineitem": _lineitem(rng, 60000),
        "events": _events(rng, 10000),
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return sum(t.num_rows for t in tables.values())

