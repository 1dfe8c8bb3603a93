"""Seeded input generators for the benchmark workloads.

Every table has the column names and parquet types of the harness tables
the engine's queries were written against (`events`, `orders`,
`lineitem`, `customer`, `supplier`, `documents`, `embeddings`: int64
keys, float64 measures, microsecond timestamps without time zone).
Every value comes from numpy generators seeded by (seed, table), so the
same seed always gives the same files. Each table is a directory
`<name>.parquet/part-0.parquet`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01 00:00 UTC
DAY_US = 86400 * 1_000_000

# hourly_etl shape: 24 time-ordered batches of 4200 events, 30 h each
BATCHES = 24
ROWS_PER_BATCH = 4200
HOURS_PER_BATCH = 30

VOCAB = ["a", "the", "spark", "table", "scan", "merge", "stream", "batch",
         "join", "hash", "sort", "filter", "group", "agg", "key", "value",
         "row", "column", "part", "line", "order", "customer", "query",
         "window", "vector", "data", "fast", "slow", "big", "small",
         "commit", "log", "file", "index", "graph", "node", "edge", "delay",
         "route", "stop"]


def rng(seed, salt):
    return np.random.default_rng([seed, salt])


def write(table, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def pick(r, values, n):
    return pa.array(np.array(values, dtype=object)[r.integers(0, len(values), n)],
                    type=pa.string())


def events(seed, n, hours):
    r = rng(seed, 1)
    ids = np.arange(n, dtype=np.int64)
    step = hours * 3600 * 1_000_000 // n
    return pa.table({
        "event_id": ids,
        "ts": ts(EPOCH_US + ids * step + r.integers(0, step, n)),
        "user_id": r.integers(0, 1500, n),
        "event_type": pick(r, ["click", "view", "purchase", "signup",
                               "error"], n),
        "value": np.round(r.integers(0, 15000, n) / 100.0 + 0.5, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def orders(seed, n):
    r = rng(seed, 2)
    return pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": r.integers(1, 1501, n),
        "o_orderstatus": pick(r, ["O", "F", "P"], n),
        "o_totalprice": np.round(r.integers(0, 50_000_000, n) / 100.0 + 800.0,
                                 2),
        "o_orderdate": ts(EPOCH_US - 730 * DAY_US
                          + r.integers(0, 2400, n) * DAY_US),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                    "4-NOT SPECIFIED", "5-LOW"], n),
    })


def lineitem(seed, n, parts=20000, suppliers=1000):
    """Four line items per order."""
    r = rng(seed, 3)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "l_orderkey": ids // 4 + 1,
        "l_partkey": r.integers(1, parts + 1, n),
        "l_suppkey": r.integers(1, suppliers + 1, n),
        "l_linenumber": pa.array((ids % 4 + 1).astype(np.int32)),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(r.integers(0, 10_000_000, n) / 100.0
                                    + 900.0, 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n),
        "l_linestatus": pick(r, ["O", "F"], n),
        "l_shipdate": ts(EPOCH_US - 365 * DAY_US
                         + r.integers(0, 730, n) * DAY_US),
    })


def customer(seed, n):
    r = rng(seed, 4)
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": np.round(r.integers(0, 1_100_000, n) / 100.0 - 999.99, 2),
        "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"], n),
    })


def supplier(seed, n):
    r = rng(seed, 5)
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": np.round(r.integers(0, 1_100_000, n) / 100.0 - 999.99, 2),
    })


def documents(seed, n):
    """8-80 words each; every fifth document repeats its predecessor's
    words with one changed, so near duplicates exist."""
    r = rng(seed, 6)
    texts = []
    for i in range(n):
        if i % 5 == 4:
            words = texts[-1].split(" ")
            words[int(r.integers(0, len(words)))] = "edited"
        else:
            words = [VOCAB[j] for j in r.integers(0, len(VOCAB),
                                                  int(r.integers(8, 81)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pick(r, ["en", "en", "en", "de", "fr", "es", "zh"], n),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed, n, dims=64):
    r = rng(seed, 7)
    vecs = (r.normal(0.0, 0.15, (n, dims))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 8, n).astype(np.int32)),
    })


def delay_csv(ev):
    """The raw delay scrape: one row per event, space-named columns and
    Polish delay strings, as scraped."""
    user = ev["user_id"].to_numpy()
    value = ev["value"].to_numpy()
    mins = np.round(np.abs(value) * 10).astype(np.int64)
    early = ev["event_id"].to_numpy() % 3 == 0
    stamps = ev["ts"].to_numpy().astype("datetime64[s]").astype(str)
    return pa.table({
        "Route": pa.array([f"R{u % 100}" for u in user]),
        "Vehicle No": pa.array([str(u % 100 + 1) for u in user]),
        "Stop Name": pa.array([f"stop-{u % 50}" for u in user]),
        "Delay": pa.array([f"{m} min przed czasem" if e else f"{m} min"
                           for m, e in zip(mins, early)]),
        "Timestamp": pa.array(stamps),
    })


def weather_csv(seed, batch):
    """The raw weather scrape of one batch: one row per station and hour,
    Polish-named columns."""
    r = rng(seed, 100 + batch)
    hours = np.repeat(np.arange(batch * HOURS_PER_BATCH,
                                (batch + 1) * HOURS_PER_BATCH), 2)
    n = len(hours)
    days = (EPOCH_US // 1_000_000 + hours * 3600).astype("datetime64[s]")
    return pa.table({
        "id_stacji": np.tile(np.array([12375, 12500], dtype=np.int64),
                             HOURS_PER_BATCH),
        "data_pomiaru": pa.array(days.astype("datetime64[D]").astype(str)),
        "godzina_pomiaru": (hours % 24).astype(np.int64),
        "temperatura": np.round(r.integers(0, 400, n) / 10.0 - 10.0, 1),
        "suma_opadu": np.round(r.integers(0, 50, n) / 10.0, 1),
        "predkosc_wiatru": np.round(r.integers(0, 200, n) / 10.0, 1),
        "kierunek_wiatru": r.integers(0, 360, n),
        "wilgotnosc_wzgledna": r.integers(0, 60, n) + 40.0,
        "cisnienie": np.round(r.integers(0, 400, n) / 10.0 + 990.0, 1),
    })


def write_csv(table, path):
    os.makedirs(path, exist_ok=True)
    pacsv.write_csv(table, os.path.join(path, "part-0.csv"))


def etl_corpus(seed, root):
    ev = events(seed, BATCHES * ROWS_PER_BATCH, BATCHES * HOURS_PER_BATCH)
    dims = os.path.join(root, "dims")
    write(orders(seed, 5000), os.path.join(dims, "orders.parquet"))
    write(lineitem(seed, 20000), os.path.join(dims, "lineitem.parquet"))
    write(customer(seed, 1500), os.path.join(dims, "customer.parquet"))
    write(supplier(seed, 1000), os.path.join(dims, "supplier.parquet"))
    for b in range(BATCHES):
        part = ev.slice(b * ROWS_PER_BATCH, ROWS_PER_BATCH)
        write(part, os.path.join(root, "events_by_batch", f"b={b}"))
        write_csv(delay_csv(part), os.path.join(root, "csv", "delays",
                                                f"b={b}"))
        write_csv(weather_csv(seed, b), os.path.join(root, "csv", "weather",
                                                     f"b={b}"))
        batch = os.path.join(root, f"batch{b}")
        os.makedirs(batch)
        os.symlink(os.path.join(root, "events_by_batch", f"b={b}"),
                   os.path.join(batch, "events.parquet"))
        for t in ("orders", "lineitem", "customer", "supplier"):
            os.symlink(os.path.join(dims, f"{t}.parquet"),
                       os.path.join(batch, f"{t}.parquet"))
    corpus = os.path.join(root, "corpus")
    write(documents(seed, 600), os.path.join(corpus, "documents.parquet"))
    write(embeddings(seed, 200), os.path.join(corpus, "embeddings.parquet"))
    write(lineitem(seed, 12000, parts=2000, suppliers=100),
          os.path.join(corpus, "lineitem.parquet"))


def table_rw_mix(seed, root):
    write(orders(seed, 50000), os.path.join(root, "orders.parquet"))


GENERATORS = {"etl_corpus": etl_corpus, "table_rw_mix": table_rw_mix}


def generate(workload, seed, root):
    os.makedirs(root)
    GENERATORS[workload](seed, root)
