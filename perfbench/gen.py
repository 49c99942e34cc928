"""Seeded generator for the benchmark's sf0.1-shaped catalog.

Writes the ten tables `graft.Tables` reads (region ... embeddings) as one
parquet file each, with the row counts, column types and value
distributions of the engine's sf0.1 fixture (see FIXTURES.md): a
TPC-H-like star schema, a 30-day AIS-style `events` stream, a
near-duplicate-bearing `documents` corpus and unit 64-d `embeddings`.
The same seed always gives byte-identical files.

Also lands `events` as time-contiguous slices for the streaming workload,
with a second seed that permutes rows only within each slice.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
ADJ = "blue cold hot large old red small tall".split()
NOUN = "bolt gear nut plate ring screw spring widget".split()


def _us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1))
               .total_seconds() * 1_000_000)


def _days(rng, n, lo, hi):
    """Midnight timestamps (µs) uniform over [lo, hi] (inclusive)."""
    span = (hi - lo) // 86_400_000_000
    return lo + rng.integers(0, span + 1, n) * 86_400_000_000


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def relational(rng):
    n_cust, n_supp, n_part = 150_000, 10_000, 200_000
    n_cust, n_supp, n_part = (int(x * SCALE) for x in (n_cust, n_supp, n_part))
    n_ord, n_li = int(1_500_000 * SCALE), int(6_000_000 * SCALE)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, _us(1995, 1, 1), _us(2001, 8, 1))),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_days(rng, n_li, _us(1995, 1, 2), _us(2001, 11, 4)))})
    return t


def events(rng):
    n, users = int(1_000_000 * SCALE), int(15_000 * SCALE)
    start = _us(2024, 1, 1)
    # Distinct, increasing report times over 30 days: event_id order is
    # time order, as in the AIS feed the engine was built for.
    ts = start + np.sort(rng.choice(30 * 86_400_000_000, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(rng.gamma(2.0, 25.0, n), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string())})


def documents(rng):
    """Word-salad texts over the engine-domain vocabulary, with the
    fixture's planted duplicates: 8 exact copies and 248 near copies
    (one token inserted or deleted) per 5000 documents."""
    n = int(50_000 * SCALE)
    n_exact, n_near = round(8 * n / 5000), round(248 * n / 5000)
    n_fresh = n - n_exact - n_near
    texts = []
    for i in range(n):
        if i < n_fresh:
            words = list(rng.choice(VOCAB, rng.integers(10, 101)))
        elif i < n_fresh + n_near:
            words = texts[rng.integers(0, i)].split(" ")
            if rng.random() < 0.5 and len(words) > 10:
                del words[rng.integers(0, len(words))]
            else:
                words.insert(rng.integers(0, len(words) + 1), "dup")
        else:
            words = texts[rng.integers(0, n_fresh)].split(" ")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def embeddings(rng):
    n = int(20_000 * SCALE)
    raw = rng.standard_normal((n, 64))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(unit.ravel(), pa.float32()), 64).cast(
                pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def write_catalog(out_dir, seed):
    """Write all ten tables under `out_dir`; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    tables = relational(rng)
    tables["events"] = events(rng)
    tables["documents"] = documents(rng)
    tables["embeddings"] = embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return {name: table.num_rows for name, table in tables.items()}


def write_slices(events_path, out_dir, slices, seed):
    """Cut `events` into `slices` time-contiguous parquet files named in
    arrival order; `seed` permutes rows within each slice only."""
    ev = pq.read_table(events_path).sort_by([("ts", "ascending"),
                                             ("event_id", "ascending")])
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, ev.num_rows, slices + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        part = ev.slice(lo, hi - lo).take(rng.permutation(hi - lo))
        pq.write_table(part, os.path.join(out_dir, f"slice_{i:04d}.parquet"))
    return ev.num_rows
