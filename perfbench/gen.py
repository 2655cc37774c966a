"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-ish star schema plus the `events`, `documents` and
`embeddings` tables that graft's queries read, one single-row-group parquet
file per table, with the column names, types and value shapes of the
project's test data: uniform foreign keys, two-decimal money, day-grained
dates, a 31-word document vocabulary with 5% near-duplicate documents, and
unit-norm 64-dimensional embeddings.

The values are drawn once from a fixed base seed. The run's seed then
relabels every key domain (customers, suppliers, parts, orders, users,
documents, vectors) with a random permutation, applied to the primary key
and every foreign key alike. Each seed so gives different tables and
different query results, but the same graph up to isomorphism: the same
degree distribution, fan-outs and component sizes, so a run's cost does not
hinge on the seed. The same (scale, seed) always gives identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000
BASE_SEED = 42

# key domain -> the (table, column) pairs holding its keys
KEY_DOMAINS = {
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orders": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "user": [("events", "user_id")],
    "documents": [("documents", "doc_id")],
    "embeddings": [("embeddings", "vec_id")],
}


def _day_us(iso):
    return int(np.datetime64(iso, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, first, last, n):
    lo, hi = _day_us(first) // DAY_US, _day_us(last) // DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _relabel(tables, rng):
    """Applies one random permutation per key domain to all its columns."""
    for cols in KEY_DOMAINS.values():
        perm = rng.permutation(max(int(np.max(tables[t][c].to_numpy())) for t, c in cols) + 1)
        for t, c in cols:
            tables[t][c] = pa.array(perm[tables[t][c].to_numpy()], tables[t][c].type)


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.asarray(WORDS, dtype=object)[ids]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    # 5% near-duplicates (a copy of another document plus one token) and a
    # few exact duplicates, so the dedup and similarity operators find pairs
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def generate(out, sf, seed, n_docs, n_vecs, n_events=None):
    """Write every table at scale factor `sf` (lineitem = 6,000,000 x sf);
    `n_events` defaults to 1,000,000 x sf."""
    tables = _draw(sf, n_docs, n_vecs, n_events, np.random.default_rng(BASE_SEED))
    _relabel(tables, np.random.default_rng(seed))
    os.makedirs(out, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       row_group_size=1 << 30, compression="snappy")


def _draw(sf, n_docs, n_vecs, n_events, rng):
    """Every table's columns at scale factor `sf`, keys 0..n-1 per domain."""
    t = {}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf) if n_events is None else n_events
    n_users = max(1, int(n_ev * 0.015))  # 15,000 x sf at the default event count
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}
    keys = np.arange(n_part)
    t["part"] = {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(_pick(rng, PART_ADJ, n_part) + " " + _pick(rng, PART_NOUN, n_part),
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))}
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string())}
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_li), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)}
    t0, month = _day_us("2024-01-01"), 30 * DAY_US
    ts = np.sort(rng.integers(t0, t0 + month, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())}
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t
