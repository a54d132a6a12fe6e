"""Seeded generator of the ten FIXTURES.md tables.

The same (seed, sizes) always writes byte-identical values. Schemas, value
domains and foreign keys follow FIXTURES.md:

  region, nation, customer, supplier, part, orders, lineitem  (TPC-H-ish)
  events      stream-shaped fact with planted view->purchase pairs
  documents   Zipf-vocabulary text with ~15% exact and ~10% near duplicates
  embeddings  64-d float32 vectors clustered around 10 labelled centres

Usage as a script: python3 gen.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts of the fixture tiers; a workload scales them
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["cold", "small", "large", "shiny", "dark", "light", "smooth", "rough"]
NOUN = ["widget", "ring", "gear", "bolt", "panel", "valve", "spring", "tube"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]
# the fixture corpus vocabulary holds the head of the Zipf ranking, so the
# text keys' fixed query terms ("spark", "window", "dup", ...) always occur
HEAD_TERMS = ["the", "a", "join", "hash", "row", "batch", "scan", "column",
              "customer", "filter", "small", "slow", "merge", "order",
              "vector", "line", "table", "data", "agg", "value", "key",
              "stream", "window", "spark", "part", "group", "big", "sort",
              "query", "fast", "dup"]

PLANTED_SHARE = 0.05  # of events: purchases planted after a view
VOCAB = 2000  # Zipf vocabulary of the documents
DIM, LABELS = 64, 10  # embedding width and cluster count

US_PER_DAY = 86_400_000_000
D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
D2001_08 = np.datetime64("2001-08-01", "us").astype(np.int64)
D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes_for(scale):
    return {t: max(1, int(round(n * scale))) for t, n in BASE_ROWS.items()}


def _ts(us, unit):
    """Naive timestamps at the FIXTURES.md unit: `ms` for the TPC-H-ish
    dates, `ns` for events.ts."""
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us")).cast(pa.timestamp(unit))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ordering_customers(rng, nc, n):
    keys = np.arange(nc, dtype=np.int64)
    keys = keys[keys % 3 != 0] if nc >= 3 else keys
    return keys[rng.integers(0, len(keys), n)]


def _term(rank):
    return HEAD_TERMS[rank - 1] if rank <= len(HEAD_TERMS) else f"w{rank}"


def star(rng, rows):
    nc, ns, np_, no, nl = (rows[k] for k in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))}),
    }
    price = np.round(rng.integers(90, 2000, np_).astype(np.float64), 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, len(ADJ), np_),
                                rng.integers(0, len(NOUN), np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, P_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(price)})
    days = (D2001_08 - D1995) // US_PER_DAY
    odate = D1995 + rng.integers(0, days + 1, no) * US_PER_DAY
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        # as in TPC-H, every third customer places no orders
        "o_custkey": pa.array(_ordering_customers(rng, nc, no)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000, 400000, no)),
        "o_orderdate": _ts(odate, "ms"),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    lok = rng.integers(0, no, nl)
    lpk = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flags = rng.integers(0, 6, nl)  # all six (returnflag, linestatus) combos
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok.astype(np.int64)),
        "l_partkey": pa.array(lpk.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[lpk], 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[flags % 3]),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[flags // 3]),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, nl) * US_PER_DAY, "ms")})
    return out


def events(rng, n):
    """Events over 2024-01-01..2024-01-30, ts ascending by event_id. A
    PLANTED_SHARE of rows are purchases placed 1..9 minutes after a
    view of the same user, so the view->purchase join is never empty."""
    users = max(15, n // 66)
    span = 29 * US_PER_DAY
    ts = np.sort(D2024 + rng.integers(0, span, n))
    user = rng.integers(0, users, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    views = np.flatnonzero(etype == 1)
    k = min(len(views), int(n * PLANTED_SHARE))
    if k:
        src = rng.choice(views, k, replace=False)
        dst = rng.choice(np.setdiff1d(np.arange(n), views), k, replace=False)
        user[dst] = user[src]
        etype[dst] = 2
        ts[dst] = ts[src] + rng.integers(60, 540, k) * 1_000_000
        order = np.argsort(ts, kind="stable")
        ts, user, etype = ts[order], user[order], etype[order]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts, "ns"),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype]),
        "value": pa.array(_money(rng, 0, 100, n)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)])})


def doc_texts(rng, n):
    """Zipf(s=1) token texts with ZipfDocs' `dups` shape: ~15% of docs copy
    a base doc (id - id % 16) exactly and ~10% copy it with one token
    replaced; the rest are unique."""
    cls = rng.integers(0, 20, n)
    ln_v = np.log(VOCAB)
    own = [rng.random(40 + int(rng.integers(0, 20))) for _ in range(n)]
    texts = [[_term(max(1, int(np.ceil(np.exp(u * ln_v))))) for u in us] for us in own]
    for i in range(n):
        base = i - i % 16
        if cls[i] < 5 and base != i:
            toks = list(texts[base])
            if cls[i] >= 3:  # near duplicate: one token swapped for a tail term
                toks[4] = _term(VOCAB + 1 + int(rng.integers(0, 20000)))
            texts[i] = toks
    return [" ".join(t) for t in texts]


def documents(rng, n):
    texts = doc_texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings(rng, n):
    centres = rng.normal(0, 1, (LABELS, DIM))
    label = rng.integers(0, LABELS, n)
    v = centres[label] + rng.normal(0, 0.6, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(label.astype(np.int32))})


def generate(out_dir, seed, rows):
    """Write all ten tables to `out_dir`/<name>.parquet; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star(np.random.default_rng([seed, 1]), rows)
    tables["events"] = events(np.random.default_rng([seed, 2]), rows["events"])
    tables["documents"] = documents(np.random.default_rng([seed, 3]), rows["documents"])
    tables["embeddings"] = embeddings(np.random.default_rng([seed, 4]), rows["embeddings"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    print(generate(sys.argv[1], int(sys.argv[2]), sizes_for(scale)))
