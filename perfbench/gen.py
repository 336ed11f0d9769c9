"""Seeded input generators for the benchmark workloads.

Every input the program under test reads is written here, from the
workload seed alone: the same seed gives byte-identical files.

    python3 perfbench/gen.py cdc <seed> <out_dir>
    python3 perfbench/gen.py tables <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- cdc_ingest: change-event flushes -------------------------------------

# Where each value comes from is in BENCHMARK.md ("Input parameters"):
# the event types follow GenSource, the hot key follows ROADMAP's hot-key
# case, the rest are stated assumptions or sized to the time budget.
CDC = {
    "keys": 20_000,          # key space of the upstream table
    "zipf_s": 1.0,           # key skew: Zipf exponent over key ranks
    "hot_key_events": 1_000,  # events per flush on the single hot key
    "flush_events": 5_000,   # events per upstream flush
    "backlog_flushes": 2,    # flushes present when catch-up starts
    "steady_flushes": 2,     # flushes released on a schedule
    "lookups": 64,           # seeded lookup keys for the serve phase
    # GenSource's five event types in equal shares (signup -> I,
    # error -> D, the rest -> U) plus heartbeat rows, which the
    # changefeed's filter drops
    "event_types": ["signup", "view", "click", "purchase", "error",
                    "heartbeat"],
}

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

CDC_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts_us", pa.int64()), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
    ("props", pa.string())])


def _write(table, path):
    # fixed writer settings: no dictionary-size or timestamp variance
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def cdc(seed, out):
    """Writes flush-NNN.parquet (backlog then steady), plus plan.json with
    the phase split, the hot key and the seeded lookup keys."""
    rng = np.random.default_rng([seed, 1])
    c = CDC
    n_flush = c["backlog_flushes"] + c["steady_flushes"]
    n = n_flush * c["flush_events"]
    # Zipf over a seeded permutation of the key space, one hot key on top
    ranks = np.arange(1, c["keys"] + 1, dtype=np.float64)
    p = ranks ** -c["zipf_s"]
    p /= p.sum()
    perm = rng.permutation(c["keys"]).astype(np.int64)
    keys = perm[rng.choice(c["keys"], size=n, p=p)]
    hot_key = int(perm[rng.integers(c["keys"] // 2, c["keys"])])
    fe = c["flush_events"]
    for f in range(n_flush):  # exactly hot_key_events per flush
        hot = rng.choice(fe, size=c["hot_key_events"], replace=False)
        keys[f * fe + hot] = hot_key
    types = np.array(c["event_types"])
    etype = types[rng.integers(0, len(types), size=n)]
    # commit ts strictly increasing in file order, with equal-ts ties that
    # the event id (seq) breaks
    ts = T0_US + np.cumsum(rng.integers(0, 3, size=n)) * 1000
    cents = rng.integers(1, 100_000, size=n)
    props = np.char.add(np.char.add('{"email": "u', keys.astype(str)),
                        '@example.com"}')
    os.makedirs(out, exist_ok=True)
    for f in range(n_flush):
        s = slice(f * fe, (f + 1) * fe)
        _write(pa.table({
            "event_id": np.arange(f * fe, (f + 1) * fe, dtype=np.int64),
            "ts_us": ts[s], "user_id": keys[s],
            "event_type": etype[s], "value": cents[s] / 100.0,
            "props": props[s]}, schema=CDC_SCHEMA),
            os.path.join(out, f"flush-{f:03d}.parquet"))
    lookups = perm[rng.choice(c["keys"], size=c["lookups"], p=p)]
    lookups[::8] = hot_key
    plan = {"backlog": c["backlog_flushes"], "steady": c["steady_flushes"],
            "flush_events": fe, "hot_key": hot_key,
            "lookup_keys": [int(k) for k in lookups],
            "serve_seed": int(rng.integers(1 << 31))}
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan, fh, sort_keys=True)


# --- query_mix: TPC-H-shaped tables plus events/documents/embeddings -------

TABLE_ROWS = {  # rows at scale 1.0 (= sf0.1 of the reference tables)
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000}
TABLE_SCALE = 0.1  # this benchmark runs the mix at sf0.01-sized tables

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
DAY_US = 86_400_000_000


def _rows(name):
    return max(1, int(TABLE_ROWS[name] * TABLE_SCALE))


def _money(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def _days(rng, start_us, days, n):
    return (start_us + rng.integers(0, days, size=n) * DAY_US).astype(
        "datetime64[us]")


def tables(seed, out):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    w = lambda name, t: _write(t, os.path.join(out, f"{name}.parquet"))
    d1995 = 788_918_400_000_000  # 1995-01-01
    i32 = lambda a: np.asarray(a, dtype=np.int32)

    w("region", pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    w("nation", pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])}))
    n = _rows("customer")
    w("customer", pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)}))
    ns = _rows("supplier")
    w("supplier", pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}))
    npart = _rows("part")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    w("part", pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 1)}))
    no = _rows("orders")
    w("orders", pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, d1995, 2404, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}))
    nl = _rows("lineitem")
    w("lineitem", pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, d1995 + DAY_US, 2498, nl)}))
    ne = _rows("events")
    users = max(10, ne // 67)
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + T0_US
    w("events", pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": _money(rng, 0, 500, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}))
    nd = _rows("documents")
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 0 and r < 0.04:    # exact copy of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < 0.12:  # near copy: one token replaced
            toks = texts[rng.integers(0, i)].split(" ")
            toks[rng.integers(0, len(toks))] = WORDS[rng.integers(0, 31)]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    w("documents", pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    nv = _rows("embeddings")
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    v = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    w("embeddings", pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": i32(labels)}))


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    {"cdc": cdc, "tables": tables}[kind](seed, out)
