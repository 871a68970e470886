"""Seed-driven inputs for the engine benchmark.

Everything the engine sees in a run comes from here: the warehouse tables
(a TPC-H-like star schema plus the events, documents and embeddings
tables, shaped like the repository's test fixtures at sf0.01), the
micro-batches of the streaming workload, and the run plan (panel order,
lookup keys, batch splits, curation subset). The same seed gives the same
bytes; a different seed gives different rows and a different split with
the same row totals.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The dashboard panel: the nine ADS queries. (The four DWS reports the
# ADS layer reads from, province/product/keyword/visitor stats, are left
# out: their warm pass and timed cycle would not fit the run budget.)
PANEL = [
    "ads_appraise_ratio", "ads_category3_topn", "ads_dau_summary",
    "ads_keyword_weighted", "ads_new_returning", "ads_priority_gmv",
    "ads_province_stats", "ads_spu_stats", "ads_trademark_topn",
]

# (table, primary key) of the dims the dashboard looks up.
DIMS = [("customer", "c_custkey"), ("part", "p_partkey")]

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500,
    "embeddings": 500,
}

# Streaming workload: rows in the bootstrap and in the micro-batches that
# follow it. Each log's batches are a seed-chosen contiguous split of its
# tail, so the mean batch is `*_tick` rows.
STREAM = {
    "batches": 40,            # micro-batches after the bootstrap
    "cdc_boot": 1000, "cdc_tick": 100, "cdc_keys": 1000,
    "edge_boot": 1000, "edge_tick": 100, "edge_nodes": 600,
}

CURATION_DOCS = 400           # of SIZES["documents"]
# Point lookups: one after each panel query (dashboard), DIM_LOOKUPS_PER_TICK
# after each tick against the CDC-maintained dim (stream_ingest). Lookups
# are reported apart from the op they follow (lookup_p50_ms), so these
# counts set the sample size, not the weight of either metric.
LOOKUPS_PER_PANEL = 1
DIM_LOOKUPS_PER_TICK = 20
MAX_CYCLES = 40               # panel cycles the plan provides lookups for

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])


def rng_for(seed, stream):
    """An independent generator per named stream, so adding a table never
    shifts the rows of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def contiguous_split(n_rows, n_batches, rng):
    """Cut `n_rows` ordered rows into `n_batches` contiguous runs whose
    sizes are seed-chosen within ±20% of the mean; returns the cut points
    (first row of every batch, then `n_rows`)."""
    w = rng.uniform(0.8, 1.2, n_batches)
    cuts = np.rint(np.cumsum(w) / w.sum() * n_rows).astype(int)
    return [0] + cuts.tolist()


def plan(seed):
    """The run plan: pure function of the seed (no IO)."""
    r = rng_for(seed, "plan")
    order = list(PANEL)
    r.shuffle(order)
    lookups = []
    for _ in range(len(PANEL) * LOOKUPS_PER_PANEL * MAX_CYCLES):
        t, pk = DIMS[int(r.integers(len(DIMS)))]
        lookups.append([t, pk, int(r.integers(SIZES[t]))])
    s = STREAM
    # lookups hit keys the bootstrap put in the dim, so every one returns
    # a row (an absent key prunes every file and takes another path)
    ids, kinds = cdc_changes(seed)[:2]
    present = np.unique(ids[:s["cdc_boot"]][kinds[:s["cdc_boot"]] == "update"])
    cdc_keys = rng_for(seed, "dimlookup").choice(
        present, size=(s["batches"] + 1, DIM_LOOKUPS_PER_TICK))
    cur = sorted(rng_for(seed, "curation").choice(
        SIZES["documents"], CURATION_DOCS, replace=False).tolist())

    def cuts(log, boot, tick):
        split = contiguous_split(tick * s["batches"], s["batches"], rng_for(seed, log))
        return [0] + [boot + c for c in split]
    return {
        "seed": seed,
        "panel_order": order,
        "lookups": lookups,
        "lookups_per_panel": LOOKUPS_PER_PANEL,
        # log position where each batch starts (log order kept); batch 0
        # is the bootstrap
        "cdc_cuts": cuts("cdcsplit", s["cdc_boot"], s["cdc_tick"]),
        "edge_cuts": cuts("edgesplit", s["edge_boot"], s["edge_tick"]),
        # CDC dim keys looked up after each batch (row 0: the warm pass)
        "dim_lookups": [[f"o{k:06d}" for k in row] for row in cdc_keys.tolist()],
        "curation_doc_ids": cur,
    }


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _texts(r, n, dup_share):
    """Documents shaped like the fixtures: 10..99 vocabulary words; a share
    of them are near-duplicates of another document plus a trailing
    `dup` token."""
    lens = r.integers(10, 100, n)
    texts = [" ".join(r.choice(VOCAB, k)) for k in lens]
    for i in np.flatnonzero(r.random(n) < dup_share):
        j = int(r.integers(n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return texts


def warehouse(seed):
    """The warehouse tables as pyarrow tables (name → table)."""
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng_for(seed, "customer")
    n = SIZES["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n)})
    r = rng_for(seed, "supplier")
    n = SIZES["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2)})
    r = rng_for(seed, "part")
    n = SIZES["part"]
    adj = ["small", "red", "blue", "green", "large", "steel", "brass", "matte"]
    noun = ["ring", "widget", "bolt", "gear", "valve", "panel", "clip", "hinge"]
    retail = np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": retail})
    r = rng_for(seed, "orders")
    n = SIZES["orders"]
    day = 86400 * 10**6
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, SIZES["customer"], n), pa.int64()),
        "o_orderstatus": r.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts("1995-01-01", r.integers(0, 2404, n) * day),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n)})
    r = rng_for(seed, "lineitem")
    n = SIZES["lineitem"]
    pk = r.integers(0, SIZES["part"], n)
    qty = r.integers(1, 51, n).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, SIZES["orders"], n), pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, SIZES["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pk] * r.uniform(0.98, 1.02, n), 2),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["O", "F"], n),
        "l_shipdate": _ts("1995-01-02", r.integers(0, 2498, n) * day)})
    r = rng_for(seed, "events")
    n = SIZES["events"]
    micros = np.sort(r.integers(0, 30 * day, n))
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts("2024-01-01", micros),
        "user_id": pa.array(r.integers(0, 150, n), pa.int64()),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(r.uniform(0.01, 490.02, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
    r = rng_for(seed, "documents")
    n = SIZES["documents"]
    texts = _texts(r, n, 0.05)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{k}" for k in r.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = rng_for(seed, "embeddings")
    n = SIZES["embeddings"]
    v = r.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})
    return out


def cdc_changes(seed):
    """The CDC change log's columns: order id, change kind, amount, user
    and priority per change, in log order."""
    s = STREAM
    r = rng_for(seed, "cdc")
    n = s["cdc_boot"] + s["cdc_tick"] * s["batches"]
    ids = r.integers(0, s["cdc_keys"], n)
    kinds = r.choice(["insert", "update", "delete"], n, p=[0.25, 0.65, 0.10])
    amount = np.round(r.uniform(1000.0, 500000.0, n), 2)
    users = r.integers(0, SIZES["customer"], n)
    prio = r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)
    return ids, kinds, amount, users, prio


def stream_inputs(seed):
    """The streaming workload's two logs, in arrival order: the CDC
    change log and the page-view edge log."""
    s = STREAM
    ids, kinds, amount, users, prio = cdc_changes(seed)
    n = len(ids)
    after = [[("id", f"o{i:06d}"), ("user_id", str(u)), ("total_amount", f"{a:.2f}"),
              ("order_priority", p)] for i, u, a, p in zip(ids, users, amount, prio)]
    cdc = pa.table({
        "database": ["graft"] * n,
        "tableName": ["order_info"] * n,
        "type": kinds,
        "op_seq": pa.array(range(n), pa.int64()),
        "after": pa.array(after, pa.map_(pa.string(), pa.string()))})
    r = rng_for(seed, "edges")
    n = s["edge_boot"] + s["edge_tick"] * s["batches"]
    src = r.integers(0, s["edge_nodes"], n)
    # page popularity is skewed: destinations follow a Zipf-like law
    dst = (r.zipf(1.5, n) - 1) % s["edge_nodes"]
    dst = np.where(dst == src, (dst + 1) % s["edge_nodes"], dst)
    edges = pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64()),
                      "n_d": pa.array(np.ones(n, dtype=np.int64))})
    return {"cdc": cdc, "edges": edges}


def write_inputs(seed, out_dir):
    """Write every input of a run under `out_dir`; returns the plan."""
    p = plan(seed)
    wh = os.path.join(out_dir, "warehouse")
    os.makedirs(wh, exist_ok=True)
    for name, t in warehouse(seed).items():
        _write(t, os.path.join(wh, f"{name}.parquet"))
    cuts = {"cdc": p["cdc_cuts"], "edges": p["edge_cuts"]}
    for name, t in stream_inputs(seed).items():
        d = os.path.join(out_dir, "stream", name)
        os.makedirs(d, exist_ok=True)
        c = cuts[name]
        assert c[-1] == t.num_rows, (name, c[-1], t.num_rows)
        for b in range(len(c) - 1):
            _write(t.slice(c[b], c[b + 1] - c[b]), os.path.join(d, f"b{b:04d}.parquet"))
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(p, f)
    return p
