"""Seeded input generator for the benchmark workloads.

Every table has the schema of the FinanceDatabase test tables the engine
reads (`Tables.assertSchemas`), with the same value domains: a TPC-H-like
star schema, an `events` stream, a small text corpus with 5% near
duplicates, and 64-d unit embeddings in 10 weak clusters. The same seed
always gives byte-identical tables.

`curation_batch_x10` replicates its corpus tables ten times with the rules
of `tools/gen_sf1.py`: fresh ids per replica, word-shuffled text, N(0, 0.02)
jittered vectors and shifted event ids; the other tables are not scaled.
"""
import hashlib
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts per workload, sized so that one run fits the per-run time
# budget. finance_interactive uses the sf0.01 shape; enrich_store keeps 300
# orders, so the two risk queries (which enrich every order with
# o_orderkey < 2000) enrich 300 rows each; curation_batch_x10 replicates a
# 100-document base.
SIZES = {
    "finance_interactive": dict(customer=1500, supplier=100, part=2000,
                                orders=15000, lineitem=60000, events=10000,
                                documents=500, embeddings=500),
    "enrich_store": dict(customer=150, supplier=10, part=200, orders=300,
                         lineitem=6000, events=10000, documents=50,
                         embeddings=50),
    "curation_batch_x10": dict(customer=150, supplier=10, part=200,
                               orders=1500, lineitem=6000, events=2000,
                               documents=100, embeddings=100),
}
REPLICAS = {"curation_batch_x10": 10}
STRIDE = 10_000_000
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DAY_US = 86_400_000_000


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, type=pa.timestamp("us"))


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng, n):
    pick = lambda xs, k: np.asarray(xs, dtype=object)[rng.integers(0, len(xs), k)]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], c).tolist()})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [a + " " + b for a, b in zip(pick(adj, p), pick(noun, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)})
    o = n["orders"]
    d0 = _epoch_us(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], o).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(d0 + rng.integers(0, 2405, o) * DAY_US),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], o).tolist()})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li).tolist(),
        "l_linestatus": pick(["F", "O"], li).tolist(),
        "l_shipdate": _ts(_epoch_us(1995, 1, 2) + rng.integers(0, 2499, li) * DAY_US)})
    e = n["events"]
    span_us = 30 * DAY_US
    ts = np.sort(rng.integers(0, span_us, e)) + _epoch_us(2024, 1, 1)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(e // 66, 5), e), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], e).tolist(),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(VOCAB, int(rng.integers(10, 101)))))
    lang = pick(["en", "en", "en", "de", "es", "fr", "zh"], nd).tolist()
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    label = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.07, (10, 64))
    v = rng.normal(0.0, 1.0 / 8.0, (nv, 64)) + centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def replicate(t, r, seed):
    """gen_sf1 replica rules: each replica gets stride-shifted ids; text is
    word-shuffled and vectors jittered from replica 1 on."""
    def shifted(tab, col, i):
        ids = tab.column(col).to_numpy() + i * STRIDE
        return tab.set_column(tab.schema.get_field_index(col), col,
                              pa.array(ids, tab.schema.field(col).type))
    ev = t["events"]
    t["events"] = pa.concat_tables([shifted(ev, "event_id", i) for i in range(r)])
    doc = t["documents"]
    words = [s.split(" ") for s in doc.column("text").to_pylist()]
    parts = []
    for i in range(r):
        d = doc
        if i > 0:
            rnd = random.Random(seed * 1000 + i)
            texts = []
            for w in words:
                w = list(w)
                rnd.shuffle(w)
                texts.append(" ".join(w))
            d = d.set_column(d.schema.get_field_index("text"), "text", pa.array(texts))
            d = d.set_column(d.schema.get_field_index("n_chars"), "n_chars",
                             pa.array([len(x) for x in texts], pa.int64()))
        parts.append(shifted(d, "doc_id", i))
    t["documents"] = pa.concat_tables(parts)
    emb = t["embeddings"]
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    parts = []
    for i in range(r):
        e = shifted(emb, "vec_id", i)
        if i > 0:
            rng = np.random.default_rng(seed * 1000 + 2000 + i)
            v = vecs + rng.normal(0.0, 0.02, vecs.shape).astype(np.float32)
            e = e.set_column(e.schema.get_field_index("embedding"), "embedding",
                             pa.array(list(v), pa.list_(pa.float32())))
        parts.append(e)
    t["embeddings"] = pa.concat_tables(parts)


def version():
    """Hash of this generator's source: cached inputs are keyed by it."""
    with open(__file__, "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()[:8]


def generate(workload, seed, out_dir):
    """Write the workload's tables for `seed` into `out_dir` (cached: an
    existing complete directory is reused). Returns a report dict."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(stamp):
        return dict(cached=True, gen_s=0.0, tables=_describe(out_dir))
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = base_tables(rng, SIZES[workload])
    r = REPLICAS.get(workload, 1)
    if r > 1:
        replicate(tables, r, seed)
    for name in TABLES:
        # replicated tables get many row groups, like gen_sf1
        rg = 8192 if r > 1 and name in ("events", "documents", "embeddings") else None
        pq.write_table(tables[name], os.path.join(out_dir, name + ".parquet"),
                       row_group_size=rg)
    open(stamp, "w").close()
    return dict(cached=False, gen_s=time.perf_counter() - t0, tables=_describe(out_dir))


def _describe(out_dir):
    return {n: dict(rows=pq.ParquetFile(os.path.join(out_dir, n + ".parquet")).metadata.num_rows,
                    bytes=os.path.getsize(os.path.join(out_dir, n + ".parquet")))
            for n in TABLES}
