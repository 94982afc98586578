"""Seeded input generator for the graft benchmark.

Reproduces the schemas, value domains and multi-row-group parquet layout
of the repository's `tools/gen_sf.py`, but every table draws from its own
stream of `numpy.random.default_rng([seed, table])`, so the same seed
always gives the same files and a workload can generate only the tables
it reads. Row counts are sf0.1's times a per-table multiplier.

It also generates `snapshot_upsert`'s update batches and lookup keys from
the seed, and returns the expected keep-last state the benchmark checks
the program against.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector a").split()
LANGS = [("en", 0.8), ("zh", 0.05), ("de", 0.05), ("fr", 0.05), ("es", 0.05)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]
ADJS = ["large", "hot", "blue", "red", "small", "dark", "light", "cold"]
NOUNS = ["ring", "bolt", "case", "drum", "tube", "disk", "cap", "rod"]

# sf0.1 row counts (gen_sf.py's base unit)
BASE = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "events": 100000, "documents": 5000, "embeddings": 2000}
TABLE_IDS = {t: i for i, t in enumerate(
    ["region", "nation", "customer", "supplier", "part", "orders",
     "events", "documents", "embeddings", "snapshot"])}
BATCH_STREAM = 1000


def _rng(seed, table):
    return np.random.default_rng([seed, TABLE_IDS[table]])


def _write(out, name, table, row_group_size=None):
    path = os.path.join(out, f"{name}.parquet")
    kw = {} if row_group_size is None else {"row_group_size": row_group_size}
    pq.write_table(table, path, version="2.6", **kw)
    md = pq.ParquetFile(path).metadata
    return {"rows": md.num_rows, "row_groups": md.num_row_groups,
            "bytes": os.path.getsize(path)}


def _texts(rng, n):
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words[idx], cuts)]


def documents_table(seed, mult):
    rng = _rng(seed, "documents")
    n = BASE["documents"] * mult
    texts = _texts(rng, n)
    # exact-dup rate ~0.2%, mirroring the shipped corpus
    for i in rng.integers(n // 2, n, max(1, n // 500)):
        texts[i] = texts[i - n // 2]
    langs = np.array([l for l, _ in LANGS])[
        rng.choice(len(LANGS), n, p=[p for _, p in LANGS])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def generate(out, seed, mults):
    """Write the tables named in `mults` ({table: multiplier}) to `out`;
    return {table: {rows, row_groups, bytes}}."""
    os.makedirs(out, exist_ok=True)
    stats = {}
    m = lambda t: BASE[t] * mults[t]
    if "region" in mults:
        stats["region"] = _write(out, "region", pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    if "nation" in mults:
        stats["nation"] = _write(out, "nation", pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    n_cust = m("customer") if "customer" in mults else BASE["customer"]
    if "customer" in mults:
        rng = _rng(seed, "customer")
        stats["customer"] = _write(out, "customer", pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(1000, 500000, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    n_supp = m("supplier") if "supplier" in mults else BASE["supplier"]
    if "supplier" in mults:
        rng = _rng(seed, "supplier")
        stats["supplier"] = _write(out, "supplier", pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(1000, 10000, n_supp), 2)}))
    n_part = m("part") if "part" in mults else BASE["part"]
    if "part" in mults:
        rng = _rng(seed, "part")
        stats["part"] = _write(out, "part", pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{ADJS[i % 8]} {NOUNS[(i // 8) % 8]}" for i in range(n_part)],
            "p_brand": [f"Brand#{1 + (i % 20)}" for i in range(n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, 5, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 1)}))
    if "orders" in mults:
        rng = _rng(seed, "orders")
        n_ord = m("orders")
        day_ms = 86400000
        o_epoch = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
        o_date_ms = o_epoch + rng.integers(0, 2404, n_ord) * day_ms
        stats["orders"] = _write(out, "orders", pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": pa.array(o_date_ms, pa.timestamp("ms")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
            row_group_size=131072)
        lines_per = rng.integers(1, 8, n_ord)
        l_okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
        n_li = len(l_okey)
        starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
        l_lineno = (np.arange(n_li) - starts + 1).astype(np.int32)
        ship_ms = np.repeat(o_date_ms, lines_per) + rng.integers(1, 96, n_li) * day_ms
        stats["lineitem"] = _write(out, "lineitem", pa.table({
            "l_orderkey": l_okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(l_lineno, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship_ms, pa.timestamp("ms"))}),
            row_group_size=131072)
    if "events" in mults:
        rng = _rng(seed, "events")
        n_ev = m("events")
        ev_epoch = np.datetime64("2024-01-01").astype("datetime64[ns]").astype(np.int64)
        ev_ns = ev_epoch + rng.integers(0, 30 * 86400 * 10**9, n_ev, dtype=np.int64)
        stats["events"] = _write(out, "events", pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.sort(ev_ns), pa.timestamp("ns")),
            "user_id": rng.integers(0, n_cust, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(80, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
            row_group_size=65536)
    if "documents" in mults:
        stats["documents"] = _write(
            out, "documents", documents_table(seed, mults["documents"]),
            row_group_size=2048)
    if "embeddings" in mults:
        rng = _rng(seed, "embeddings")
        n_emb = m("embeddings")
        centers = rng.standard_normal((10, 64))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        labels = rng.integers(0, 10, n_emb)
        vecs = centers[labels] + 0.25 * rng.standard_normal((n_emb, 64))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
        offsets = pa.array(np.arange(0, n_emb * 64 + 1, 64, dtype=np.int32))
        stats["embeddings"] = _write(out, "embeddings", pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32())}),
            row_group_size=2048)
    return stats


# ---- snapshot_upsert --------------------------------------------------------

SNAP_COLS = ["doc_id", "rev", "text", "lang", "source", "n_chars"]


def row_hash(doc_id, rev, text, lang, source, n_chars):
    """Order-insensitive table digests sum this per-row CRC32; the JVM side
    computes the identical string and checksum."""
    s = f"{doc_id}|{rev}|{text}|{lang}|{source}|{n_chars}"
    return zlib.crc32(s.encode("utf-8"))


def snapshot_inputs(out, seed, mult, n_batches, batch_updates, batch_inserts,
                    lookups_per_batch):
    """Base table (documents plus a `rev` column, rev 0), `n_batches` upsert
    batches and per-batch lookup keys. Returns the plan the JVM follows and
    the expected state after each batch, for the checks."""
    os.makedirs(out, exist_ok=True)
    base = documents_table(seed, mult)
    n0 = base.num_rows
    base = base.add_column(1, "rev", pa.array(np.zeros(n0, dtype=np.int64)))
    stats = {"snapshot_base": _write(out, "snapshot_base", base,
                                     row_group_size=2048)}
    rng = np.random.default_rng([seed, TABLE_IDS["snapshot"], BATCH_STREAM])
    state = {int(d): (int(d), 0, t, l, s, int(c)) for d, t, l, s, c in zip(
        base["doc_id"].to_numpy(), base["text"].to_pylist(),
        base["lang"].to_pylist(), base["source"].to_pylist(),
        base["n_chars"].to_numpy())}
    next_id = n0
    batches, batch_bytes = [], 0
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    for b in range(1, n_batches + 1):
        # updates biased toward recent keys: 3/4 from the newest tenth of
        # the key space, the rest uniform over the older keys
        recent_lo = max(0, next_id - max(1, next_id // 10))
        n_recent = batch_updates * 3 // 4
        recent = rng.choice(np.arange(recent_lo, next_id), n_recent, replace=False)
        older = rng.choice(recent_lo, batch_updates - n_recent, replace=False)
        upd = [int(k) for k in recent] + [int(k) for k in older]
        ins = list(range(next_id, next_id + batch_inserts))
        next_id += batch_inserts
        ids = upd + ins
        texts = _texts(rng, len(ids))
        langs = np.array([l for l, _ in LANGS])[
            rng.choice(len(LANGS), len(ids), p=[p for _, p in LANGS])]
        sources = [f"src{i}" for i in rng.integers(0, 20, len(ids))]
        rows = [(d, b, t, str(l), s, len(t))
                for d, t, l, s in zip(ids, texts, langs, sources)]
        tbl = pa.table({c: [r[i] for r in rows] for i, c in enumerate(SNAP_COLS)},
                       schema=pa.schema([("doc_id", pa.int64()), ("rev", pa.int64()),
                                         ("text", pa.string()), ("lang", pa.string()),
                                         ("source", pa.string()), ("n_chars", pa.int64())]))
        path = os.path.join(out, "batches", f"b{b:04d}.parquet")
        pq.write_table(tbl, path, version="2.6")
        batch_bytes += os.path.getsize(path)
        for r in rows:
            state[r[0]] = r
        half = lookups_per_batch // 2
        just = [int(k) for k in rng.choice(ids, half, replace=False)]
        uni = [int(k) for k in rng.integers(0, next_id, lookups_per_batch - half)]
        look = just + uni
        batches.append({
            "path": path, "rows": len(rows),
            "digest": sum(row_hash(*r) for r in rows),
            "lookups": look,
            "expect": [[state[k][1], row_hash(*state[k])] for k in look]})
    stats["snapshot_batches"] = {"rows": sum(x["rows"] for x in batches),
                                 "row_groups": n_batches, "bytes": batch_bytes}
    return batches, stats
