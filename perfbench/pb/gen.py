"""Seeded input generators. The same (seed, size) always gives the same
bytes; outputs are cached on disk under that key by ``run.py``.

* ``tables``: the ten relational tables the declared queries read, with the
  column contract the engine's table specs pin (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``).
* ``store_inputs``: the ``store`` seed table (surrogate key ``id``), the
  statement stream, and one parquet file per MERGE batch.
* ``query_order``: the per-pass permutation of the query panel.
"""
import json
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS = (["blue", "cold", "hot", "large", "new", "old", "red", "small"],
          ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + rng.randint(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale, out):
    """Writes ``<out>/<table>.parquet`` for all ten tables. ``scale`` is the
    TPC-H-style scale factor (0.01 gives 60k lineitem rows)."""
    rng = np.random.RandomState(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * scale), max(10, int(10000 * scale))
    n_part, n_ord = int(200000 * scale), int(1500000 * scale)
    n_events = int(1000000 * scale)
    n_docs = n_vecs = max(200, int(100000 * scale))

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PWORDS[0][a]} {PWORDS[1][b]}" for a, b in
                   zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    lines = rng.randint(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.randint(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.randint(0, 2, n_li)],
        "l_shipdate": pa.array(odate[okey] + rng.randint(1, 122, n_li).astype("timedelta64[D]"),
                               pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.sort(rng.randint(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, max(150, n_events // 60), n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_events)],
        "value": _money(rng, 0.01, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.rand() < 0.08:
            # near-duplicate of an earlier document: one token changed
            toks = texts[rng.randint(0, i)].split()
            toks[rng.randint(0, len(toks))] = "dup"
        else:
            toks = [VOCAB[j] for j in rng.randint(0, len(VOCAB), rng.randint(8, 100))]
        texts.append(" ".join(toks))
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.randint(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    labels = rng.randint(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


STORE_DDL = ("CREATE TABLE bench_store (id BIGINT, orderkey BIGINT, partkey BIGINT, "
             "qty INT, price DECIMAL(12,2), flag STRING, shipday INT, PRIMARY KEY (id)) "
             "USING graft LOCATION '{location}'")


def _store_rows(rng, ids):
    n = len(ids)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "orderkey": pa.array(ids // 4, pa.int64()),
        "partkey": pa.array(rng.randint(0, 20000, n), pa.int64()),
        "qty": pa.array(rng.randint(1, 51, n), pa.int32()),
        "price": pa.array([Decimal(int(c)).scaleb(-2) for c in rng.randint(90000, 10500000, n)],
                          pa.decimal128(12, 2)),
        "flag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n)],
        "shipday": pa.array(rng.randint(0, 2500, n), pa.int32())})


def store_inputs(seed, rows, n_statements, out):
    """Seed table, statement stream and MERGE sources for ``store``.

    Every 16 statements hold 8 writes (4 MERGE, 2 UPDATE, 2 DELETE) and 8
    reads (3 point lookups, 2 aggregate scans, 2 ``VERSION AS OF`` reads, 1
    ``table_changes`` window over the last two commits), interleaved in a
    fixed order that opens with a MERGE. MERGE batches hold 1k, 100, 10k and
    1k rows and favour recent keys: two thirds update rows in the newest
    tenth of the key space, one third insert fresh keys past the end. UPDATE
    and DELETE hit key ranges of 1000 and 250 keys. The seed picks the keys,
    the rows and the time-travel versions. The replay check reads the
    snapshot taken after write number ``check_after_write``.
    """
    rng = np.random.RandomState(seed + 7)
    os.makedirs(out, exist_ok=True)
    base = _store_rows(rng, np.arange(rows))
    _write(base, f"{out}/base.parquet")
    stream, writes, next_id = [], 0, rows
    # the order and sizes repeat every 16 statements; the seed picks keys,
    # rows and time-travel targets, so every seed costs about the same
    order = ["merge", "point", "update", "scan", "merge", "travel", "delete", "point",
             "merge", "changes", "update", "scan", "merge", "travel", "delete", "point"]
    kinds = [order[i % len(order)] for i in range(n_statements)]
    sizes = [(1000, 100, 10000, 1000)[i % 4] for i in range(kinds.count("merge"))][::-1]
    for i, kind in enumerate(kinds):
        if kind == "merge":
            size = sizes.pop()
            n_upd = size * 2 // 3
            lo = max(0, next_id - rows // 10)
            upd = np.unique(rng.randint(lo, next_id, n_upd))
            ins = np.arange(next_id, next_id + (size - len(upd)))
            next_id += len(ins)
            src = f"src_{i:03d}.parquet"
            _write(_store_rows(rng, np.concatenate([upd, ins])), f"{out}/{src}")
            sql = ("MERGE INTO bench_store AS t USING bench_src AS s ON t.id = s.id "
                   "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
            stream.append({"kind": kind, "sql": sql, "src": src})
            writes += 1
        elif kind == "update":
            lo = int(rng.randint(0, next_id - 1000)); hi = lo + 1000
            stream.append({"kind": kind, "src": None, "sql":
                           f"UPDATE bench_store SET qty = qty + 1, flag = 'U' "
                           f"WHERE id >= {lo} AND id < {hi}"})
            writes += 1
        elif kind == "delete":
            lo = int(rng.randint(0, next_id - 250)); hi = lo + 250
            stream.append({"kind": kind, "src": None, "sql":
                           f"DELETE FROM bench_store WHERE id >= {lo} AND id < {hi}"})
            writes += 1
        elif kind == "point":
            stream.append({"kind": kind, "src": None, "sql":
                           f"SELECT * FROM bench_store WHERE id = {int(rng.randint(0, next_id))}"})
        elif kind == "scan":
            stream.append({"kind": kind, "src": None, "sql":
                           "SELECT flag, COUNT(*) AS n, SUM(qty) AS q, SUM(price) AS p "
                           "FROM bench_store GROUP BY flag"})
        elif kind == "travel":
            k = int(rng.randint(0, writes + 1))
            stream.append({"kind": kind, "src": None, "sql":
                           f"SELECT COUNT(*) AS n, SUM(price) AS p FROM bench_store "
                           f"VERSION AS OF {{v:{k}}}"})
        else:
            k = max(0, writes - 2)
            stream.append({"kind": kind, "src": None, "sql":
                           f"SELECT _change_type, COUNT(*) AS n FROM table_changes("
                           f"'bench_store', {{v:{k}}}, {{v:{writes}}}) GROUP BY _change_type"})
    meta = {"ddl": STORE_DDL, "check_after_write": max(1, writes // 2), "writes": writes}
    with open(f"{out}/stream.json", "w") as f:
        json.dump(stream, f, indent=1)
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)
    return meta


def query_order(seed, panel, pass_index):
    """The order of one pass (the JVM applies the same rule; this twin is
    what the tests pin)."""
    order = list(panel)
    random.Random(seed * 1000003 + pass_index).shuffle(order)
    return order
