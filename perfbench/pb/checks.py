"""Output checks. Each returns ``{name: "OK" | reason}``.

* ``oracle``: each query's Spark output against its DuckDB oracle SQL on the
  same parquet tables, compared the way the engine's oracle gate compares
  (columns sorted by name, rows order-insensitive, dtype kinds equal, values
  exact). Oracle digests are cached, keyed by the data set and the SQL text.
* ``store_replay``: the final store table and one ``VERSION AS OF`` snapshot
  against a replay of the statement log in DuckDB.
"""
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None:
        return "~"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, float):
        return "~" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        try:
            import pandas as pd
            if v is pd.NaT:
                return "~"
        except ImportError:
            pass
        return v.isoformat()
    return str(v)


def digest(df):
    """Order-insensitive digest of a pandas frame: sorted column names,
    their dtype kinds, and the sorted rendered rows."""
    cols = sorted(df.columns)
    kinds = [df.dtypes[c].kind for c in cols]
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps([cols, kinds]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


def _read_dump(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def oracle(data_dir, dump_dir, oracle_sql, names, cache_dir):
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        spark_df = _read_dump(con, os.path.join(dump_dir, f"{name}.parquet"))
        if spark_df is None:
            out[name] = "no Spark output"
            continue
        key = hashlib.sha256((data_dir + "\0" + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key)
        if os.path.exists(cached):
            want = open(cached).read()
        else:
            try:
                want = digest(con.execute(sql).fetchdf())
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                out[name] = f"oracle error: {e}"[:300]
                continue
            with open(cached, "w") as f:
                f.write(want)
        got = digest(spark_df)
        out[name] = "OK" if got == want else f"mismatch: spark {got[:20]} oracle {want[:20]}"
    return out


def store_replay(store_dir, dump_dir, check_after):
    """Replays the statement log's writes in DuckDB; MERGE (update all, insert
    all) is delete-then-insert on the key."""
    stream = json.load(open(os.path.join(store_dir, "stream.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE TABLE bench_store AS SELECT * FROM read_parquet('{store_dir}/base.parquet')")
    snap, writes = None, 0
    if check_after == 0:
        snap = digest(con.execute("SELECT * FROM bench_store").fetchdf())
    for st in stream:
        if st["kind"] == "merge":
            src = f"read_parquet('{os.path.join(store_dir, st['src'])}')"
            con.execute(f"DELETE FROM bench_store WHERE id IN (SELECT id FROM {src})")
            con.execute(f"INSERT INTO bench_store SELECT * FROM {src}")
        elif st["kind"] in ("update", "delete"):
            con.execute(st["sql"])
        else:
            continue
        writes += 1
        if writes == check_after:
            snap = digest(con.execute("SELECT * FROM bench_store").fetchdf())
    final = digest(con.execute("SELECT * FROM bench_store").fetchdf())
    out = {}
    for name, want in (("final", final), ("snapshot", snap)):
        got = _read_dump(con, os.path.join(dump_dir, f"{name}.parquet"))
        if got is None:
            out[name] = "no Spark output"
        else:
            g = digest(got)
            out[name] = "OK" if g == want else f"mismatch: spark {g[:20]} replay {want[:20]}"
    return out
