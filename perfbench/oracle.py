"""DuckDB check of the pipeline ops' verified outputs.

The comparison is the one scripts/check_oracle.py makes: both sides'
columns sorted by name, then rows compared value for value, exact, in
order. The DuckDB side depends only on the oracle SQL text and the data, so
its result is kept under the cache directory, keyed by both, and computed
once per checkout; the Spark side is the output this run wrote."""
import glob
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _compare(spark_tbl, duck_tbl):
    sc, dc = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
    if sc != dc:
        return f"columns {sc} vs {dc}"
    s, d = spark_tbl.select(sc).to_pylist(), duck_tbl.select(sc).to_pylist()
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            return f"row {i}: spark={a} duckdb={b}"
    return None


def check(out_dir, data_dir, ops, cache_dir):
    """Returns {op: reason} for every op whose output disagrees with its
    oracle (or has none)."""
    os.makedirs(cache_dir, exist_ok=True)
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = _connect(data_dir)
    bad = {}
    for op in ops:
        files = sorted(glob.glob(os.path.join(out_dir, op, "*.parquet")))
        if not files:
            bad[op] = "no verified spark output"
            continue
        sql = sqls[op]
        key = hashlib.sha256((sql + "\0" + data_dir).encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{op}-{key}.parquet")
        try:
            if not os.path.exists(cached):
                pq.write_table(con.execute(sql).fetch_arrow_table(), cached + ".tmp")
                os.replace(cached + ".tmp", cached)
            duck = pq.read_table(cached)
        except Exception as e:  # the oracle SQL itself failed
            bad[op] = f"oracle sql error: {e}"
            continue
        spark = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        why = _compare(spark, duck)
        if why:
            bad[op] = why
    return bad
