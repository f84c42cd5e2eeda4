#!/usr/bin/env python3
"""Compares the benchmark's generated dataset with a reference dataset.

    python3 perfbench/calibrate.py <reference_dir> <reference_scale>

For example `python3 perfbench/calibrate.py /data/sf0.1 0.1` against a
directory of the shared test-dataset parquet files. It generates the
benchmark's dataset (scale 0.02, the fixed seed) under
.bench_build/calibrate and prints, per statistic, the reference value and
the generated one. Row counts are also printed per unit of scale; the
other statistics are shapes that do not depend on the scale.
"""
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import run  # noqa: E402

COUNTED = ["customer", "supplier", "part", "orders", "lineitem", "events",
           "documents", "embeddings"]


def shares(con, table, col):
    rows = con.sql(f"SELECT {col}, count(*) FROM {table} GROUP BY 1 ORDER BY 1").fetchall()
    total = sum(n for _, n in rows)
    return " ".join(f"{k}:{n / total:.2f}" for k, n in rows)


def stats(data_dir, scale):
    con = duckdb.connect()
    for t in COUNTED:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def one(sql):
        row = con.sql(sql).fetchone()
        return row[0] if len(row) == 1 else " / ".join(str(v) for v in row)

    counts = {t: one(f"SELECT count(*) FROM {t}") for t in COUNTED}
    out = {f"{t} rows (per unit scale)": f"{n} ({round(n / scale)})"
           for t, n in counts.items()}
    out.update({
        "distinct brands": one("SELECT count(DISTINCT p_brand) FROM part"),
        "distinct part names": one("SELECT count(DISTINCT p_name) FROM part"),
        "order status shares": shares(con, "orders", "o_orderstatus"),
        "order date min / max": one("SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE FROM orders"),
        "lines per order min / max / mean": one(
            "SELECT min(n), max(n), round(avg(n), 2) FROM "
            "(SELECT count(*) n FROM lineitem GROUP BY l_orderkey)"),
        "share of orders with lines": one(
            "SELECT round((SELECT count(DISTINCT l_orderkey) FROM lineitem)"
            " / (SELECT count(*) FROM orders), 3)"),
        "lineitem sorted by order key": bool(np.all(np.diff(pq.read_table(
            f"{data_dir}/lineitem.parquet", columns=["l_orderkey"])["l_orderkey"].to_numpy()) >= 0)),
        "extended price min / max / mean": one(
            "SELECT round(min(l_extendedprice)), round(max(l_extendedprice)), "
            "round(avg(l_extendedprice)) FROM lineitem"),
        "ship date min / max": one("SELECT min(l_shipdate)::DATE, max(l_shipdate)::DATE FROM lineitem"),
        "return flag shares": shares(con, "lineitem", "l_returnflag"),
        "distinct discounts / taxes": one(
            "SELECT count(DISTINCT l_discount), count(DISTINCT l_tax) FROM lineitem"),
        "suppliers used by lineitem per unit scale": round(
            one("SELECT count(DISTINCT l_suppkey) FROM lineitem") / scale),
        "events per user mean": one(
            "SELECT round(avg(n), 1) FROM (SELECT count(*) n FROM events GROUP BY user_id)"),
        "event span days": one(
            "SELECT round(epoch(max(ts) - min(ts)) / 86400, 2) FROM events"),
        "per-user event gap median / mean (min)": one(
            "SELECT round(median(g) / 60, 1), round(avg(g) / 60, 1) FROM (SELECT "
            "epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) g FROM events) "
            "WHERE g IS NOT NULL"),
        "event type shares": shares(con, "events", "event_type"),
        "event value mean / stddev": one(
            "SELECT round(avg(value), 1), round(stddev(value), 1) FROM events"),
        "document tokens min / max / mean": one(
            "SELECT min(n), max(n), round(avg(n), 1) FROM "
            "(SELECT len(string_split(text, ' ')) n FROM documents)"),
        "vocabulary size": one(
            "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"),
        "near-duplicate share (text = other + ' dup')": one(
            "SELECT round(count(*) FILTER (WHERE text LIKE '% dup') / count(*), 3) FROM documents"),
        "near-duplicates whose source is present": one(
            "SELECT round(avg((SELECT count(*) > 0 FROM documents b "
            "WHERE b.text || ' dup' = a.text)::INT), 2) FROM documents a WHERE a.text LIKE '% dup'"),
        "language shares": shares(con, "documents", "lang"),
        "distinct sources": one("SELECT count(DISTINCT source) FROM documents"),
    })
    emb = pq.read_table(f"{data_dir}/embeddings.parquet")
    vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    labels = emb["label"].to_numpy()
    sims = vecs @ vecs.T
    upper = np.triu_indices(len(vecs), 1)
    same = (labels[:, None] == labels[None, :])[upper]
    out.update({
        "embedding dim / norm": f"{vecs.shape[1]} / {np.linalg.norm(vecs, axis=1).mean():.3f}",
        "embedding labels": len(set(labels.tolist())),
        "pair cosine mean, same label": round(float(sims[upper][same].mean()), 3),
        "pair cosine mean, other label": round(float(sims[upper][~same].mean()), 3),
        "pair cosine stddev": round(float(sims[upper].std()), 3),
    })
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ref_dir, ref_scale = sys.argv[1], float(sys.argv[2])
    gen_dir = os.path.join(run.BUILD, "calibrate")
    gen_data.generate(gen_dir, run.DATA_SCALE, run.DATA_SEED)
    ref, gen = stats(ref_dir, ref_scale), stats(gen_dir, run.DATA_SCALE)
    print(f"| statistic | reference (scale {ref_scale:g}) | generated (scale {run.DATA_SCALE:g}) |")
    print("|---|---|---|")
    for k in ref:
        print(f"| {k} | {ref[k]} | {gen[k]} |")


if __name__ == "__main__":
    main()
