"""Seeded workload inputs. The benchmark JVM receives only what these
functions generate: the dashboard's request sequence, the pipeline's op
orders, the ingest micro-batches and their expected totals."""
import os
import random
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Pipeline op set: at least one op per family. The iterative materializing
# ops (t23, s10) and the demo/auto duplicate pair (d04/d24) are in; d16 and
# s14 are out because their DuckDB oracles alone take minutes, and the
# other cube ops (q49, q52, q53) because a run must stay short.
OPS = ["q01_returnflag_agg", "d04_ngram_jaccard", "d24_ngram_jaccard_auto",
       "t23_textrank", "e05_retention", "s10_mmr_rerank", "m20_flac_decode"]

MDX = "SELECT {{{m}}} ON COLUMNS, {rows} ON ROWS FROM [{cube}]"


def _get(rid, path, **params):
    query = "&".join(f"{quote(k)}={quote(str(v), safe='')}"
                     for k, vs in params.items()
                     for v in (vs if isinstance(vs, list) else [vs]))
    return {"id": rid, "method": "GET", "path": path, "query": query,
            "body": ""}


def _agg(rid, cube, ext="", drills=(), measures=(), cuts=(), **extra):
    params = {"drilldown[]": list(drills), "measures[]": list(measures)}
    if cuts:
        params["cut[]"] = list(cuts)
    params.update(extra)
    return _get(rid, f"/cubes/{cube}/aggregate{ext}", **params)


def _mdx(rid, ext, cube, measures, rows):
    m = ", ".join(f"[Measures].[{x}]" for x in measures)
    return {"id": rid, "method": "POST", "path": f"/mdx{ext}", "query": "",
            "body": MDX.format(m=m, rows=rows, cube=cube)}


def hot_set():
    """Sixteen distinct requests, most popular first. Results range from 5
    rows to the full supplier list and the dense day x type axes."""
    return [
        _agg("h01", "sales", "", ["ReturnFlag", "LineStatus"], ["sum_qty", "revenue"]),
        _agg("h02", "sales", ".csv", ["Geography.Region"], ["revenue", "cnt"]),
        _get("h03", "/cubes"),
        _agg("h04", "sales", ".jsonrecords", ["Part.Brands.Brand"], ["revenue", "gross"]),
        _mdx("h05", "", "sales", ["Revenue"], "NON EMPTY [Geography].[Region].Members"),
        _agg("h06", "orders", "", ["Priority"], ["total_sales", "order_count"]),
        _agg("h07", "events", "", ["EventDate.Day", "EventType"], ["event_count"]),
        _agg("h08", "sales", "", ["Geography.Supplier"], ["revenue"], nonempty="true"),
        _get("h09", "/cubes/sales/dimensions/Geography/levels/Region/members"),
        _agg("h10", "sales", ".xls", ["Geography.Nation"], ["revenue", "sum_qty"]),
        _agg("h11", "commerce", "", ["Geography.Region"], ["revenue", "total_sales"]),
        _mdx("h12", ".csv", "sales", ["Revenue"],
             "TOPCOUNT([Part].[Brands].[Brand].Members, 5, [Measures].[Revenue])"),
        _agg("h13", "sales", "", ["ShipDate.Month"], ["revenue", "prev_revenue"],
             ["ShipDate.Year.1998"]),
        _get("h14", "/cubes/sales/dimensions/Part/levels/Brand/members"),
        _agg("h15", "sales", "", ["Top Brands"], ["revenue", "cnt"]),
        _get("h16", "/cubes/sales/dimensions/ShipDate/hierarchies/Weekly/levels/Week/members"),
    ]


WARMUP = [_agg("w01", "sales", ".csv", ["Order.Priority.Priority"], ["disc_amt"])]

# Cold-stream vocabulary: drills, measures and cuts a dashboard user mixes.
COLD_DRILLS = {
    "sales": ["Geography.Region", "Geography.Nation", "Part.Brands.Brand",
              "Part.Types.Type", "ShipDate.Year", "ShipDate.Quarter",
              "ReturnFlag", "LineStatus", "Order.Status.Status"],
    "orders": ["Geography.Region", "Segment", "Priority", "Status",
               "OrderDate.Year", "OrderDate.Quarter"],
    "events": ["EventType", "EventDate.Day"],
}
COLD_MEASURES = {
    "sales": ["revenue", "sum_qty", "gross", "cnt", "avg_disc", "charge",
              "min_price", "max_price", "promo_rev", "order_cnt"],
    "orders": ["total_sales", "order_count", "customer_count", "avg_order",
               "max_order"],
    "events": ["value_sum", "event_count", "user_count", "avg_value"],
}
COLD_CUTS = {
    "sales": ([f"ShipDate.Year.{y}" for y in range(1995, 2002)] +
              [f"Geography.Region.{r}" for r in range(5)] +
              [f"ReturnFlag.ReturnFlag.{f}" for f in "ANR"] +
              [f"Part.Brands.Brand.[Brand#{b}]" for b in range(1, 26)]),
    "orders": ([f"OrderDate.Year.{y}" for y in range(1995, 2002)] +
               [f"Geography.Region.{r}" for r in range(5)]),
    "events": [f"EventType.EventType.{t}" for t in
               ("click", "error", "purchase", "signup", "view")],
}


# Every run's cold stream has the same mix of shapes; the seed picks their
# parameters. Dense (the default) and lag/TopCount shapes fill the
# catalog's dense- and time-domain caches.
COLD_KINDS = ["topcount", "lag", "dense", "dense", "dense", "sparse",
              "sparse", "sparse"]


def _ident(req):
    """The server's result cache keys on the query, not the format."""
    return (req["path"].split("aggregate")[0].split("mdx")[0], req["query"],
            req["body"])


def _cold(rng, i, kind, seen):
    """One fresh request of the given shape, never seen before in this run."""
    while True:
        rid = f"c{i:04d}"
        if kind == "topcount":
            n = rng.randint(2, 8)
            measure = rng.choice(["Revenue", "Quantity", "Gross"])
            req = _mdx(rid, rng.choice(["", ".csv"]), "sales", [measure],
                       f"TOPCOUNT([Part].[Brands].[Brand].Members, {n}, "
                       f"[Measures].[{measure}])")
        elif kind == "lag":
            year = rng.randint(1995, 2001)
            req = _agg(rid, "sales", rng.choice(["", ".csv"]), ["ShipDate.Month"],
                       ["revenue", "prev_revenue"],
                       [f"ShipDate.Year.{year}", rng.choice(COLD_CUTS["sales"][7:12])])
        else:
            cube = rng.choices(["sales", "orders", "events"], [6, 3, 1])[0]
            drills = rng.sample(COLD_DRILLS[cube], rng.randint(1, 2))
            measures = rng.sample(COLD_MEASURES[cube], rng.randint(1, 3))
            dims = {d.split(".")[0] for d in drills}
            cuts = [c for c in rng.sample(COLD_CUTS[cube], rng.randint(0, 2))
                    if c.split(".")[0] not in dims]
            extra = {"nonempty": "true"} if kind == "sparse" else {}
            req = _agg(rid, cube, rng.choice(["", ".csv", ".jsonrecords"]),
                       drills, measures, cuts, **extra)
        if _ident(req) not in seen:
            seen.add(_ident(req))
            return req


def dashboard(seed, seconds):
    """24 requests per second of run length: every hot request once plus
    Zipf-weighted repeats, and one cold request per second spread over the
    sequence at seeded positions."""
    rng = random.Random(seed)
    hot = hot_set()
    n_requests = 24 * seconds
    n_cold = seconds
    seen = {_ident(r) for r in hot + WARMUP}
    cold = [_cold(rng, i, COLD_KINDS[i % len(COLD_KINDS)], seen)
            for i in range(n_cold)]
    weights = [1.0 / (rank + 1) for rank in range(len(hot))]
    picks = list(range(len(hot))) + rng.choices(
        range(len(hot)), weights, k=n_requests - n_cold - len(hot))
    rng.shuffle(picks)
    sequence = [hot[k]["id"] for k in picks]
    for pos, c in zip(sorted(rng.sample(range(n_requests), n_cold)), cold):
        sequence.insert(pos, c["id"])
    return {"requests": hot + cold, "warmup": WARMUP, "sequence": sequence,
            "clients": 2}


def pipeline(seed, seconds, data_dir, run_dir):
    """Seeded op orders for the batch leg (a fixed number of passes, one per
    5 seconds of run length, so every run does the same work) and the
    ingest inputs for the streaming leg."""
    rng = random.Random(seed)
    orders = []
    for _ in range(max(8, seconds)):
        o = list(OPS)
        rng.shuffle(o)
        orders.append(o)
    return {"ops": OPS, "orders": orders, "passes": max(1, round(seconds / 5)),
            "ingest": ingest(seed, seconds, data_dir, run_dir)}


def ingest(seed, seconds, data_dir, run_dir):
    """Partition lineitem into seeded micro-batches (parquet files under
    run_dir) and precompute, per batch, the per-region totals of every row
    ingested so far."""
    rng = np.random.default_rng(seed)
    n_batches = max(1, round(seconds / 2))
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    supp = pq.read_table(os.path.join(data_dir, "supplier.parquet"))
    nation_of = np.empty(len(supp), dtype=np.int64)
    nation_of[supp["s_suppkey"].to_numpy()] = supp["s_nationkey"].to_numpy()
    region = nation_of[li["l_suppkey"].to_numpy()] % 5
    qty = li["l_quantity"].to_numpy()
    cents = np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64)

    order = rng.permutation(len(li))
    cnt = np.zeros(5, np.int64)
    tot_qty = np.zeros(5, np.int64)
    tot_cents = np.zeros(5, np.int64)
    batches, expected = [], []
    for b, idx in enumerate(np.array_split(order, n_batches)):
        idx = np.sort(idx)
        path = os.path.join(run_dir, f"batch_{b:03d}.parquet")
        pq.write_table(li.take(pa.array(idx)), path)
        batches.append({"path": path, "rows": len(idx),
                        "bytes": os.path.getsize(path)})
        np.add.at(cnt, region[idx], 1)
        np.add.at(tot_qty, region[idx], qty[idx].astype(np.int64))
        np.add.at(tot_cents, region[idx], cents[idx])
        expected.append([[r, int(cnt[r]), int(tot_qty[r]), int(tot_cents[r])]
                         for r in range(5) if cnt[r] > 0])
    return {"batches": batches, "expected": expected,
            "year": int(rng.integers(1995, 2002)),
            "levels": [["Geography", "Region"], ["Part", "Brand"],
                       ["ShipDate", "Year"]]}
