"""Seeded inputs of the lake benchmark.

The same seed always gives the same files. Each generator writes parquet
files into an input directory and returns the parameters the JVM side
needs (bands, predicates, table sizes).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = ["A", "N", "R"]
DAY0 = np.datetime64("1995-01-01", "D")
DAYS = int((np.datetime64("2001-08-01", "D") - DAY0).astype(int))


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _cents(rng, lo, hi, n):
    """Prices with two decimals, as the TPC-H-like testdata has them."""
    return np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)


def star_schema(rng, sf):
    """customer, orders and lineitem at scale factor `sf` (TPC-H ratios),
    with the column layout the registered vdt jobs read."""
    n_cust = max(10, int(150_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999, 9999, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    odate = DAY0 + rng.integers(0, DAYS, n_ord).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.integers(90_000, 210_000, n) / 100.0, 2)
    ship = np.repeat(odate, lines_per) + rng.integers(1, 122, n).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n, dtype=np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), type=pa.timestamp("us")),
    })
    return cust, orders, lineitem


def vdt_jobs(out_dir, seed, p):
    cust, orders, lineitem = star_schema(np.random.default_rng(seed), p["sf"])
    _write(out_dir, "customer", cust)
    _write(out_dir, "orders", orders)
    _write(out_dir, "lineitem", lineitem)
    return {}


def _dml_rows(rng, okey, lnum):
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_key": pa.array([f"{o:09d}-{l}" for o, l in zip(okey, lnum)]),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.integers(90_000, 210_000, n) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, n)]),
    })


def _band(rng, n_ord, width):
    lo = int(rng.integers(0, n_ord - width))
    return lo, lo + width - 1


def row_dml(out_dir, seed, p):
    """A keyed lineitem base table and one seeded batch of each DML verb.
    Keys are (l_orderkey, l_linenumber), and l_key is their string form."""
    rng = np.random.default_rng(seed)
    n_ord = p["orders"]
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines_per)
    lnum = np.arange(len(okey)) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1
    base = _dml_rows(rng, okey, lnum)
    _write(out_dir, "base", base)
    n = len(okey)
    b = p["batch"]
    pick = rng.choice(n, size=3 * b, replace=False)
    upd, dele, mrg = pick[:b], pick[b:2 * b], pick[2 * b:]
    # upserts: b replaced rows plus b new keys past the base's order range
    new_u = np.arange(n_ord, n_ord + b)
    up = _dml_rows(rng, np.concatenate([okey[upd], new_u]),
                   np.concatenate([lnum[upd], np.ones(b, dtype=np.int64)]))
    _write(out_dir, "cdc_upserts", up)
    _write(out_dir, "cdc_deletes", pa.table({
        "l_orderkey": pa.array(okey[dele].astype(np.int64)),
        "l_linenumber": pa.array(lnum[dele].astype(np.int32))}))
    new_m = np.arange(n_ord + b, n_ord + 2 * b)
    ms = _dml_rows(rng, np.concatenate([okey[mrg], new_m]),
                   np.concatenate([lnum[mrg], np.ones(b, dtype=np.int64)]))
    _write(out_dir, "merge_src", ms)
    w = max(2, n_ord * p["band_pct"] // 100)
    d_lo, d_hi = _band(rng, n_ord, w)
    v_lo, v_hi = _band(rng, n_ord, 4 * w)
    u_lo, u_hi = _band(rng, n_ord, w)
    r_lo, r_hi = _band(rng, n_ord, 2 * w)
    return {
        "files": p["files"],
        "delete_where": f"l_orderkey BETWEEN {d_lo} AND {d_hi}",
        "dv_where": f"l_orderkey BETWEEN {v_lo} AND {v_hi} AND l_linenumber = 2",
        "update_where": f"l_orderkey BETWEEN {u_lo} AND {u_hi}",
        "update_set": {"l_quantity": "l_quantity + 1"},
        "band": [r_lo, r_hi],
    }


def lake_history(out_dir, seed, p):
    """Rows are made by the JVM from id ranges (see checks.history_rows);
    only the history's shape is passed on."""
    return {k: p[k] for k in ("commits", "files_per_commit", "rows_per_commit",
                              "appends_per_round", "tt_reads", "round_rows")}


GENERATORS = {"vdt_jobs": vdt_jobs, "row_dml": row_dml, "lake_history": lake_history}
