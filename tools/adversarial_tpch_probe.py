#!/usr/bin/env python
"""Adversarial degenerate-shape probe for every relational (TPC-H
table) oracle query.

Fourth probe family (bars: signed zero; docs: NULL vectors; events:
ties/malformed JSON). The driver warehouse is referentially clean and
tie-free; real warehouses are not. This probe synthesizes a
consistent-but-dirty star schema concentrating:

- FK orphans in every direction (orders→customer, lineitem→orders/
  part/supplier, customer/supplier→nation, nation→region) and their
  duals (customers with no orders, orders with no lineitems — header
  totals that reconcile against an EMPTY line sum)
- NULL keys and NULL measures (o_custkey, l_shipdate, c_acctbal,
  c_mktsegment, p_name) — NULL group keys, NULL join keys, NULL
  window-order keys (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST:
  any unguarded nullable ORDER BY diverges)
- exact value ties everywhere rank/ntile/top-k order (totalprice,
  acctbal, p_size, retailprice), a customer balance exactly EQUAL to
  a supplier balance (strict > boundaries), a part size exactly at
  the corpus average
- credit-memo shapes: negative and zero totalprice/quantity/
  extendedprice, discount 1.0 (revenue exactly 0), −1e-7 prices that
  round to −0.0 (the signed-zero class on money columns)
- skew: one customer holding 20% of orders, one order holding 200
  lineitems (the salted-join / skew-profile queries' target)
- boundary timestamps (year end / start) and ship-before-order rows

then replays the strict mini-driver compare for every oracle query
that touches the TPC-H tables and nothing else. Run after touching
relational/ingest/quality expressions:

    python tools/adversarial_tpch_probe.py                  # all
    python tools/adversarial_tpch_probe.py pricing_summary  # subset
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SEGMENTS = ["AUTOMOBILE", "MACHINERY", "FURNITURE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
FLAGS = [("N", "O"), ("N", "F"), ("A", "F"), ("R", "F"), ("R", "O"), ("A", "O")]
PTYPES = ["ECONOMY", "PROMO", "STANDARD"]
NAMES = ["widget", "bolt", "gear", "cog"]
SIZES = ["small", "large", "cold", "hot"]


def build_tables():
    import pandas as pd

    # --- region: 5 real + 1 empty (no nations point at it) ----------
    region = pd.DataFrame(
        {"r_regionkey": range(6), "r_name": [f"REGION_{i}" for i in range(6)]}
    )
    # --- nation: 25 normal, 1 region-orphan, 1 customer-less --------
    nation = pd.DataFrame(
        {
            "n_nationkey": range(27),
            "n_name": [f"NATION_{i}" for i in range(27)],
            "n_regionkey": [i % 5 for i in range(25)] + [9, 4],  # 25→orphan
        }
    )
    # --- supplier: ties + boundary-equal balance + nation orphan ----
    supplier = pd.DataFrame(
        {
            "s_suppkey": range(8),
            "s_name": [f"Supplier#{i:09d}" for i in range(8)],
            "s_nationkey": [0, 1, 2, 3, 4, 5, 99, 6],  # 6 → orphan nation
            "s_acctbal": [500.0, 500.0, -250.0, 0.0, 1234.56, 999.99, 10.0, 500.0],
        }
    )
    # --- customer ----------------------------------------------------
    rows = []
    for k in range(60):
        rows.append(
            {
                "c_custkey": k,
                "c_name": f"Customer#{k:09d}",
                "c_nationkey": k % 25,
                "c_acctbal": float(100 * (k % 7) - 50),  # heavy exact ties
                "c_mktsegment": SEGMENTS[k % 5],
            }
        )
    rows[11]["c_name"] = rows[10]["c_name"]  # duplicate names
    rows[40]["c_acctbal"] = 500.0  # exactly equals two supplier balances
    rows[41]["c_acctbal"] = -250.0  # equals the negative supplier
    rows[42]["c_acctbal"] = 0.0
    rows[43]["c_acctbal"] = None  # NULL balance
    rows[44]["c_nationkey"] = 99  # nation orphan
    rows[45]["c_mktsegment"] = None  # NULL group key
    customer = __import__("pandas").DataFrame(rows)

    # --- orders: custs 0..39 only (46..59 orderless); skew on cust 5
    o = []
    d0 = pd.Timestamp("1996-01-01")

    def order(key, cust, price, date, status=None, prio=None):
        o.append(
            {
                "o_orderkey": key,
                "o_custkey": cust,
                "o_orderstatus": status or STATUSES[key % 3],
                "o_totalprice": price,
                "o_orderdate": pd.Timestamp(date),
                "o_orderpriority": prio or PRIORITIES[key % 5],
            }
        )

    k = 0
    for i in range(200):
        cust = 5 if i % 5 == 0 else (i * 7) % 40  # cust 5 holds ~20%
        price = [10000.0, 10000.0, 250.75, 99999.99, 10000.0, 1320.51][i % 6]
        date = d0 + pd.Timedelta(days=(i * 11) % 700)
        order(k, cust, price, date)
        k += 1
    # boundary dates, ties on one date, degenerate prices
    order(k, 1, 0.0, "1999-12-31 23:59:59"); k += 1
    order(k, 1, -500.0, "2000-01-01 00:00:00"); k += 1          # credit memo
    order(k, 2, 0.01, "2000-01-01 00:00:00"); k += 1
    order(k, 2, -1e-7, "2000-06-15"); k += 1                    # −0.0 bait
    order(k, 3, 1e8, "2000-06-15"); k += 1                      # outlier
    for j in range(5):                                          # same-day ties
        order(k, 4, 7777.77, "1997-03-03"); k += 1
    # one customer whose orders are ALL status F, one with none F
    for j in range(4):
        order(k, 38, 5000.0 + j, d0 + pd.Timedelta(days=j), status="F"); k += 1
    for j in range(4):
        order(k, 39, 6000.0 + j, d0 + pd.Timedelta(days=j), status="O"); k += 1
    # NULL custkey and orphan custkey orders
    for j in range(3):
        order(k, None, 3333.33, "1998-05-05"); k += 1
    for j in range(2):
        order(k, 888, 4444.44, "1998-05-06"); k += 1
    # headerless-line dual: orders 200-rows above exist; now orders
    # with NO lineitems at all (keys 900..919)
    for j in range(20):
        order(900 + j, (j * 3) % 40, 1111.11, d0 + pd.Timedelta(days=j * 30))
    orders = pd.DataFrame(o)
    orders["o_custkey"] = orders["o_custkey"].astype("Int64")
    # match the real corpus's TIMESTAMP(us) physical type — a raw
    # object/ns column round-trips as int64 and breaks every date op
    orders["o_orderdate"] = pd.to_datetime(orders["o_orderdate"]).astype(
        "datetime64[us]"
    )

    # --- lineitem -----------------------------------------------------
    li = []

    def line(ok, ln, pk, sk, qty, price, disc, tax, rf, ls, ship):
        li.append(
            {
                "l_orderkey": ok,
                "l_partkey": pk,
                "l_suppkey": sk,
                "l_linenumber": ln,
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": disc,
                "l_tax": tax,
                "l_returnflag": rf,
                "l_linestatus": ls,
                "l_shipdate": None if ship is None else pd.Timestamp(ship),
            }
        )

    # hot order 0: 200 lines (skew), quantity/price ties throughout
    for ln in range(1, 201):
        rf, ls = FLAGS[ln % 6]
        line(
            0, ln, ln % 40, ln % 8,
            float(1 + ln % 50), [100.0, 100.0, 2500.5, 0.0][ln % 4],
            [0.0, 0.05, 0.1, 0.05][ln % 4], [0.0, 0.08][ln % 2],
            rf, ls, pd.Timestamp("1996-02-01") + pd.Timedelta(days=ln % 9),
        )
    # regular orders 1..199: 2-5 lines each
    for ok in range(1, 200):
        for ln in range(1, 2 + ok % 4):
            g = ok * 10 + ln
            rf, ls = FLAGS[g % 6]
            line(
                ok, ln, g % 40, g % 8,
                float(1 + g % 50), 100.0 + (g * 13) % 997 + (g % 4) * 0.25,
                [0.0, 0.05, 0.1][g % 3], [0.0, 0.08][g % 2],
                rf, ls,
                pd.Timestamp("1996-01-05") + pd.Timedelta(days=(g * 3) % 690),
            )
    # degenerate lines on the boundary orders
    line(200, 1, 0, 0, 0.0, 0.0, 0.0, 0.0, "N", "O", "1999-12-31")   # zero qty
    line(201, 1, 1, 1, -3.0, -500.0, 0.0, 0.0, "R", "F", "2000-01-02")  # return
    line(202, 1, 2, 2, 2.5, 0.01, 1.0, 0.0, "N", "O", "2000-01-02")  # disc 1.0
    line(203, 1, 3, 3, 1.0, -1e-7, 0.0, 0.0, "N", "O", "2000-06-16")  # −0.0 bait
    line(204, 1, 4, 4, 50.0, 1e8, 0.1, 0.08, "N", "O", "2000-06-16")  # outlier
    # NULL shipdate and ship-before-order rows
    line(205, 1, 5, 5, 10.0, 300.0, 0.0, 0.0, "N", "O", None)
    line(205, 2, 6, 6, 10.0, 300.0, 0.0, 0.0, "N", "O", "1995-01-02")
    # returns confined to ONE supplier for one part (sole returner)
    for ln in range(1, 4):
        line(206, ln, 39, 7, 5.0, 200.0, 0.0, 0.0, "R", "F", "1997-07-07")
    # FK orphans: nonexistent order / part / supplier
    line(7777, 1, 1, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", "1997-01-01")
    line(207, 1, 9999, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", "1997-01-01")
    line(208, 1, 1, 99, 1.0, 50.0, 0.0, 0.0, "N", "O", "1997-01-01")
    lineitem = pd.DataFrame(li)
    lineitem["l_shipdate"] = pd.to_datetime(lineitem["l_shipdate"]).astype(
        "datetime64[us]"
    )

    # --- part: name dups/NULL, size ties incl. exact-average ---------
    prow = []
    for pk in range(40):
        prow.append(
            {
                "p_partkey": pk,
                "p_name": f"{SIZES[pk % 4]} {NAMES[pk % 4]}",
                "p_brand": f"Brand#{pk % 7}",
                "p_type": PTYPES[pk % 3],
                "p_size": [10, 10, 20, 30][pk % 4],  # avg lands on a tie
                "p_retailprice": [99.99, 99.99, 0.0, 1500.0][pk % 4],
            }
        )
    prow[8]["p_name"] = prow[0]["p_name"]  # duplicate full name
    prow[9]["p_name"] = None               # NULL name
    prow[12]["p_size"] = 0
    # p_size values {10,10,20,30,0}-mix: set one part to the exact mean
    part = pd.DataFrame(prow)
    part.loc[13, "p_size"] = int(round(part["p_size"].mean()))
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "part": part,
    }


def main(wanted) -> int:
    from finance_data_pipeline_spark.registry import ORACLES
    from tools.mini_driver import run_probe

    tpch = ("orders", "lineitem", "customer", "supplier", "part", "nation", "region")
    names = sorted(
        n
        for n, sql in ORACLES.items()
        if any(t in sql for t in tpch)
        and not any(t in sql for t in ("events", "documents", "embeddings"))
        and (not wanted or n in wanted)
    )
    return run_probe(build_tables(), names, "adversarial TPC-H tables")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
