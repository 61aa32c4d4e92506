#!/usr/bin/env python
"""Standalone mini-driver: replay the driver's correctness check
(rows + schema + dtype-sensitive value compare, tools/parity_compare)
for a chosen set of queries at a chosen SF dir — the same semantics as
tests/test_oracle_parity.py but runnable on an arbitrary subset
without pytest parametrization overhead. ``run_checks`` is the one
check loop and ``run_probe`` the one staging step of the adversarial
data probes.

Usage:
  python tools/mini_driver.py --sf /root/testdata/sf0.01 [--window 50]
  python tools/mini_driver.py --sf /root/testdata/sf0.01 name1 name2 ...
  python tools/mini_driver.py --sf /root/testdata/sf0.01 --never-green

Prints one status line per query and a final summary; exit code 1 on
any failure.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Tables a probe does not replace come from the real corpus, so
# join-shaped queries still run.
REAL_SF = "/root/testdata/sf0.001"


def check_one(spark, con, name, sf_dir):
    from finance_data_pipeline_spark.registry import ORACLES, QUERIES
    from tools.parity_compare import mismatch

    t0 = time.time()
    errs = mismatch(
        QUERIES[name](spark, sf_dir).toPandas(), con.sql(ORACLES[name]).df()
    )
    return errs, time.time() - t0


def run_checks(sf_dir, names, label) -> int:
    """``check_one`` over ``names`` at ``sf_dir``: one status line per
    query (an exception counts as a failure), then a summary naming
    ``label``. Returns the exit code."""
    from finance_data_pipeline_spark.session import get_spark
    from tools.parity_compare import oracle_connection

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)
    n_fail = 0
    for i, name in enumerate(names):
        try:
            errs, dt = check_one(spark, con, name, sf_dir)
        except Exception as exc:  # noqa: BLE001
            errs, dt = [f"EXC {type(exc).__name__}: {exc}"], 0.0
        if errs:
            n_fail += 1
        print(f"[{i+1}/{len(names)}] {'ok' if not errs else 'FAIL':4s} {name} ({dt:.1f}s)"
              + (f" :: {'; '.join(errs)[:500]}" if errs else ""), flush=True)
    print(f"\nsummary: {len(names) - n_fail}/{len(names)} ok {label}")
    return 1 if n_fail else 0


def run_probe(tables, names, label) -> int:
    """``run_checks`` over ``names`` on a temp SF dir holding ``tables``
    (name → pandas DataFrame or pyarrow Table) and, for every other
    input table, the real sf0.001 file. The dir is removed after."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from finance_data_pipeline_spark.schemas import DRIVER_TABLES

    tmp = tempfile.mkdtemp(prefix="probe_sf_")
    try:
        for t, frame in tables.items():
            if not isinstance(frame, pa.Table):
                frame = pa.Table.from_pandas(frame, preserve_index=False)
            pq.write_table(frame, os.path.join(tmp, f"{t}.parquet"))
        for t in DRIVER_TABLES:
            if t not in tables:
                shutil.copy(os.path.join(REAL_SF, f"{t}.parquet"), tmp)
        print(f"{len(names)} queries on {label}:",
              {t: len(f) for t, f in tables.items()}, "->", tmp)
        return run_checks(tmp, names, f"on {label}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--window", type=int, default=None,
                    help="check the first N of the driver's rotated order")
    ap.add_argument("--never-green", action="store_true",
                    help="check every oracle-backed query without a green driver row")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from finance_data_pipeline_spark.registry import ORACLES

    ordered = list(entrymod._ordered(dict(ORACLES)))
    if args.names:
        names = args.names
    elif args.never_green:
        green = entrymod._driver_green()
        names = [n for n in ordered if n not in green]
    else:
        names = ordered[: (args.window or 50)]
    sys.exit(run_checks(args.sf, names, f"at {args.sf}"))


if __name__ == "__main__":
    main()
