#!/usr/bin/env python
"""Layout-invariance probe: every registered query re-run under a
hostile partition layout must produce IDENTICAL output.

Fifth probe axis. The four adversarial-data probes vary the DATA;
this one varies the EXECUTION LAYOUT, which at 100 TB is never the
same twice (different split sizes, different shuffle widths, AQE
re-planning). Every oracle-backed query's docstring contract is
"a pure function of its input" — that claim is only true if no
expression depends on partition count, scan split boundaries, or
aggregation accumulation order (the decimal/fixed-point-sum
discipline exists precisely to buy this). A query that agrees with
DuckDB at 32 shuffle partitions but drifts at 7 would pass the
driver today and red-flag on a real cluster tomorrow.

Baseline run: the session defaults (32 shuffle partitions, AQE on,
128 MB splits). Hostile run: 7 shuffle partitions, 64 KB
maxPartitionBytes (every parquet file shatters into many input
splits), AQE partition coalescing off. The two outputs are compared
with the strict signbit-sensitive comparator
(tools/parity_compare.mismatch).

    python tools/layout_invariance_probe.py            # all queries
    python tools/layout_invariance_probe.py q1 q2      # subset
    LAYOUT_SF_DIR=/root/testdata/sf0.01 python ...     # other SF
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("LAYOUT_SF_DIR", "/root/testdata/sf0.001")

HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def _run(spark, name, confs):
    """``name``'s output under ``confs``. Dropping Spark's cache first
    makes the memoized bar fixtures (fixtures.py) recompute under this
    layout instead of serving bars aggregated under the other one."""
    from finance_data_pipeline_spark.registry import QUERIES

    for k, v in confs.items():
        spark.conf.set(k, v)
    spark.catalog.clearCache()
    return QUERIES[name](spark, SF).toPandas()


def main() -> int:
    import time

    from finance_data_pipeline_spark.registry import QUERIES
    from finance_data_pipeline_spark.session import get_spark
    from tools.parity_compare import mismatch

    wanted = sys.argv[1:]
    names = sorted(n for n in QUERIES if not wanted or n in wanted)
    print(f"{len(names)} registered queries; baseline vs hostile layout at {SF}")

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    defaults = {k: spark.conf.get(k) for k in HOSTILE}

    n_fail = 0
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            errs = mismatch(_run(spark, name, defaults), _run(spark, name, HOSTILE))
        except Exception as exc:  # noqa: BLE001
            errs = [f"EXC {type(exc).__name__}: {str(exc)[:300]}"]
        finally:
            for k, v in defaults.items():
                spark.conf.set(k, v)
        if errs:
            n_fail += 1
        print(
            f"[{i+1}/{len(names)}] {'ok' if not errs else 'FAIL':4s} {name}"
            f" ({time.time() - t0:.1f}s)"
            + (f" :: {'; '.join(errs)[:400]}" if errs else ""),
            flush=True,
        )
    print(f"\nsummary: {len(names) - n_fail}/{len(names)} layout-invariant at {SF}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
