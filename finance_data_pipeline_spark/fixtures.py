"""Deterministic OHLCV fixtures derived from the driver's ``events`` table.

The reference's one persistent table is ``stocks(symbol, date, open,
high, low, close, adj_close, volume)`` (fetch_yfinance.py:24-25;
fetch_and_store_multi.py:218-228). FIXTURES.md §1 mandates deriving it
from ``events`` with no new randomness, so the DuckDB oracle can rebuild
the identical table inside each query:

* ``symbol``  = 'S' || user_id % 100
* ``date``    = date(ts)
* OHLC        = first/max/min/last of ``value`` within (symbol, date), by ts
* ``volume``  = count(*) × 1000

``ts`` is unique within every (symbol, date) group in the driver data
(verified at sf0.001/0.01/0.1), so first/last-by-ts is deterministic.
(On non-synthetic data, tie-break on a unique id as well.)

Because the driver data spans only ~30 days, daily bars cap at ~30 rows
per symbol — too short for MA50/MA200/Volatility_30d warm-ups. The
``bars_hourly`` fixture (10 symbols × ~720 hourly bars) exercises the
deep windows with the same derivation pattern.

Scale note: one shuffle (groupBy symbol,date) with map-side partial
aggregation via min_by/max_by/min/max/count — no windows, no collect.

Memo (the dashboard's ``@st.cache_data``, dashboard.py:24-30): each
fixture is built once per (fixture, Spark application, resolved events
path, session time zone) and ``cache()``d; later calls return that same
frame, so they run no schema-inference job and their queries read the
bars instead of scanning and re-aggregating ``events``. The cached
relation is bounded by the fixture's grain (symbols × days or hours),
not by the events volume. ``cache()`` is lazy: building stays job-free,
and the first query that runs fills the cache. Every call first reads
the events input's identity — path, length and modification time of
each file, through the Hadoop ``FileSystem`` so ``s3a://`` works — and
rebuilds the frame, unpersisting the stale one, when that identity has
changed or the frame is no longer cached (``spark.catalog.clearCache()``
or an ``unpersist()`` by a caller). A replaced events file therefore
never serves old bars.
"""

from __future__ import annotations

import functools
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_data_pipeline_spark.io import table

# (fixture, events path, time zone) -> (application id, identity, frame).
# The time zone is in the key because to_date/date_trunc bucket ts by it;
# an entry of an earlier (stopped) Spark application is replaced, never
# served. Guarded by _LOCK: callers build queries from thread pools.
_MEMO: dict[tuple, tuple] = {}
_LOCK = threading.Lock()


def _events_identity(spark: SparkSession, sf_dir: str) -> tuple[str, tuple]:
    """(qualified events path, sorted (file, length, mtime) of its files)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/events.parquet")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    files, found = fs.listFiles(path, True), []
    while files.hasNext():
        st = files.next()
        found.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return fs.makeQualified(path).toString(), tuple(sorted(found))


def _memoized(build):
    """Serve ``build(spark, sf_dir)`` from the memo described above."""

    @functools.wraps(build)
    def fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
        with _LOCK:
            path, identity = _events_identity(spark, sf_dir)
            key = (build.__name__, path, spark.conf.get("spark.sql.session.timeZone"))
            app = spark.sparkContext.applicationId
            hit = _MEMO.get(key)
            if hit is not None and hit[0] == app:
                _, known, df = hit
                if known == identity and df.storageLevel != StorageLevel.NONE:
                    return df
                df.unpersist()
            df = build(spark, sf_dir).cache()
            _MEMO[key] = (app, identity, df)
            return df

    return fixture


@_memoized
def stocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV bars: ~100 symbols × ~30 trading dates."""
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            F.concat(F.lit("S"), (F.col("user_id") % 100).cast("string")).alias("symbol"),
            F.to_date("ts").alias("date"),
            "ts",
            "value",
        )
        .groupBy("symbol", "date")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            (F.count("*") * 1000).alias("volume"),
        )
    )


@_memoized
def bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly bars: 10 symbols × ~720 bars — deep-window fixture.

    ``bar_ts`` (timestamp) plays the role of ``date``; window semantics
    are identical, only the grain differs.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            F.concat(F.lit("H"), (F.col("user_id") % 10).cast("string")).alias("symbol"),
            F.date_trunc("hour", F.col("ts")).alias("bar_ts"),
            "ts",
            "value",
        )
        .groupBy("symbol", "bar_ts")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            (F.count("*") * 1000).alias("volume"),
        )
    )


# --- SQL twins (DuckDB oracle CTEs; ANSI-compatible) -------------------

STOCKS_CTE = """
stocks AS (
    SELECT 'S' || CAST(user_id % 100 AS VARCHAR) AS symbol,
           CAST(ts AS DATE)                      AS date,
           arg_min(value, ts)                    AS open,
           max(value)                            AS high,
           min(value)                            AS low,
           arg_max(value, ts)                    AS close,
           count(*) * 1000                       AS volume
    FROM events
    GROUP BY 1, 2
)
""".strip()

BARS_HOURLY_CTE = """
bars AS (
    SELECT 'H' || CAST(user_id % 10 AS VARCHAR)  AS symbol,
           date_trunc('hour', ts)                AS bar_ts,
           arg_min(value, ts)                    AS open,
           max(value)                            AS high,
           min(value)                            AS low,
           arg_max(value, ts)                    AS close,
           count(*) * 1000                       AS volume
    FROM events
    GROUP BY 1, 2
)
""".strip()

