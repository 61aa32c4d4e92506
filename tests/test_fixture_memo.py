"""The bar fixtures' memo (fixtures.py): one cached frame per events
input, served without a Spark job while that input is unchanged and
rebuilt when it changes."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel

from finance_data_pipeline_spark import fixtures
from finance_data_pipeline_spark.profile import spark_counts
from finance_data_pipeline_spark.registry import QUERIES
from tests.conftest import SF_SMALL

FIXTURES = (fixtures.stocks, fixtures.bars_hourly)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _events_copy(directory, keep_every: int = 1) -> str:
    """``directory`` holding the sf0.001 events, every ``keep_every``-th
    user only."""
    directory.mkdir(exist_ok=True)
    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    t = t.filter(pa.array(t["user_id"].to_numpy() % keep_every == 0))
    pq.write_table(t, directory / "events.parquet")
    return str(directory)


def test_replaced_events_file_serves_new_bars(spark, tmp_path):
    sf = _events_copy(tmp_path / "sf")
    before = [_rows(f(spark, sf)) for f in FIXTURES]
    _events_copy(tmp_path / "sf", keep_every=2)
    after = [_rows(f(spark, sf)) for f in FIXTURES]
    fresh_sf = _events_copy(tmp_path / "fresh", keep_every=2)
    fresh = [_rows(f(spark, fresh_sf)) for f in FIXTURES]
    assert after == fresh
    assert all(a != b for a, b in zip(after, before))


def test_uncached_frame_is_rebuilt(spark, tmp_path):
    sf = _events_copy(tmp_path)
    old = fixtures.stocks(spark, sf)
    old.unpersist()
    new = fixtures.stocks(spark, sf)
    assert new is not old
    assert new.storageLevel != StorageLevel.NONE
    assert _rows(new) == _rows(old)


def test_hit_builds_with_zero_jobs(spark):
    for f in FIXTURES:
        f(spark, SF_SMALL)
    built, jobs, _ = spark_counts(
        spark,
        "memo-hit",
        lambda: [f(spark, SF_SMALL) for f in FIXTURES] + [QUERIES["sma"](spark, SF_SMALL)],
    )
    assert len(built) == 3
    assert jobs == 0


def test_concurrent_calls_leave_one_entry(spark, tmp_path):
    """More threads than cores, with frequent thread switches: every
    call returns the one memoized frame."""
    sf = _events_copy(tmp_path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            frames = list(pool.map(lambda _: fixtures.stocks(spark, sf), range(32), timeout=300))
            rows = list(pool.map(_rows, frames[:4], timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert all(f is frames[0] for f in frames)
    assert all(r == rows[0] for r in rows)
    entries = [k for k in fixtures._MEMO if k[0] == "stocks" and str(tmp_path) in k[1]]
    assert len(entries) == 1
