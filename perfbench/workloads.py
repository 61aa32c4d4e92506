"""The benchmark's workloads.

Each is a closed loop with one client: the next operation starts only
when the previous one has returned. A round runs every operation of the
workload once, so every round does the same work; the timed region
repeats whole rounds.

* ``market_analytics``: the reference's dashboard surface over a live
  store. Each round the ingest job commits the next chronological batch
  (fetch, merge, snapshot commit, read-back), then the analyst's chart
  queries from the registry run in a seeded order, each built and sunk
  to ``noop``, on a warm driver. Bound by per-query fixed overhead
  (construction, schema-inference jobs, scheduling), not by data; the
  ingest cycle puts writes beside the reads.
* ``corpus_curation``: the LLM-data-curation extension as a batch job,
  stages in pipeline order, each writing its output, in a fresh driver.
  Bound by CPU, by code generation and by the eager jobs the iterative
  stages run while being built.

Every run checks outputs outside the timed region: registry results
against their DuckDB oracles, the ingest stores against a one-shot
recompute of the same batches. A wrong result fails every execution of
that operation in the run.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from check import mismatch, oracle_connection

MARKET_QUERIES = (
    "stocks_fixture",
    "sma",
    "rsi_14",
    "bollinger",
    "ma_warmup",
    "perf_summary",
    "dashboard_frame",
    "latest_close_per_symbol",
    "vwap_daily",
    "volatility_30",
    "ema_macd",
    "pairwise_correlation",
    "max_drawdown",
    "continuity_check",
)

# Corpus stages, in pipeline order, and the extension module of each.
# One stage per module keeps a cold pass near 30 s: near_dup_pairs alone
# took 16 s cold (code generation for its 126-column MinHash aggregate),
# and kmeans_clusters trains with the same Lloyd kernel as ann_topk_pq.
CORPUS_STAGES = {
    "bloom_decontaminate": "extensions.dedup",
    "bm25_topk": "extensions.text",
    "ann_topk_pq": "extensions.similarity",
    "supplier_customer_pagerank": "extensions.graph",
}

# The registry's dashboard query is written for one symbol and window;
# the workload substitutes the seed's choice into both sides.
_DASHBOARD = ("H3", "2024-01-05 00:00:00", "2024-01-25 00:00:00")

INGEST_DAYS = 30
INGEST_BATCH_DAYS = 3
INGEST_HISTORY = 2  # batches committed before the first round
N_SYMBOLS = 100


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _threads() -> int:
    return len(os.sched_getaffinity(0))


class Workload:
    """Shared loop and bookkeeping; subclasses supply the operations."""

    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, spark, tracer, tally, rng, data_dir, work_dir):
        self.spark = spark
        self.tracer = tracer
        self.tally = tally
        self.rng = rng
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.op_latency: list[float] = []
        self.round_wall: list[float] = []

    def prepare(self) -> None:
        """Untimed set-up after the session starts."""

    def round(self, rnd: int) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Untimed output checks after the timed rounds."""

    def rounds_left(self) -> int | None:
        """How many more rounds the inputs allow; None for no limit."""
        return None

    def run_round(self, rnd: int) -> None:
        with self.tracer.span("round", round=rnd) as s:
            self.round(rnd)
        self.round_wall.append(s["dur"])

    def _op(self, kind: str, steps, rnd) -> None:
        """Run one operation as (span name, callable) steps, each step's
        result fed to the next. In round ``rnd`` it is timed and counted,
        and a step that raises fails the operation; with ``rnd`` None it
        is untimed set-up, and a step that raises fails the run."""
        value = None
        if rnd is None:
            for _, fn in steps:
                value = fn(value)
            return
        total = 0.0
        try:
            for span_name, fn in steps:
                with self.tracer.span(span_name, spark_jobs=True, round=rnd) as s:
                    value = fn(value)
                total += s["dur"]
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
            print(f"operation {kind} failed: {exc!r}", flush=True)
            self.tally.ran(kind, ok=False)
            return
        self.tally.ran(kind, ok=True)
        self.op_latency.append(total)

    def _check_each(self, kinds, got, want) -> None:
        """Compare ``got(kind)`` with ``want(kind)`` for every kind; the
        Spark side runs one thread per core while the oracles run here."""
        with ThreadPoolExecutor(_threads()) as pool:
            futures = {k: pool.submit(got, k) for k in kinds}
            for k in kinds:
                self._verdict(k, futures[k].result, lambda: want(k))

    def _verdict(self, kind: str, got, want) -> None:
        """A difference between ``got()`` and ``want()``, or a check that
        cannot run, marks ``kind`` wrong."""
        try:
            diff = mismatch(got(), want())
        except Exception as exc:  # noqa: BLE001 - an unrunnable check is a failed check
            diff = repr(exc)
        if diff is not None:
            print(f"wrong result from {kind}: {diff}", flush=True)
            self.tally.wrong(kind)


class IngestJob:
    """The incremental ingest loop of the reference's fetch-and-store job:
    each cycle fetches one chronological batch (a seeded subset of the
    symbols over a few days), merges it into two snapshot stores (the
    OHLCV table and the daily event-state aggregate) and reads the stock
    store back for a dashboard."""

    def __init__(self, workload: Workload):
        self.w = workload
        rng = workload.rng
        self.batches = []
        for first in range(1, INGEST_DAYS + 1, INGEST_BATCH_DAYS):
            last = min(first + INGEST_BATCH_DAYS - 1, INGEST_DAYS)
            n = int(rng.integers(N_SYMBOLS * 6 // 10, N_SYMBOLS + 1))
            ids = sorted(int(i) for i in rng.choice(N_SYMBOLS, n, replace=False))
            self.batches.append((ids, f"2024-01-{first:02d}", f"2024-01-{last:02d}"))
        self.read_back = (f"S{int(rng.integers(0, N_SYMBOLS))}", "2024-01-01", "2024-01-30")
        self.stocks = os.path.join(workload.work_dir, "store", "stocks")
        self.state = os.path.join(workload.work_dir, "store", "state")
        self.done = 0
        self.space_amp: list[float] = []
        self.written: list[tuple[int, int]] = []

    def _fetch(self, ids, start, end):
        from finance_data_pipeline_spark.sources.adapters import ParquetFixtureAdapter

        symbols = [f"S{i}" for i in ids]
        return ParquetFixtureAdapter(self.w.data_dir).fetch(self.w.spark, symbols, start, end)

    def _events(self, ids, start, end):
        from pyspark.sql import functions as F

        from finance_data_pipeline_spark import io

        return io.table(self.w.spark, self.w.data_dir, "events").filter(
            (F.col("user_id") % N_SYMBOLS).isin(ids) & F.to_date("ts").between(start, end)
        )

    def _empty_state(self):
        return self.w.spark.createDataFrame(
            [], "day timestamp, event_type string, n_events long, total_value decimal(18,2)"
        )

    def left(self) -> int:
        return len(self.batches) - self.done

    def cycle(self, rnd) -> None:
        """Ingest the next batch as one operation of round ``rnd``."""
        from finance_data_pipeline_spark import ingest, io, summary

        spark, (ids, start, end) = self.w.spark, self.batches[self.done]
        first = self.done == 0
        steps = [
            ("sources.fetch", lambda _: self._fetch(ids, start, end)),
            ("io.read", lambda raw: (raw, None if first else io.read_snapshot(spark, self.stocks))),
            ("ingest.build", lambda p: ingest.ingest_batch(*p)),
            ("io.write", lambda merged: io.write_snapshot(merged, self.stocks)),
            ("io.read", lambda _: self._empty_state() if first else io.read_snapshot(spark, self.state)),
            ("ingest.build", lambda prev: ingest.merge_daily_state(prev, self._events(ids, start, end))),
            ("io.write", lambda merged: io.write_snapshot(merged, self.state)),
            (
                "summary.read_back",
                lambda _: _noop(
                    summary.dashboard_frame(io.read_snapshot(spark, self.stocks), *self.read_back, (5, 20))
                ),
            ),
        ]
        self.w._op("ingest_cycle", steps, rnd)
        self.done += 1
        if rnd is not None:
            self.written += [_newest_version(self.stocks), _newest_version(self.state)]
            newest = _newest_version(self.stocks)[1] + _newest_version(self.state)[1]
            self.space_amp.append((_tree_bytes(self.stocks) + _tree_bytes(self.state)) / newest)

    def check(self) -> None:
        """Both stores against a one-shot recompute of every batch so far."""
        from finance_data_pipeline_spark import ingest, io

        batches = self.batches[: self.done]
        raw = reduce(lambda a, b: a.unionByName(b), (self._fetch(*b) for b in batches))
        events = reduce(lambda a, b: a.unionByName(b), (self._events(*b) for b in batches))
        one_shot = {
            self.stocks: lambda: ingest.ingest_batch(raw, None),
            self.state: lambda: ingest.merge_daily_state(self._empty_state(), events),
        }
        for store, recompute in one_shot.items():
            self.w._verdict(
                "ingest_cycle",
                lambda: io.read_snapshot(self.w.spark, store).toPandas(),
                lambda: recompute().toPandas(),
            )


class MarketAnalytics(Workload):
    """The analyst's dashboard over a live store. Each round the ingest
    job commits the next batch, then the chart queries run in a seeded
    order, each built and sunk to ``noop``."""

    name = "market_analytics"
    tables = ("events",)

    def __init__(self, *args):
        super().__init__(*args)
        start_day = int(self.rng.integers(2, 13))
        length = int(self.rng.integers(10, 19))
        self.dashboard = (
            f"H{int(self.rng.integers(0, 10))}",
            f"2024-01-{start_day:02d} 00:00:00",
            f"2024-01-{start_day + length:02d} 00:00:00",
        )
        self.ingest = IngestJob(self)

    def _build(self, name: str):
        from pyspark.sql import functions as F

        from finance_data_pipeline_spark import fixtures, summary
        from finance_data_pipeline_spark.registry import QUERIES

        if name != "dashboard_frame":
            return QUERIES[name](self.spark, self.data_dir)
        symbol, start, end = self.dashboard
        bars = fixtures.bars_hourly(self.spark, self.data_dir)
        out = summary.dashboard_frame(bars, symbol, start, end, (50, 200), "bar_ts")
        return out.select(
            "symbol",
            "bar_ts",
            "close",
            F.round("ma_50", 6).alias("ma_50"),
            F.round("ma_200", 6).alias("ma_200"),
        )

    def _oracle(self, name: str) -> str:
        from finance_data_pipeline_spark.registry import ORACLES

        sql = ORACLES[name]
        if name == "dashboard_frame":
            for old, new in zip(_DASHBOARD, self.dashboard):
                if sql.count(old) != 1:
                    raise ValueError(f"dashboard oracle no longer names {old!r} once")
                sql = sql.replace(old, new)
        return sql

    def prepare(self):
        """Check every query against its oracle, which also compiles each
        query's generated code, as a long-lived analyst session has.
        Meanwhile ingest the history before the first round, which takes
        both ingest code paths (empty and existing store)."""
        con = oracle_connection(self.data_dir, self.tables)
        with ThreadPoolExecutor(1) as pool:
            history = pool.submit(lambda: [self.ingest.cycle(None) for _ in range(INGEST_HISTORY)])
            self._check_each(
                MARKET_QUERIES,
                lambda name: self._build(name).toPandas(),
                lambda name: con.sql(self._oracle(name)).df(),
            )
            history.result()

    def rounds_left(self) -> int:
        return self.ingest.left()

    def round(self, rnd):
        self.ingest.cycle(rnd)
        for i in self.rng.permutation(len(MARKET_QUERIES)):
            name = MARKET_QUERIES[i]
            steps = [
                (f"market.{name}.build", lambda _: self._build(name)),
                (f"market.{name}.exec", _noop),
            ]
            self._op(name, steps, rnd)

    def check(self):
        self.ingest.check()


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def _newest_version(store: str) -> tuple[int, int]:
    """(data files, bytes) of the newest ``v=N`` directory of a store."""
    with open(os.path.join(store, "manifest.json")) as fh:
        version = json.load(fh)["version"]
    vdir = os.path.join(store, f"v={version}")
    files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    return len(files), _tree_bytes(vdir)


class CorpusCuration(Workload):
    """One round is one pass of the curation job, stages in pipeline
    order, each writing its output. Nothing is warmed first: a batch job
    starts in a fresh driver, so each pass pays code generation and JIT
    warm-up, its first stage most of it."""

    name = "corpus_curation"
    tables = ("documents", "embeddings", "orders", "lineitem")

    def round(self, rnd):
        from finance_data_pipeline_spark.registry import QUERIES

        out = os.path.join(self.work_dir, "out")
        for name, module in CORPUS_STAGES.items():
            steps = [
                (f"{module}.{name}.build", lambda _: QUERIES[name](self.spark, self.data_dir)),
                (f"{module}.{name}.exec", lambda df: df.write.mode("overwrite").parquet(os.path.join(out, name))),
            ]
            self._op(name, steps, rnd)

    def check(self):
        from finance_data_pipeline_spark.registry import ORACLES

        con = oracle_connection(self.data_dir, self.tables)
        self._check_each(
            CORPUS_STAGES,
            lambda name: self.spark.read.parquet(os.path.join(self.work_dir, "out", name)).toPandas(),
            lambda name: con.sql(ORACLES[name]).df(),
        )


WORKLOADS = {w.name: w for w in (MarketAnalytics, CorpusCuration)}
