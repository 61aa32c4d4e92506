"""Structured Streaming tests (SURVEY.md §2.10, M5): the streaming
restatement must produce exactly the batch results on the same data
(stream/batch equivalence), dedup within the watermark, and the
foreachBatch upsert sink must converge to the batch merge.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest
from pyspark.errors import AnalysisException, StreamingQueryException
from pyspark.sql import functions as F

from finance_data_pipeline_spark import fixtures
from finance_data_pipeline_spark.io import table
from finance_data_pipeline_spark.streaming import (
    await_drained,
    daily_event_aggregate,
    dedup_in_stream,
    drain_to_memory,
    scratch_dir,
    stage_batches,
    stream_events,
    stream_ingest_stocks,
    streaming_daily_aggregate,
)
from finance_data_pipeline_spark.streaming import pipeline as sp

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stream_batch_equivalence_daily_aggregate(spark, tmp_path):
    """The streaming tumbling-day aggregate over all files ≡ the batch
    aggregate on the same parquet (complete mode: every window emitted)."""
    src = str(tmp_path / "src")  # file stream source must be a directory
    # Stage via io.table: converts the driver's TIMESTAMP(NANOS) ts to µs
    # so the staged parquet matches the stream's `ts timestamp` schema.
    table(spark, SF_DIR, "events").write.parquet(src)
    stream = stream_events(spark, src)
    assert stream.isStreaming
    got = (
        drain_to_memory(streaming_daily_aggregate(stream), "complete")
        .orderBy("day", "event_type")
        .collect()
    )

    batch = spark.read.parquet(src)
    want = daily_event_aggregate(batch).orderBy("day", "event_type").collect()
    assert got == want
    assert len(got) > 0


def test_stream_dedup_drops_duplicate_event_ids(spark, tmp_path, request):
    """dedup_in_stream keeps exactly one row per event_id across
    micro-batches (the reference's refetch-overlap tolerance)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = table(spark, SF_DIR, "events").limit(500).cache()
    request.addfinalizer(events.unpersist)
    # Batch 1: the events; batch 2 arrives later with full overlap.
    events.write.mode("overwrite").parquet(src)

    def run_once():
        # File sink (not memory): supports checkpoint recovery, so the
        # second run resumes dedup state across "restarts".
        q = (
            dedup_in_stream(stream_events(spark, src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    assert spark.read.parquet(out).count() == 500

    events.write.mode("append").parquet(src)  # duplicate files arrive
    run_once()
    n2 = spark.read.parquet(out).count()
    assert n2 == 500, "duplicate event_ids must be dropped across micro-batches"


def test_stateful_continuity_detects_gap_across_restart(spark, tmp_path):
    """applyInPandasWithState: last_close lives in the checkpointed state
    store, so a 10× price jump arriving in a later run (restart) is
    flagged against state, not against a rescan of the store."""
    from finance_data_pipeline_spark.streaming import stateful_continuity

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema_ddl = "symbol string, date date, open double, high double, low double, close double, volume bigint"

    def bars(day, base):
        return spark.createDataFrame(
            [("S1", f"2024-01-{day:02d}", base, base * 1.01, base * 0.99, base * 1.005, 1000)],
            "symbol string, date string, open double, high double, low double, close double, volume long",
        ).withColumn("date", F.col("date").cast("date"))

    def run_once():
        sdf = spark.readStream.schema(schema_ddl).parquet(src)
        q = (
            stateful_continuity(sdf)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    bars(1, 100.0).write.mode("overwrite").parquet(src)
    run_once()
    first = spark.read.parquet(out).collect()
    assert len(first) == 1
    assert first[0]["prev_close"] is None and not first[0]["discontinuous"]

    bars(2, 1000.0).write.mode("append").parquet(src)  # 10x jump vs state
    run_once()
    rows = {r["first_open"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 2
    jump = rows[1000.0]
    assert jump["prev_close"] == pytest.approx(100.5)
    assert jump["discontinuous"] is True


def test_foreachbatch_upsert_converges_to_batch_merge(spark, tmp_path):
    """stream_ingest_stocks merges micro-batches into the partitioned
    store; the final store ≡ dedup-by-key over everything ingested."""
    stocks = fixtures.stocks(spark, SF_DIR)
    cutoff = F.lit("2024-01-20").cast("date")
    b1 = stocks.filter(F.col("date") <= cutoff)
    b2 = stocks.filter(F.col("date") >= F.lit("2024-01-15").cast("date")).withColumn(
        "close", F.col("close") * 2
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in stocks.schema.fields)

    b1.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema_ddl).parquet(src)
    stream_ingest_stocks(sdf, store, ckpt).awaitTermination(300)
    assert spark.read.parquet(store).count() == b1.count()

    b2.write.mode("append").parquet(src)
    sdf = spark.readStream.schema(schema_ddl).parquet(src)
    stream_ingest_stocks(sdf, store, ckpt).awaitTermination(300)

    got = spark.read.parquet(store)
    # Key-unique, and overlapping keys carry batch-2 closes (new wins).
    assert got.groupBy("symbol", "date").count().filter("count > 1").count() == 0
    assert got.count() == b1.select("symbol", "date").union(b2.select("symbol", "date")).distinct().count()
    overlap = got.join(b2.select("symbol", "date", F.col("close").alias("c2")), ["symbol", "date"])
    assert overlap.filter(F.col("close") != F.col("c2")).count() == 0


def test_foreachbatch_upsert_is_partition_scoped(spark, tmp_path):
    """A micro-batch touching one symbol must not rewrite other symbols'
    partitions — the 100 TB contract: rewrite cost is bounded by the
    batch's symbols, not the store size."""
    import os

    stocks = fixtures.stocks(spark, SF_DIR)
    symbols = [r["symbol"] for r in stocks.select("symbol").distinct().limit(2).collect()]
    s_keep, s_touch = sorted(symbols)

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in stocks.schema.fields)

    both = stocks.filter(F.col("symbol").isin(s_keep, s_touch))
    both.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema_ddl).parquet(src)
    stream_ingest_stocks(sdf, store, ckpt).awaitTermination(300)

    def part_files(sym):
        """File list + mtime + content digest: untouched partitions must
        survive a later batch byte-identical, not just same-named."""
        import hashlib

        d = os.path.join(store, f"symbol={sym}")
        out = {}
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    digest = hashlib.md5(fh.read()).hexdigest()
                out[f] = (os.path.getmtime(p), digest)
        return out

    keep_before = part_files(s_keep)
    assert keep_before, "store must be partitioned by symbol"

    # Batch 2 touches only s_touch.
    stocks.filter(F.col("symbol") == s_touch).withColumn("close", F.col("close") * 2).write.mode(
        "append"
    ).parquet(src)
    sdf = spark.readStream.schema(schema_ddl).parquet(src)
    stream_ingest_stocks(sdf, store, ckpt).awaitTermination(300)

    assert part_files(s_keep) == keep_before, (
        "untouched symbol partition was rewritten — merge is not partition-scoped"
    )
    # The touched symbol carries the new closes and stays key-unique.
    touched = spark.read.parquet(store).filter(F.col("symbol") == s_touch)
    assert touched.groupBy("symbol", "date").count().filter("count > 1").count() == 0
    want = stocks.filter(F.col("symbol") == s_touch).withColumn("c2", F.col("close") * 2)
    joined = touched.join(want.select("symbol", "date", "c2"), ["symbol", "date"])
    assert joined.filter(F.col("close") != F.col("c2")).count() == 0


def test_neardup_gate_admits_novel_blocks_dups_and_indexes_admissions(spark, tmp_path):
    """Batch 1: one dup of the seed store (blocked) + one novel doc
    (admitted). Batch 2: a dup of BATCH 1's admission (blocked — proves
    admissions are indexed) + one novel doc (admitted). The sig index
    grows by exactly the admitted docs."""
    from finance_data_pipeline_spark.extensions import dedup as dd
    from finance_data_pipeline_spark.streaming import neardup_gate

    mk = lambda i, t: (i, t)
    seed_text = "alpha beta gamma delta epsilon zeta eta theta"
    novel1 = "one two three four five six seven eight nine"
    novel2 = "red orange yellow green blue indigo violet again"
    seed = spark.createDataFrame([mk(0, seed_text)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [mk(11, seed_text + " iota"), mk(12, novel1)], "doc_id long, text string"
    )
    # 0 re-delivers the seed doc verbatim: the id-idempotency anti-join
    # must drop it before verification (a same-id collision would merge
    # both copies' shingles and dilute Jaccard to 1/3).
    b2 = spark.createDataFrame(
        [mk(21, novel1 + " ten"), mk(22, novel2), mk(0, seed_text)],
        "doc_id long, text string",
    )

    store = str(tmp_path / "store")
    seed.write.parquet(f"{store}/docs/batch=seed")
    dd.minhash_signatures(seed).write.parquet(f"{store}/sigs/batch=seed")

    sdf = stage_batches(spark, [b1, b2], "src_")
    await_drained(neardup_gate(sdf, store, str(tmp_path / "ckpt")))

    rows = spark.read.parquet(f"{store}/docs").collect()
    got = {r.doc_id for r in rows}
    assert got == {0, 12, 22}, got
    assert len(rows) == 3  # the re-delivered seed doc was not re-admitted
    indexed = {r._id for r in spark.read.parquet(f"{store}/sigs").collect()}
    assert indexed == {0, 12, 22}


def test_neardup_gate_survives_checkpoint_restart(spark, tmp_path):
    """Crash-resume: the gate is stopped after batch 1 and RESTARTED as
    a new query on the same checkpoint + store. The restarted run must
    (a) not re-process batch 1 (the checkpoint's committed offsets
    hold), and (b) still block batch 2's duplicate of batch 1's
    admission — i.e. the persisted signature index, not query-lifetime
    state, is what later batches dedup against. Final store state must
    equal the single-run test's exactly."""
    from finance_data_pipeline_spark.extensions import dedup as dd
    from finance_data_pipeline_spark.streaming import neardup_gate

    seed_text = "alpha beta gamma delta epsilon zeta eta theta"
    novel1 = "one two three four five six seven eight nine"
    novel2 = "red orange yellow green blue indigo violet again"
    seed = spark.createDataFrame([(0, seed_text)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(11, seed_text + " iota"), (12, novel1)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(21, novel1 + " ten"), (22, novel2)], "doc_id long, text string"
    )

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    seed.write.parquet(f"{store}/docs/batch=seed")
    dd.minhash_signatures(seed).write.parquet(f"{store}/sigs/batch=seed")

    src = str(tmp_path / "src")
    schema = b1.schema

    # Run 1: only batch 1 exists; availableNow drains it and stops.
    b1.coalesce(1).write.parquet(src)
    neardup_gate(
        spark.readStream.schema(schema).parquet(src), store, ckpt
    ).awaitTermination(300)
    after_run1 = {
        r.doc_id for r in spark.read.parquet(f"{store}/docs").collect()
    }
    assert after_run1 == {0, 12}, after_run1

    # Simulated restart: a NEW query object, same checkpoint/store,
    # with batch 2's files appended to the source.
    b2.coalesce(1).write.mode("append").parquet(src)
    neardup_gate(
        spark.readStream.schema(schema).parquet(src), store, ckpt
    ).awaitTermination(300)

    rows = spark.read.parquet(f"{store}/docs").collect()
    got = {r.doc_id for r in rows}
    # 21 (dup of run-1's admission 12) blocked by the PERSISTED index;
    # 11/12 not duplicated by the restart (offsets committed).
    assert got == {0, 12, 22}, got
    assert len(rows) == 3
    indexed = {r._id for r in spark.read.parquet(f"{store}/sigs").collect()}
    assert indexed == {0, 12, 22}


def test_stateful_continuity_under_rocksdb_state_store(spark):
    """The custom stateful operator must run unchanged on the RocksDB
    state-store provider — the disk-backed backend a 100 TB streaming
    state actually uses (HDFS-backed in-memory maps don't survive
    billions of keys). Same two-batch staging as the HDFS-backed
    test path; assert identical results."""
    from finance_data_pipeline_spark.streaming import stateful_running_totals

    b1 = spark.createDataFrame(
        [("click", "2024-01-01 00:00:00", 1.5), ("view", "2024-01-01 01:00:00", 2.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [("click", "2024-01-02 00:00:00", 3.5)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sdf = stage_batches(spark, [b1, b2], "src_")

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = {
            (r.event_type, r.cum_rows): r.cum_value_micros
            for r in drain_to_memory(stateful_running_totals(sdf), "append").collect()
        }
        assert rows == {
            ("click", 1): 1_500_000,
            ("view", 1): 2_000_000,
            ("click", 2): 5_000_000,
        }
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_tws_running_totals_matches_legacy_api_when_protobuf_present(spark):
    """transformWithStateInPandas twin of stateful_running_totals —
    runnable only where google.protobuf exists (the TWS driver worker's
    state-server protocol); skipped in containers without it."""
    pytest.importorskip("google.protobuf")
    from finance_data_pipeline_spark.streaming.pipeline import tws_running_totals

    b1 = spark.createDataFrame(
        [("click", "2024-01-01 00:00:00", 1.5)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [("click", "2024-01-02 00:00:00", 3.5)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sdf = stage_batches(spark, [b1, b2], "src_")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = {
            (r.event_type, r.cum_rows): r.cum_value_micros
            for r in drain_to_memory(tws_running_totals(sdf), "append").collect()
        }
        assert rows == {("click", 1): 1_500_000, ("click", 2): 5_000_000}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def _one_bar(spark):
    return spark.createDataFrame(
        [("X", "2024-01-02", 1.0, 1.0, 1.0, 1.0, 100)],
        "symbol string, date string, open double, high double, low double, "
        "close double, volume long",
    ).withColumn("date", F.col("date").cast("date"))


def test_foreachbatch_upsert_fails_on_unreadable_store_and_keeps_it(spark, tmp_path):
    """Only a missing or empty store reads as empty. A store the sink
    cannot read must fail the batch: read as empty, the batch would
    dynamically overwrite the symbol=X partition and lose its file."""
    corrupt = tmp_path / "store" / "symbol=X" / "part-00000.parquet"
    corrupt.parent.mkdir(parents=True)
    corrupt.write_bytes(b"not a parquet file")
    sdf = stage_batches(spark, [_one_bar(spark)], "src_")
    with pytest.raises(StreamingQueryException):
        await_drained(
            stream_ingest_stocks(sdf, str(tmp_path / "store"), str(tmp_path / "ckpt"))
        )
    assert corrupt.read_bytes() == b"not a parquet file"


def test_foreachbatch_upsert_reads_empty_store_dir_as_empty(spark, tmp_path):
    store = tmp_path / "store"
    store.mkdir()
    with pytest.raises(AnalysisException) as err:
        spark.read.parquet(str(store))
    assert err.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"
    sdf = stage_batches(spark, [_one_bar(spark)], "src_")
    await_drained(stream_ingest_stocks(sdf, str(store), str(tmp_path / "ckpt")))
    assert spark.read.parquet(str(store)).count() == 1


def test_await_drained_stops_and_raises_when_stream_outlives_timeout(
    spark, monkeypatch
):
    """A stream still running at the drain bound is stopped and raises
    instead of handing back a partial result."""
    monkeypatch.setattr(sp, "DRAIN_TIMEOUT_S", 1)
    q = (
        stage_batches(spark, [spark.range(1)], "src_")
        .writeStream.foreachBatch(lambda batch, batch_id: time.sleep(3))
        .option("checkpointLocation", scratch_dir("ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(TimeoutError):
        await_drained(q)
    assert not q.isActive
    assert spark.streams.active == []


def test_drain_to_memory_removes_its_checkpoint(spark):
    sdf = stage_batches(spark, [spark.range(3)], "src_")
    before = set(os.listdir(sp._scratch_root()))
    out = drain_to_memory(sdf, "append")
    assert sorted(r.id for r in out.collect()) == [0, 1, 2]
    assert set(os.listdir(sp._scratch_root())) == before


def test_scratch_root_is_created_lazily_and_removed_at_exit(tmp_path):
    """Importing the registry makes no scratch root; the first
    scratch_dir does, and the interpreter removes it on exit."""
    code = (
        "import os, tempfile\n"
        "import finance_data_pipeline_spark.registry\n"
        "from finance_data_pipeline_spark.streaming import scratch_dir\n"
        "assert os.listdir(tempfile.gettempdir()) == []\n"
        "print(os.path.dirname(scratch_dir('x_')))\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True, timeout=120,
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path), out.stdout
    assert os.path.basename(root).startswith("fdps_")
    assert os.listdir(tmp_path) == []
