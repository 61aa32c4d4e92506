"""Structured Streaming restatement of the reference's incremental
ingest (SURVEY.md §2.10).

The reference's "real-time" is a daily scheduled batch: refetch rows
newer than MAX(date) per symbol, upsert, recompute
(fetch_and_store_multi.py:264-306; README.md:91-97). Spark-native:

* checkpointing replaces the MAX(date) bookkeeping,
* ``withWatermark + dropDuplicates`` replaces refetch-overlap tolerance,
* ``foreachBatch`` running the J5 merge replaces ON DUPLICATE KEY,
* tumbling ``window(ts, '1 day')`` replaces the scheduled recompute.

Every transformation here is the same lazy DataFrame code the batch
path uses — stream/batch equivalence is tested (tests/test_streaming.py).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from finance_data_pipeline_spark.ingest import upsert

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


# Upper bound on one availableNow drain; a query still running after it
# is stopped and raises instead of handing back a partial result.
DRAIN_TIMEOUT_S = 300


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="fdps_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's one ``fdps_`` scratch
    root. The root is made on first use and removed when the
    interpreter exits, so a result that reads scratch files back lazily
    (``spark.read.parquet(store)``) stays valid for the process's
    lifetime and nothing outlives it."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def stage_batches(
    spark: SparkSession, frames: list[DataFrame], prefix: str
) -> DataFrame:
    """A file stream whose micro-batches are ``frames``, in order.

    Each frame is staged as one file, file ``i`` gets mtime
    10⁹·(i+1) s, and the source reads one file per trigger — so batch
    boundaries, and any state carried across them, are deterministic
    and replayable in SQL. All frames share ``frames[0]``'s schema."""
    staged = scratch_dir(prefix)
    seen: set[str] = set()
    for i, frame in enumerate(frames):
        frame.coalesce(1).write.mode("append").parquet(staged)
        new = {f for f in os.listdir(staged) if not f.startswith(("_", "."))} - seen
        t = 1_000_000_000 * (i + 1)
        for f in new:
            os.utime(os.path.join(staged, f), (t, t))
        seen |= new
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )


def await_drained(q: StreamingQuery) -> None:
    """Wait up to DRAIN_TIMEOUT_S for an availableNow query to finish.
    A query still running then is stopped and raises TimeoutError; a
    query that failed re-raises its StreamingQueryException."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{DRAIN_TIMEOUT_S} s"
        )


def drain_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a
    uniquely named memory sink and return the sink's table. The
    checkpoint lives only for the run: the table is held in memory."""
    name = f"fdps_{uuid.uuid4().hex[:8]}"
    ckpt = scratch_dir("ckpt_")
    try:
        await_drained(
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        # Must not mask the drain's own error; the root's exit-time
        # removal takes anything left behind.
        shutil.rmtree(ckpt, ignore_errors=True)
    return df.sparkSession.table(name)


def stream_events(spark: SparkSession, path_glob: str) -> DataFrame:
    """Incremental file source over event parquet — new files are the
    micro-batches (the reference's daily refetch, without the refetch)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path_glob)


def stream_documents(spark: SparkSession, path_glob: str) -> DataFrame:
    """Incremental file source over document parquet — the streaming
    front door of the corpus pipeline: each crawl drop is a micro-batch
    and the stateless cleaning stages (quality scoring, filtering,
    PII scrubbing) apply unchanged to the stream."""
    return spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(path_glob)


def daily_event_state(events: DataFrame) -> DataFrame:
    """Mergeable aggregate STATE for the (day, event_type) daily rollup:
    ``total_value`` stays DECIMAL(18,2). Keeping the state decimal is
    what makes repeated incremental merges exact — a double round-trip
    per refresh loses exactness once a total exceeds ~2^53/100 and the
    drift compounds across refreshes. Cast to double only at
    presentation (present_daily_aggregate)."""
    return (
        events.groupBy(
            F.window("ts", "1 day").alias("win"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            # Sum in decimal so the result is exact (order-independent)
            # regardless of partial-aggregation order — bit-identical to
            # any other engine's decimal sum of the same values.
            F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(18,2)").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def present_daily_aggregate(state: DataFrame) -> DataFrame:
    """Presentation projection over the decimal state: double
    total_value + derived avg_value."""
    return (
        state.withColumn("total_value", F.col("total_value").cast("double"))
        .withColumn("avg_value", F.round(F.col("total_value") / F.col("n_events"), 6))
        .select("day", "event_type", "n_events", "total_value", "avg_value")
    )


def daily_event_aggregate(events: DataFrame) -> DataFrame:
    """Tumbling one-day window per event_type: count + value stats.
    Shared by batch and streaming (identical plan → equivalence test)."""
    return present_daily_aggregate(daily_event_state(events))


def streaming_daily_aggregate(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming variant: watermark bounds state so late events older
    than the watermark are dropped and window state is evicted —
    mandatory for unbounded 100 TB streams."""
    return daily_event_aggregate(events.withWatermark("ts", watermark))


def dedup_in_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon — replaces the
    reference's tolerate-duplicates-via-upsert behavior."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stateful_continuity(
    bars: DataFrame,
    gap_lo: float = 0.5,
    gap_hi: float = 2.0,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): the reference's
    price-continuity heuristic (fetch_and_store.py:285-294) as streaming
    state — each symbol's last close persists in the state store across
    micro-batches AND restarts (checkpointed), so a gap between batches
    is detected without rescanning the stored table.

    Emits one row per (symbol, micro-batch): first open, the previous
    batch's close from state, and the discontinuity flag. State is one
    double per symbol — bounded regardless of stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "symbol string, batch_rows long, first_open double, "
        "prev_close double, discontinuous boolean, last_close double"
    )
    state_schema = "last_close double"

    def check(key, pdf_iter, state: GroupState):
        (symbol,) = key
        rows = pd.concat(list(pdf_iter)).sort_values("date")
        prev_close = state.get[0] if state.exists else None
        first_open = float(rows["open"].iloc[0])
        last_close = float(rows["close"].iloc[-1])
        discontinuous = bool(
            prev_close is not None and not (gap_lo <= first_open / prev_close <= gap_hi)
        )
        state.update((last_close,))
        yield pd.DataFrame(
            [
                {
                    "symbol": symbol,
                    "batch_rows": len(rows),
                    "first_open": first_open,
                    "prev_close": prev_close,
                    "discontinuous": discontinuous,
                    "last_close": last_close,
                }
            ]
        )

    return bars.groupBy("symbol").applyInPandasWithState(
        check, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, on) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the static
    dimension (broadcast — the dim never shuffles the stream side, and
    Spark re-resolves the static plan per batch, so a refreshed dim
    table is picked up). The streaming analogue of every J1 dimension
    join; no watermark needed because the static side is bounded."""
    return stream.join(F.broadcast(dim), on)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream time-interval inner join: match right rows that
    occur within (left_ts, left_ts + max_gap] for the same key — the
    click→purchase correlation shape. BOTH sides carry watermarks and
    the join predicate bounds the time skew, so Spark can evict
    buffered state: without the interval bound a stream-stream join
    buffers both streams forever. State per key is bounded by
    watermark + max_gap — the 100 TB requirement for an unbounded
    join."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    return lw.join(
        rw,
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_gap}")),
    )


def stream_ingest_stocks(bars: DataFrame, store_path: str, checkpoint: str):
    """foreachBatch upsert sink: each micro-batch merges into the
    partitioned store with the same J5 merge the batch path uses.

    Partition-scoped read-merge-overwrite keeps the rewrite bounded by
    the symbols in the batch, not the store size: ``existing`` is
    semi-joined to the batch's symbols before the merge, and the write
    uses dynamic partition overwrite, so only the touched symbol
    partitions are replaced — at 100 TB a batch of k symbols rewrites k
    partitions, never the store (tests/test_streaming.py asserts
    untouched partitions' files survive byte-identical).
    """

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()  # read twice: symbol set + merge input
        try:
            existing = spark.read.parquet(store_path).join(
                batch.select("symbol").distinct(), "symbol", "left_semi"
            )
        except AnalysisException as e:
            # Only a missing or empty store reads as empty: treating any
            # other read failure that way would overwrite the batch's
            # symbol partitions with the batch alone.
            if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise
            existing = None
        merged = batch if existing is None else upsert(existing, batch)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("symbol").parquet(store_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            batch.unpersist()

    return (
        bars.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def neardup_gate(
    docs: DataFrame,
    store_path: str,
    checkpoint: str,
    threshold: float = 0.7,
):
    """Streaming ingestion near-dup gate (ST2×X2): each micro-batch of
    documents is MinHash-signed, LSH-banded against the store's
    PERSISTED signature index, exact-Jaccard-verified, and only docs
    with no store partner at >= ``threshold`` are admitted — docs AND
    their signatures append, so later batches dedup against everything
    admitted before them.

    The store layout is the scale design: ``{store}/docs/batch=<id>``
    (content) and ``{store}/sigs/batch=<id>`` (the LSH index). Per
    batch the work is O(batch signatures + colliding buckets) — the
    store is never re-signed, and its text is read back only for
    candidate partners (a semi-join the scan pushes down). Within-batch
    duplicates are both admitted (per-batch policy; compose
    near_dup_pairs on the batch first when intra-batch dedup is
    wanted) — this keeps the result a pure function of (store, batch
    order).

    Failure semantics: each batch writes by OVERWRITING its own
    ``batch=<batch_id>`` partition, so a foreachBatch re-delivery after
    a crash is idempotent (appends would duplicate the admissions);
    re-delivered doc_ids that already exist in the index are dropped
    before verification (ingestion is id-idempotent, and a same-id
    collision would otherwise merge both copies' shingles into one
    group and dilute the pair's Jaccard below threshold); only a
    MISSING index reads as the empty store — any other read error
    propagates rather than silently admitting the batch unverified.
    """
    from finance_data_pipeline_spark.extensions import dedup as dd

    def gate(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.localCheckpoint()
        try:
            idx = spark.read.parquet(f"{store_path}/sigs").select("_id", "sig")
        except AnalysisException as e:
            msg = str(e)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
            idx = None
        if idx is not None:
            batch = batch.join(
                idx.select(F.col("_id").alias("doc_id")), "doc_id", "left_anti"
            ).localCheckpoint()
        bsigs = dd.minhash_signatures(batch).localCheckpoint()
        if idx is not None:
            cands = dd.lsh_candidates_between(bsigs, idx)
            cand_store_ids = cands.select(F.col("id_b").alias("doc_id")).distinct()
            store_docs = (
                spark.read.parquet(f"{store_path}/docs")
                .join(cand_store_ids, "doc_id", "left_semi")
                .select("doc_id", "text")
            )
            both = store_docs.unionByName(batch.select("doc_id", "text"))
            dup_ids = (
                dd.shingle_pairs_jaccard(both, candidates=cands)
                .filter(F.col("jaccard") >= threshold)
                .select(F.col("id_a").alias("doc_id"))
                .distinct()
            )
            accepted = batch.join(dup_ids, "doc_id", "left_anti").localCheckpoint()
        else:
            accepted = batch
        accepted.select("doc_id", "text").write.mode("overwrite").parquet(
            f"{store_path}/docs/batch={batch_id}"
        )
        bsigs.join(
            accepted.select(F.col("doc_id").alias("_id")), "_id", "left_semi"
        ).write.mode("overwrite").parquet(f"{store_path}/sigs/batch={batch_id}")

    return (
        docs.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def decontaminate_gate(
    docs: DataFrame,
    bench_hashes: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 3,
):
    """Streaming decontamination intake gate (ST2×X6) — the third
    intake gate next to the quality filter (stateless) and the
    near-dup gate (stateful index): each micro-batch of documents is
    shingled, semi-joined against the STATIC benchmark shingle-hash
    frame, and only docs sharing no k-gram with the eval suite are
    admitted. Unlike the near-dup gate, admission never feeds back
    (the benchmark side is fixed), so batches are independent and the
    drained stream equals the batch decontaminate() filter exactly —
    which is what the registry oracle asserts.

    Scale shape per batch: the bench hash set is distinct-ed ONCE
    upstream (eval-set-sized at any corpus scale) and re-used every
    batch; the batch side explodes to 60-bit longs, semi-joins, and
    anti-joins back on doc_id — no strings cross the wire, no state
    store. Each batch overwrites its own ``batch=<id>`` partition, so
    foreachBatch re-delivery after a crash is idempotent.
    """
    from finance_data_pipeline_spark.extensions.dedup import shingle_hashes

    def gate(batch: DataFrame, batch_id: int) -> None:
        contaminated = (
            shingle_hashes(batch, k)
            .join(bench_hashes, "_h", "left_semi")
            .select("doc_id")
            .distinct()
        )
        admitted = batch.join(contaminated, "doc_id", "left_anti")
        admitted.select("doc_id").write.mode("overwrite").parquet(
            f"{out_path}/batch={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator #2 (applyInPandasWithState): per
    event_type RUNNING row/value totals across micro-batches — the
    streaming ledger shape (cumulative ingest accounting that must
    survive restarts via the checkpointed state store), complementing
    stateful_continuity's last-value state with accumulator state.

    Values accumulate as integer micro-units (floor(value·1e6 + 0.5))
    so the running total is exact, order-independent, and replays
    bit-identically in a SQL oracle — summing raw doubles would drift
    with batch/row order. State is two longs per key — bounded
    regardless of stream length.

    Emits one row per (event_type, micro-batch): batch_rows, cum_rows,
    cum_value_micros.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_type string, batch_rows long, cum_rows long, "
        "cum_value_micros long"
    )
    state_schema = "cum_rows long, cum_value_micros long"

    def accumulate(key, pdf_iter, state: GroupState):
        (event_type,) = key
        rows = pd.concat(list(pdf_iter))
        micros = int(
            np.floor(rows["value"].to_numpy(dtype="float64") * 1_000_000 + 0.5)
            .astype("int64")
            .sum()
        )
        prev_rows, prev_micros = state.get if state.exists else (0, 0)
        cum_rows = prev_rows + len(rows)
        cum_micros = prev_micros + micros
        state.update((cum_rows, cum_micros))
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "batch_rows": len(rows),
                    "cum_rows": cum_rows,
                    "cum_value_micros": cum_micros,
                }
            ]
        )

    return events.groupBy("event_type").applyInPandasWithState(
        accumulate, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def tws_running_totals(events: DataFrame) -> DataFrame:
    """stateful_running_totals on Spark 4's NEW arbitrary-state API
    (transformWithStateInPandas + StatefulProcessor + ValueState) —
    the successor of applyInPandasWithState, with typed state handles
    and timer support, running on the RocksDB state store it requires.
    Same contract as stateful_running_totals: per event_type cumulative
    row/value totals in exact integer micro-units, one output row per
    (key, micro-batch).

    Runtime note: the transformWithState driver worker needs
    ``google.protobuf`` (its state-server protocol), which this test
    container does not ship — so the REGISTERED, oracle-checked path
    is the applyInPandasWithState twin (streaming_running_totals);
    this function is the drop-in successor-API form for environments
    with protobuf installed (tests gate on the import).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = (
        "event_type string, batch_rows long, cum_rows long, "
        "cum_value_micros long"
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "cum_rows long, cum_value_micros long"
            )

        def handleInputRows(self, key, rows, timerValues):
            event_type = key[0]
            n, micros = 0, 0
            for pdf in rows:
                n += len(pdf)
                micros += int(
                    np.floor(
                        pdf["value"].to_numpy(dtype="float64") * 1_000_000 + 0.5
                    )
                    .astype("int64")
                    .sum()
                )
            prev = self._state.get() if self._state.exists() else (0, 0)
            cum = (prev[0] + n, prev[1] + micros)
            self._state.update(cum)
            yield pd.DataFrame(
                [
                    {
                        "event_type": event_type,
                        "batch_rows": n,
                        "cum_rows": cum[0],
                        "cum_value_micros": cum[1],
                    }
                ]
            )

        def close(self) -> None:
            pass

    return events.groupBy("event_type").transformWithStateInPandas(
        RunningTotals(), out_schema, "append", "none"
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """ST3 successor API — ``dropDuplicatesWithinWatermark``: unlike
    plain dropDuplicates (state per key for the STREAM'S LIFETIME
    unless the key embeds event time), this guarantees dedup only for
    duplicates arriving within the watermark delay of each other and
    EVICTS key state afterward — the right contract for refetch
    overlap (duplicates arrive close together) on an unbounded stream,
    because state is bounded by the delay window, not by key
    cardinality over all time."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def versioned_commit_sink(stream: DataFrame, store: str, checkpoint: str):
    """ST2×S11 — stream into the snapshot-versioned store: every
    micro-batch commits ONE new immutable version whose content is
    the running union (previous current ∪ batch), so the store's
    version history IS the stream's prefix history — any training
    run can pin the exact version it read (reproducible freeze), and
    a bad batch is undone by an O(1) manifest rollback instead of a
    stream rewind.

    Exactly-once note: the manifest swap is the single commit point;
    if a batch retries after writing its v=N directory but before the
    swap, the rewrite of v=N fails (errorifexists) — a real
    deployment keys the version on batch_id to make retries
    idempotent; here batch ordering under availableNow is
    deterministic, which is what the oracle checks end-to-end.
    """
    from finance_data_pipeline_spark import io as fio

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(os.path.join(store, "manifest.json")):
            merged = fio.read_snapshot(batch_df.sparkSession, store).unionByName(
                batch_df
            )
        else:
            merged = batch_df
        fio.write_snapshot(merged, store)

    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
