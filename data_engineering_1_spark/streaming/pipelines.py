"""Structured Streaming surface (SURVEY.md §2.9, ST1-ST7).

The reference has no streaming at all (its REPL at src/main.py:89-103 is
synchronous); this whole module is [north-star], driven by the ``events``
fixture stream table. Each pipeline here is the true streaming form of a
batch declared query in ``plans/events_queries.py`` (events_tumbling_10m,
events_sliding_10m_5m, sessionize_users, dedup_first_event) — the batch
twins carry the DuckDB oracle; these carry the incremental semantics
(watermarks, late-data drop, state stores).

Scale notes: every pipeline keys its state by (window/bucket, key) so state
is partitioned across executors by the same shuffle as the aggregation;
watermarks bound state size — without one, a windowed agg on an unbounded
stream grows state forever.

Sinks: each concern has one mechanism. Every ``run_*`` sink drains through
``_drain`` (trigger availableNow). foreachBatch sinks write idempotently by
epoch so task retries don't duplicate output. The incremental MV (X46) has
one on-disk layout, an ``__epoch=<batchId>`` partition per micro-batch,
written by ``_rollup_epoch_writer`` for both the drained and the sustained
sink, read by :func:`read_rollup` and compacted by
:func:`fold_rollup_epochs`. The three stream-stream joins share one
interval-join body, ``_interval_join``.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def events_file_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str = "events.parquet",
) -> DataFrame:
    """ST7 source: file stream over the events parquet.

    A stream reader takes an explicit schema, so it can't lean on batch
    schema inference — instead it consults the batch loader's adaptive
    resolution (io.resolve_raw_ts_type) for how THIS build reads the
    fixture's timestamp unit, and mirrors it:

      * native path (fixture is TIMESTAMP(MICROS), as every ``events``
        fixture is): declare ``ts`` with the batch-resolved timestamp type
        and cast to the canonical TIMESTAMP_NTZ;
      * NANOS path (Spark 4.1 rejects parquet TIMESTAMP(NANOS) with
        PARQUET_TYPE_ILLEGAL, so the batch loader resolves such a file
        through spark.sql.legacy.parquet.nanosAsLong): declare ``ts
        BIGINT`` and truncate nanos -> micros exactly like io.load_table.
        The stream must read under that conf too, so this path sets it
        for the whole session.

    Either way the stream's ``ts`` is value- and type-identical to the
    batch twin's (pinned by tests/test_streaming.py's stream/batch
    min/max/count tripwire).
    """
    from data_engineering_1_spark import io as engine_io

    raw_ts = engine_io.resolve_raw_ts_type(spark, sf_dir, name=path_glob)
    if isinstance(raw_ts, LongType):
        # NANOS file: the conf must be live while the stream runs, not
        # just at schema-resolution time
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = EVENTS_SCHEMA.replace("ts TIMESTAMP_NTZ", "ts BIGINT")
    else:
        schema = EVENTS_SCHEMA.replace(
            "ts TIMESTAMP_NTZ", f"ts {raw_ts.simpleString().upper()}"
        )
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        # the file source wants a directory: stream the sf dir, filtered
        # down to the events table file
        .option("pathGlobFilter", path_glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(sf_dir)
    if isinstance(raw_ts, LongType):
        ts = F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    else:
        ts = F.col("ts").cast("timestamp_ntz")
    return df.withColumn("ts", ts)


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """ST7 source: built-in rate source shaped like the events table, for
    demos/tests that need an unbounded generator with no files."""
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 100).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 1000 / 10.0).alias("value"),
        F.format_string('{"k": %d}', (F.col("value") % 100).cast("int")).alias(
            "props"
        ),
    )


def _with_watermark(events: DataFrame, watermark: str) -> DataFrame:
    """Watermark helper bridging the engine's canonical TIMESTAMP_NTZ event
    time (io.load_table normalizes ``ts`` to NTZ) and Spark's watermark
    requirement (EventTimeWatermark accepts only TIMESTAMP). Casts in;
    pipelines cast their emitted time columns back to NTZ so stream output
    is type-identical to the batch twins. Values are unchanged under the
    UTC session timezone."""
    return events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST1 + ST4: watermarked tumbling-window count/sum per event_type.

    Batch twin with oracle: plans/events_queries.py::events_tumbling_10m.
    The watermark drops events later than ``watermark`` behind the max
    seen ts AND lets the store evict windows older than that — state is
    O(active windows x event types), not O(stream length).
    """
    return (
        _with_watermark(events, watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_avg(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST2: sliding-window average value per user (batch twin:
    events_sliding_10m_5m). Each event lands in window/slide buckets."""
    return (
        _with_watermark(events, watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.avg("value").alias("avg_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "user_id",
            "n_events",
            "avg_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST3: native session windows — a session closes after ``gap`` of
    per-user silence. Batch twin (lag+cumsum emulation, oracle ✓):
    plans/events_queries.py::sessionize_users."""
    return (
        _with_watermark(events, watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: Iterable[str] = ("user_id", "event_type"),
    watermark: str = "1 hour",
) -> DataFrame:
    """ST5: streaming dedup — first event per key, with state bounded by
    the watermark (dropDuplicatesWithinWatermark keeps a key's fingerprint
    only until the watermark passes it). Batch twin: dedup_first_event."""
    return (
        _with_watermark(events, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )


_RUNNING_STATE_SCHEMA = "total DOUBLE, n BIGINT"
_RUNNING_OUT_SCHEMA = (
    "user_id BIGINT, batch_events BIGINT, running_events BIGINT, "
    "running_value DOUBLE"
)


def _running_totals_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    total, n = state.get if state.exists else (0.0, 0)
    batch_n = 0
    for pdf in pdfs:
        batch_n += len(pdf)
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((total, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "batch_events": [batch_n],
            "running_events": [n],
            "running_value": [total],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """ST6: arbitrary stateful per-key processing via applyInPandasWithState
    — a running (count, sum(value)) per user, state carried across
    micro-batches. The grouped shuffle co-locates each user's events with
    that user's state row; state lives in the executor-local state store."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=_RUNNING_OUT_SCHEMA,
        stateStructType=_RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESSION_STATE_SCHEMA = "start_us BIGINT, last_us BIGINT, n BIGINT"
_SESSION_OUT_SCHEMA = (
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events BIGINT"
)


def _make_session_fn(gap_us: int):
    def session_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def emit(start_us: int, last_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            # watermark passed last_ts + gap with no new events: the open
            # session is definitively closed — emit and clear
            start_us, last_us, n = state.get
            state.remove()
            yield emit(start_us, last_us, n)
            return

        rows = pd.concat(list(pdfs))
        ts_us = (
            rows["ts"].astype("datetime64[us]").astype("int64").sort_values()
        )
        events = [int(v) for v in ts_us]
        out = []
        if state.exists:
            start_us, last_us, n = state.get
            # Cross-batch out-of-order: events above the watermark may
            # still precede the stored session's start. Sessionize that
            # prefix on its own, then merge its tail into the stored
            # session when the gap allows — lowering start_us to the true
            # min, exactly like the batch twin's min(ts) — instead of
            # folding early events in without ever moving the start.
            before = [t for t in events if t < start_us]
            after = [t for t in events if t >= start_us]
            cur = None  # open (start, last, count) among the early events
            for t in before:
                if cur is None:
                    cur = [t, t, 1]
                elif t - cur[1] > gap_us:
                    out.append(emit(*cur))
                    cur = [t, t, 1]
                else:
                    cur[1] = t
                    cur[2] += 1
            if cur is not None:
                if start_us - cur[1] <= gap_us:
                    start_us = cur[0]
                    n += cur[2]
                else:
                    out.append(emit(*cur))
        else:
            after = events
            first = events[0]
            start_us, last_us, n = first, first, 0
        for t in after:
            if n > 0 and t - last_us > gap_us:
                out.append(emit(start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        # EventTimeTimeout fires once the watermark passes this instant
        # (the API takes milliseconds)
        state.setTimeoutTimestamp((last_us + gap_us) // 1000 + 1)
        if out:
            yield pd.concat(out)

    return session_fn


def sessionize_with_state(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST6 with event-time timeouts: custom sessionization as arbitrary
    stateful processing (applyInPandasWithState). Each user's open session
    lives in the state store as (start, last, count); sessions close
    in-batch when a gap appears between sorted events, and the DANGLING
    open session closes via ``GroupStateTimeout.EventTimeTimeout`` when
    the watermark passes last_event + gap — the mechanism the native
    ``session_window`` (ST3) uses internally, here exposed for session
    logic Spark's built-in cannot express (per-session custom payloads,
    conditional gaps, early emission).

    State is O(1) per active user, evicted by timeout; the groupBy
    shuffle co-locates each user's events with their state row."""
    gap_us = _parse_duration_ms(gap) * 1000
    return (
        _with_watermark(events, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(gap_us),
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


_DURATION_UNITS_MS = {
    "millisecond": 1, "milliseconds": 1,
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def _parse_duration_ms(spec: str) -> int:
    amount, unit = spec.strip().split()
    return int(amount) * _DURATION_UNITS_MS[unit.lower()]


def enrich_with_customer_stream(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static join: every streaming event enriched with the static
    customer dimension (events.user_id -> customer.c_custkey). The static
    side is broadcast, so the join is stateless and map-side — no
    watermark, no state store, each micro-batch joins against the current
    dim snapshot. This is the canonical streaming-enrichment shape: at
    scale the dim stays cached on executors while the stream flows
    through. Batch twin with oracle: plans/events_queries.py::
    events_by_segment (the aggregated form)."""
    dim = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_id"),
            "c_mktsegment",
            "c_nationkey",
        )
    )
    return events.join(dim, "user_id", "left")


def segment_counts_stream(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static join + global aggregate: count/sum(value) per customer
    market segment over the whole stream (complete output mode — the
    aggregate is unwindowed, so state is O(#segments))."""
    return (
        enrich_with_customer_stream(events, customer)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def _drain(
    writer: DataStreamWriter, checkpoint_dir: str, output_mode: str, timeout_sec: int
) -> None:
    """The one drain every run_* sink goes through: run the configured sink
    with availableNow (process everything currently available, then stop)."""
    q = (
        writer.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> DataFrame:
    """Drain a stream into an in-memory table and return it as a batch
    DataFrame — the test/demo harness for every pipeline above."""
    writer = stream_df.writeStream.format("memory").queryName(name)
    _drain(writer, checkpoint_dir, output_mode, timeout_sec)
    return stream_df.sparkSession.table(name)


def make_epoch_overwrite_writer(out_dir: str):
    """The exactly-once foreachBatch sink: each micro-batch lands in its own
    ``epoch=<batchId>`` directory with mode('overwrite'), so a replayed
    batchId (task retry, or restart-from-checkpoint re-delivering the last
    uncommitted batch) replaces its own prior output instead of appending
    duplicates. The batchId is the idempotence key Spark guarantees stable
    across replays of the same data."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    return write_batch


def run_foreach_batch_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> None:
    """ST7 sink: foreachBatch writing each micro-batch to parquet,
    partitioned by epoch so a retried batch overwrites its own output
    (idempotent replay) instead of appending duplicates."""
    writer = stream_df.writeStream.foreachBatch(make_epoch_overwrite_writer(out_dir))
    _drain(writer, checkpoint_dir, output_mode, timeout_sec)


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    version_col: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> None:
    """CDC sink: foreachBatch MERGEs each micro-batch into a keyed
    parquet table (operators/maintenance.py::upsert_parquet — newest
    version per key wins, unmatched keys insert). The streaming form of
    the X35 upsert: a change stream continuously maintains a
    latest-state table.

    Exactly-once here comes from IDEMPOTENCE rather than epoch
    isolation: replaying a batch re-merges the same rows, and
    newest-wins dedup is a set operation — the table state after a
    replay is identical (pinned by test). Combined with the checkpoint's
    batch tracking, restarts neither lose nor duplicate updates. The
    merge itself is one window over (existing ∪ batch) keyed rows and a
    crash-safe directory swap."""
    from ..operators.maintenance import upsert_parquet

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_parquet(
            batch_df.sparkSession, table_path, batch_df, key_cols, version_col
        )

    writer = stream_df.writeStream.foreachBatch(merge_batch)
    _drain(writer, checkpoint_dir, output_mode, timeout_sec)


def _rollup_epoch_writer(table_path: str, key_cols: list[str], value_col: str):
    """The incremental-MV (X46) foreachBatch body both rollup sinks share:
    the micro-batch's per-key partial aggregate (count, decimal sum) lands
    as the ``__epoch=<batchId>`` partition via dynamic partition overwrite.

    The write is O(batch) however old the MV is, and exactly-once needs no
    side meta-file: a replayed batchId re-derives identical partial rows
    and overwrites exactly its own partition, so retries and restarts can
    neither lose nor double-count an epoch. Partials stay per-epoch
    disjoint, so :func:`read_rollup` folds them exactly and
    :func:`fold_rollup_epochs` can compact old epochs."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.coalesce(F.col(value_col), F.lit(0.0)).cast(
                        "decimal(18,2)"
                    )
                ).alias("sum_value"),
            )
            .withColumn("__epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(table_path)
        )

    return write_epoch


def run_foreach_batch_rollup(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    value_col: str = "value",
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> None:
    """Incremental materialized-view maintenance, drained: every
    currently available micro-batch's partials land as one ``__epoch``
    partition (see ``_rollup_epoch_writer``), and the MV read
    (:func:`read_rollup`) folds them. The additive twin of the X42
    latest-state sink."""
    write_epoch = _rollup_epoch_writer(table_path, key_cols, value_col)
    writer = stream_df.writeStream.foreachBatch(write_epoch)
    _drain(writer, checkpoint_dir, output_mode, timeout_sec)


def start_rollup_stream(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    value_col: str = "value",
    trigger_interval: str = "500 milliseconds",
):
    """Sustained-rate incremental-MV maintenance (X46's soak shape):
    the same per-epoch partition writer as run_foreach_batch_rollup,
    under a processing-time trigger instead of a drain. Per-batch
    latency stays flat because each write is O(batch). Returns the
    started StreamingQuery; the caller owns stop().

    100 TB story: the MV ingests at O(input) regardless of MV age, and
    a periodic :func:`fold_rollup_epochs` bounds the partition count
    without changing read results."""
    write_epoch = _rollup_epoch_writer(table_path, key_cols, value_col)
    return (
        stream_df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )


_FOLD_STAGE = ".fold_stage"  # dot-prefixed: invisible to Spark readers


def _fold_commit(table_path: str) -> int:
    """Complete a staged fold (the commit half of fold_rollup_epochs,
    also the RECOVERY entry for a crashed one). The stage dir holds the
    folded parquet plus _MANIFEST.json naming the epochs it replaces
    and the base epoch it becomes. Steps are individually atomic
    renames, and the stage stays dot-hidden until every superseded
    partition is hidden — so NO crash point ever exposes a double
    count to readers (mid-commit readers can transiently UNDERcount,
    which re-running this function heals)."""
    stage = os.path.join(table_path, _FOLD_STAGE)
    with open(os.path.join(stage, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    base, old = manifest["base"], manifest["old"]
    for e in old:
        src = os.path.join(table_path, f"__epoch={e}")
        if os.path.exists(src):  # idempotent across recovery re-runs
            os.rename(src, os.path.join(table_path, f".trash_epoch={e}"))
    dst = os.path.join(table_path, f"__epoch={base}")
    if not os.path.exists(dst):
        os.rename(stage, dst)
    elif os.path.exists(stage):  # re-run after a crash past the rename
        shutil.rmtree(stage, ignore_errors=True)
    for e in old:
        shutil.rmtree(
            os.path.join(table_path, f".trash_epoch={e}"),
            ignore_errors=True,
        )
    return len(old)


def fold_rollup_epochs(
    spark: SparkSession,
    table_path: str,
    key_cols: list[str],
    keep_last_n: int = 10,
) -> int:
    """Compact a rollup table (either rollup sink's ``__epoch``
    partitions): fold every partition older than the newest
    ``keep_last_n`` epochs into ONE base partition (__epoch = the oldest
    folded id), leaving read_rollup's result unchanged (counts and
    decimal sums are re-aggregable, so folding partials is exact).
    Returns the number of epochs folded.

    The rollup sinks add one O(batch) partition per epoch forever; this
    fold bounds the partition count without touching the recent epochs
    a replayed batch could still overwrite (a restarted query replays at
    most the last uncommitted epoch, so any keep_last_n >= 1 is
    replay-safe; older epochs are committed by definition).

    Crash discipline (plain parquet has no ACID; this is the manifest
    protocol a transactional format would give for free): the fold is
    STAGED under a dot-hidden dir with a manifest of the epochs it
    replaces, superseded partitions are hidden by atomic renames, and
    only then does the stage rename into place. A crash at any point
    leaves either the original table, a transient undercount, or the
    folded table — never a double count — and re-running this function
    detects the leftover stage and completes the commit."""
    stage = os.path.join(table_path, _FOLD_STAGE)
    if os.path.exists(os.path.join(stage, "_MANIFEST.json")):
        return _fold_commit(table_path)  # recover a crashed fold first
    shutil.rmtree(stage, ignore_errors=True)  # stage w/o manifest: junk

    cur = spark.read.parquet(table_path)
    epochs = sorted(
        r["__epoch"] for r in cur.select("__epoch").distinct().collect()
    )
    old = [int(e) for e in epochs[: max(0, len(epochs) - keep_last_n)]]
    if len(old) < 2:
        return 0  # nothing worth folding
    base = min(old)
    # files in a partition dir carry only the non-partition columns;
    # the dir NAME supplies __epoch once the stage renames into place
    folded = _fold_partials(cur.where(F.col("__epoch").isin(old)), key_cols)
    folded.write.mode("overwrite").parquet(stage)
    with open(os.path.join(stage, "_MANIFEST.json"), "w") as fh:
        json.dump({"base": base, "old": old}, fh)
    return _fold_commit(table_path)


def _fold_partials(partials: DataFrame, key_cols: list[str]) -> DataFrame:
    return partials.groupBy(*key_cols).agg(
        F.sum("n_rows").alias("n_rows"), F.sum("sum_value").alias("sum_value")
    )


def read_rollup(
    spark: SparkSession, table_path: str, key_cols: list[str]
) -> DataFrame:
    """The MV read over a rollup table: fold per-epoch partials into the
    current totals (counts and decimal sums are re-aggregable, so the
    fold is exact however fold_rollup_epochs has compacted the epochs)."""
    return _fold_partials(spark.read.parquet(table_path), key_cols)


def _interval_join(
    clicks: DataFrame, purchases: DataFrame, within: str, watermark: str, how: str
) -> DataFrame:
    """The one stream-stream interval join body: each purchase against the
    same user's clicks in the preceding ``within``.

    Both sides carry a watermark and the condition bounds the click's
    event time on both sides (``p_ts - within <= c_ts <= p_ts``) — that
    pair is what lets Spark's state store evict buffered rows (an
    unbounded stream-stream join would hold every row forever). The full
    outer form coalesces ``user_id`` across sides, since either side can
    be the null one; the others keep the purchase's ``p_user``."""
    p = _with_watermark(purchases, watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    c = _with_watermark(clicks, watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    full = how == "fullOuter"
    user = F.coalesce("p_user", "c_user").alias("user_id") if full else "p_user"
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts "
            f"AND c_ts >= p_ts - INTERVAL {within}"
        ),
        how,
    ).select(
        user,
        "purchase_id",
        "click_id",
        F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
        F.col("c_ts").cast("timestamp_ntz").alias("c_ts"),
    )


def click_purchase_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST-family stream-stream INNER interval join (``_interval_join``).
    The batch twin is the declared query ``clicks_before_purchase_1h``'s
    join stage (operators/rangejoin.py solves the same problem for batch
    with bucket equi-keys; streaming gets the bound from watermarks
    instead)."""
    return _interval_join(clicks, purchases, within, watermark, "inner")


def purchase_click_left_outer_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """X66 stream-stream LEFT OUTER interval join (``_interval_join``):
    every purchase emits — joined to the same user's preceding-``within``
    clicks when they exist, or ONCE with a NULL click after the watermark
    proves no in-range click can still arrive.

    The null side of an outer stream-stream join is watermark-driven
    output: Spark buffers the preserved (purchase) row in the state
    store and only emits the null-padded result when the watermark
    passes the row's join-window end (p_ts: no earlier-click can arrive
    once the watermark clears p_ts, since c_ts <= p_ts) — so "no match"
    is a PROVEN fact, not a timeout guess. Batch twin: a plain left join."""
    return _interval_join(clicks, purchases, within, watermark, "leftOuter")


def purchase_click_full_outer_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """X66 stream-stream FULL OUTER interval join (``_interval_join``):
    BOTH sides null-emit on watermark expiry. A matched (purchase, click)
    pair emits immediately; an unmatched purchase emits once with a NULL
    click when the watermark clears p_ts (no earlier click can still
    arrive, since c_ts <= p_ts); an unmatched click emits once with a
    NULL purchase when the watermark clears c_ts + ``within`` (its join
    window's end — a matching purchase must satisfy p_ts <= c_ts +
    within). Output ``user_id`` is coalesced across sides. Batch twin: a
    plain FULL OUTER theta join."""
    return _interval_join(clicks, purchases, within, watermark, "fullOuter")
