"""Structured Streaming pipelines (SURVEY.md §2.9) vs their batch twins.

Each stream is drained with trigger(availableNow) over the sf0.001 events
parquet and compared against the equivalent batch DataFrame computation —
the batch declared queries carry the DuckDB oracle; these tests pin the
streaming results to the batch semantics.
"""

from __future__ import annotations

import glob
import os
import time

import pandas as pd

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineering_1_spark.io import load_table
from data_engineering_1_spark.streaming import pipelines as sp


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


def _drain(stream_df, name, tmp_path, mode="complete"):
    return sp.run_to_memory(
        stream_df, name, str(tmp_path / f"ckpt_{name}"), output_mode=mode
    )


def test_stream_batch_ts_units_agree(spark, sf_dir, events_batch, tmp_path):
    """Tripwire for the round-2 unit bug: the stream source and the batch
    loader must decode ``ts`` to identical values (a NANOS/MICROS mixup
    shifts every timestamp 1000x, e.g. 2024 -> 1970) and to the same
    canonical type."""
    stream_df = sp.events_file_stream(spark, sf_dir)
    assert stream_df.schema["ts"].dataType == events_batch.schema["ts"].dataType
    got = _drain(
        stream_df.agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count("*").alias("n"),
        ),
        "t_units",
        tmp_path,
    ).collect()[0]
    exp = events_batch.agg(
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert got["n"] == exp["n"]
    assert got["min_ts"] == exp["min_ts"]
    assert got["max_ts"] == exp["max_ts"]


def test_tumbling_counts_matches_batch(spark, sf_dir, events_batch, tmp_path):
    out = _drain(
        sp.tumbling_counts(sp.events_file_stream(spark, sf_dir)),
        "t_tumbling",
        tmp_path,
    ).toPandas()
    exp = (
        events_batch.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    out = out.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(out) == len(exp)
    assert (out["n_events"].values == exp["n_events"].values).all()
    assert abs(out["total_value"] - exp["total_value"]).max() < 1e-6


def test_sliding_avg_matches_batch(spark, sf_dir, events_batch, tmp_path):
    out = _drain(
        sp.sliding_avg(sp.events_file_stream(spark, sf_dir)),
        "t_sliding",
        tmp_path,
    ).toPandas()
    exp = (
        events_batch.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), F.avg("value").alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "avg_value",
        )
        .toPandas()
    )
    key = ["window_start", "user_id"]
    out = out.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(out) == len(exp)
    assert (out["window_start"].values == exp["window_start"].values).all()
    assert (out["user_id"].values == exp["user_id"].values).all()
    assert (out["n_events"].values == exp["n_events"].values).all()
    assert abs(out["avg_value"] - exp["avg_value"]).max() < 1e-9
    # every event lands in exactly two sliding windows
    assert out["n_events"].sum() == 2 * events_batch.count()


def test_session_counts_covers_all_events(spark, sf_dir, events_batch, tmp_path):
    out = _drain(
        sp.session_counts(sp.events_file_stream(spark, sf_dir)),
        "t_session",
        tmp_path,
    ).toPandas()
    # sessions partition the events: totals must match exactly
    assert out["n_events"].sum() == events_batch.count()
    # session starts/ends are consistent
    assert (out["session_end"] > out["session_start"]).all()
    # one session per user minimum
    assert out["user_id"].nunique() == events_batch.select("user_id").distinct().count()


def test_dedup_stream_matches_batch(spark, sf_dir, events_batch, tmp_path):
    out = _drain(
        sp.dedup_stream(sp.events_file_stream(spark, sf_dir)),
        "t_dedup",
        tmp_path,
        mode="append",
    )
    exp = events_batch.select("user_id", "event_type").distinct().count()
    assert out.count() == exp
    assert out.select("user_id", "event_type").distinct().count() == exp


def test_stateful_running_totals(spark, sf_dir, events_batch, tmp_path):
    out_dir = str(tmp_path / "running_out")
    sp.run_foreach_batch_parquet(
        sp.running_user_totals(sp.events_file_stream(spark, sf_dir)),
        out_dir,
        str(tmp_path / "ckpt_running"),
        output_mode="update",
    )
    files = glob.glob(os.path.join(out_dir, "epoch=*/*.parquet"))
    assert files, "foreachBatch sink wrote no parquet"
    got = (
        spark.read.parquet(os.path.join(out_dir, "epoch=*"))
        .groupBy("user_id")
        .agg(
            F.max("running_events").alias("running_events"),
            F.max("running_value").alias("running_value"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    exp = (
        events_batch.groupBy("user_id")
        .agg(
            F.count("*").alias("running_events"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("running_value"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert (got["user_id"].values == exp["user_id"].values).all()
    assert (got["running_events"].values == exp["running_events"].values).all()
    assert abs(got["running_value"] - exp["running_value"]).max() < 1e-6


def test_rate_stream_schema(spark):
    df = sp.rate_stream(spark)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
    ]


def test_stream_static_join_matches_batch(spark, sf_dir, events_batch, tmp_path):
    """Stream-static enrichment: the streaming broadcast join against the
    static customer dim must produce exactly the batch twin's per-segment
    aggregate (declared query events_by_segment)."""
    customer = load_table(spark, sf_dir, "customer")
    out = _drain(
        sp.segment_counts_stream(
            sp.events_file_stream(spark, sf_dir), customer
        ),
        "t_ss_static",
        tmp_path,
        mode="complete",
    ).toPandas()
    exp = (
        events_batch.join(
            customer.selectExpr("c_custkey AS user_id", "c_mktsegment"),
            "user_id",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .toPandas()
    )
    out = out.sort_values("c_mktsegment").reset_index(drop=True)
    exp = exp.sort_values("c_mktsegment").reset_index(drop=True)
    assert (out["c_mktsegment"].values == exp["c_mktsegment"].values).all()
    assert (out["n_events"].values == exp["n_events"].values).all()
    assert abs(out["sum_value"] - exp["sum_value"]).max() < 1e-9


def _write_events_file(path, rows):
    """One parquet file shaped like the events fixture (ts TIMESTAMP(MICROS))."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, path)


def test_watermark_drops_late_click(spark, tmp_path):
    """ST4/X15: the stream-stream join's watermark must actually evict
    state — a click arriving a full watermark-interval late finds its only
    possible match already removed from the state store and produces no
    output row, even though it satisfies the join's time bounds.

    Spark's guarantee for stream-stream joins with range conditions is
    state EVICTION, not input-side late-row dropping (measured:
    numRowsDroppedByWatermark stays 0; a late row still joins against any
    match that remains buffered — so a two-batch version of this test
    fails by design). Hence three files processed as separate
    micro-batches (maxFilesPerTrigger=1, mtime-ordered):

      batch 0: purchases at t0+30m / t0+3h, plus a watermark pusher at
               t0+4h on EACH side — the global watermark is the MIN
               across the two watermarked inputs, so a side with no data
               would pin it at epoch. Watermark after: t0+2h (2h delay).
      batch 1: one on-time dummy click; at its end the purchase at
               t0+30m (evict when p_ts < watermark) is removed from
               state. The purchase at t0+3h survives.
      batch 2: the late click (t0) — its only in-range match is gone →
               no output; and an on-time click (t0+2h50m) that joins the
               surviving purchase at t0+3h."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "wm_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    f1 = src_dir / "batch1.parquet"
    _write_events_file(
        f1,
        [
            (1, t0 + timedelta(minutes=30), 1, "purchase"),
            (2, t0 + timedelta(hours=3), 2, "purchase"),
            # watermark pushers, one per side (users with no counterpart)
            (5, t0 + timedelta(hours=4), 99, "purchase"),
            (6, t0 + timedelta(hours=4), 98, "click"),
        ],
    )
    f2 = src_dir / "batch2.parquet"
    _write_events_file(
        f2,
        [(7, t0 + timedelta(hours=4), 97, "click")],  # eviction trigger
    )
    f3 = src_dir / "batch3.parquet"
    _write_events_file(
        f3,
        [
            (3, t0, 1, "click"),  # late: match evicted at end of batch 1
            (4, t0 + timedelta(hours=2, minutes=50), 2, "click"),  # on time
        ],
    )
    # file source picks oldest-mtime first; force the ordering
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))
    os.utime(f3, (1_000_000_200, 1_000_000_200))

    def stream():
        return sp.events_file_stream(
            spark,
            str(src_dir),
            max_files_per_trigger=1,
            path_glob="*.parquet",
        )

    out = _drain(
        sp.click_purchase_join_stream(
            stream().filter(F.col("event_type") == "click"),
            stream().filter(F.col("event_type") == "purchase"),
        ),
        "t_wm_late",
        tmp_path,
        mode="append",
    ).toPandas()
    assert sorted(out["click_id"].tolist()) == [4], (
        f"late click must be dropped, on-time kept; got {out.to_dict('records')}"
    )
    assert out["purchase_id"].tolist() == [2]


def test_foreach_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The exactly-once guard: replaying a batchId through the foreachBatch
    sink (as a task retry or checkpoint recovery would) must overwrite the
    epoch's prior output, not append duplicates."""
    out_dir = str(tmp_path / "replay_out")
    batch = load_table(spark, sf_dir, "events").limit(100)
    writer = sp.make_epoch_overwrite_writer(out_dir)
    writer(batch, 7)
    writer(batch, 7)  # replay of the same epoch
    got = spark.read.parquet(os.path.join(out_dir, "epoch=7"))
    assert got.count() == 100
    assert got.select("event_id").distinct().count() == 100


def test_stateful_sessionize_matches_batch(spark, sf_dir, events_batch, tmp_path):
    """ST6 EventTimeTimeout sessionization vs the batch lag+cumsum twin.

    availableNow drains the data in one micro-batch (in-batch gap
    detection closes every non-final session) and then runs a final batch
    in which the watermark (max ts - 1h delay) fires EventTimeTimeouts —
    so each user's LAST session is also emitted iff it ended more than
    gap before that final watermark. The assertions model exactly that:
    every emitted row is a true batch session, all non-final sessions are
    emitted, and final sessions are emitted precisely when they cleared
    the timeout boundary (2 ms slack for the ms-granularity watermark)."""
    from datetime import timedelta

    out = _drain(
        sp.sessionize_with_state(sp.events_file_stream(spark, sf_dir)),
        "t_state_sessions",
        tmp_path,
        mode="append",
    ).toPandas()

    w = Window.partitionBy("user_id").orderBy("ts")
    batch = (
        events_batch.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                    > 30 * 60 * 1_000_000
                )
            ).cast("int"),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    last = Window.partitionBy("user_id").orderBy(F.desc("session_id"))
    flagged = batch.withColumn("rn", F.row_number().over(last)).select(
        "user_id", "session_start", "session_end", "n_events",
        (F.col("rn") == 1).alias("is_last"),
    ).toPandas()

    key = ["user_id", "session_start", "session_end", "n_events"]
    out_keys = set(map(tuple, out[key].itertuples(index=False)))
    all_keys = set(map(tuple, flagged[key].itertuples(index=False)))
    nonlast_keys = set(
        map(tuple, flagged[~flagged["is_last"]][key].itertuples(index=False))
    )
    # (1) everything emitted is a true batch session
    assert out_keys <= all_keys
    # (2) every non-final session was closed in-batch and emitted
    assert nonlast_keys <= out_keys
    # (3) final sessions emitted iff they cleared the timeout boundary
    max_ts = events_batch.agg(F.max("ts")).collect()[0][0]
    boundary = max_ts - timedelta(hours=1, minutes=30)
    slack = timedelta(milliseconds=2)
    for row in flagged[flagged["is_last"]].itertuples(index=False):
        k = (row.user_id, row.session_start, row.session_end, row.n_events)
        if row.session_end < boundary - slack:
            assert k in out_keys, f"timed-out session not emitted: {k}"
        elif row.session_end > boundary + slack:
            assert k not in out_keys, f"still-open session emitted: {k}"
    assert len(out_keys) > len(nonlast_keys), "some sessions must time out"


def test_stateful_sessionize_timeout_emits_dangling_session(spark, tmp_path):
    """The EventTimeTimeout leg: a user whose open session goes quiet gets
    that session EMITTED by the timeout when a later batch's watermark
    passes last_event + gap — not silently dropped."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "toevents"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    f1 = src_dir / "b1.parquet"
    # user 1: a 3-event session ending t0+10m, then silence
    _write_events_file(
        f1,
        [(i, t0 + timedelta(minutes=5 * i), 1, "view") for i in range(3)],
    )
    f2 = src_dir / "b2.parquet"
    # a later batch from another user pushes the watermark (1h delay) past
    # t0+10m+30m gap  ->  t0+4h - 1h = t0+3h watermark
    _write_events_file(
        f2, [(10, t0 + timedelta(hours=4), 2, "view")]
    )
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))

    out = _drain(
        sp.sessionize_with_state(
            sp.events_file_stream(
                spark, str(src_dir),
                max_files_per_trigger=1, path_glob="*.parquet",
            )
        ),
        "t_state_timeout",
        tmp_path,
        mode="append",
    ).toPandas()
    u1 = out[out["user_id"] == 1]
    assert len(u1) == 1, f"user 1's dangling session must time out: {out}"
    assert u1.iloc[0]["n_events"] == 3
    assert u1.iloc[0]["session_start"] == t0
    assert u1.iloc[0]["session_end"] == t0 + timedelta(minutes=10)


def test_stateful_sessionize_cross_batch_out_of_order(spark, tmp_path):
    """Cross-micro-batch out-of-order events (above the watermark but
    earlier than the stored session start) must be merged like the batch
    twin's min(ts): within-gap events lower session_start; a far-earlier
    event becomes its own earlier session — never silently folded into
    the open session with an unchanged start.

    Layout (gap 30m, watermark 6h so batch-2 stragglers stay on time):
      batch 1: user 1 at t0+4h, t0+4h05m (open session), pusher user 2
               at t0+8h  ->  watermark t0+2h.
      batch 2: user 1 stragglers t0+2h30m (own session: 1h20m before the
               next event), t0+3h50m (10m before stored start: merges,
               start drops to 3h50m), t0+4h02m (inside the interval).
      batch 3: pusher at t0+20h times out user 1's open session.
    Expected user-1 sessions == batch twin: (2h30m, 2h30m, 1) and
    (3h50m, 4h05m, 4)."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "ooo_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    f1 = src_dir / "b1.parquet"
    _write_events_file(
        f1,
        [
            (1, t0 + timedelta(hours=4), 1, "view"),
            (2, t0 + timedelta(hours=4, minutes=5), 1, "view"),
            (9, t0 + timedelta(hours=8), 2, "view"),
        ],
    )
    f2 = src_dir / "b2.parquet"
    _write_events_file(
        f2,
        [
            (3, t0 + timedelta(hours=2, minutes=30), 1, "view"),
            (4, t0 + timedelta(hours=3, minutes=50), 1, "view"),
            (5, t0 + timedelta(hours=4, minutes=2), 1, "view"),
        ],
    )
    f3 = src_dir / "b3.parquet"
    _write_events_file(f3, [(10, t0 + timedelta(hours=20), 2, "view")])
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))
    os.utime(f3, (1_000_000_200, 1_000_000_200))

    out = _drain(
        sp.sessionize_with_state(
            sp.events_file_stream(
                spark, str(src_dir),
                max_files_per_trigger=1, path_glob="*.parquet",
            ),
            watermark="6 hours",
        ),
        "t_state_ooo",
        tmp_path,
        mode="append",
    ).toPandas()
    u1 = out[out["user_id"] == 1].sort_values("session_start")
    got = [
        (r.session_start, r.session_end, r.n_events)
        for r in u1.itertuples(index=False)
    ]
    assert got == [
        (
            t0 + timedelta(hours=2, minutes=30),
            t0 + timedelta(hours=2, minutes=30),
            1,
        ),
        (
            t0 + timedelta(hours=3, minutes=50),
            t0 + timedelta(hours=4, minutes=5),
            4,
        ),
    ], f"cross-batch out-of-order sessions diverged: {got}"


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: a second availableNow run sharing the
    first run's checkpoint must pick up ONLY files added since — the file
    source's commit log prevents reprocessing, and the epoch-overwrite
    sink prevents duplication even if a batch were replayed."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "ckpt_events"
    src_dir.mkdir()
    out_dir = str(tmp_path / "ckpt_out")
    ckpt = str(tmp_path / "ckpt_state")
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    f1 = src_dir / "a.parquet"
    _write_events_file(
        f1, [(i, t0 + timedelta(minutes=i), i % 3, "view") for i in range(10)]
    )
    os.utime(f1, (1_000_000_000, 1_000_000_000))

    def run_once():
        sp.run_foreach_batch_parquet(
            sp.events_file_stream(spark, str(src_dir), path_glob="*.parquet"),
            out_dir,
            ckpt,
        )

    run_once()
    first = spark.read.parquet(os.path.join(out_dir, "epoch=*"))
    assert first.count() == 10

    f2 = src_dir / "b.parquet"
    _write_events_file(
        f2,
        [(100 + i, t0 + timedelta(hours=1, minutes=i), i % 3, "click")
         for i in range(7)],
    )
    os.utime(f2, (1_000_000_100, 1_000_000_100))

    run_once()  # restart from the same checkpoint
    both = spark.read.parquet(os.path.join(out_dir, "epoch=*"))
    assert both.count() == 17, "restart must add only the new file's rows"
    assert both.select("event_id").distinct().count() == 17


def test_stateful_sessionize_state_survives_restart(spark, tmp_path):
    """State-store durability: an open session built in run 1 must
    survive a full query restart (same checkpoint, new availableNow run)
    and merge with run 2's events — the applyInPandasWithState state
    outlives the query, not just the micro-batch."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "restart_events"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt_restart_sess")
    t0 = datetime(2024, 1, 1)
    f1 = src_dir / "b1.parquet"
    # run 1: user 1 opens a session [t0, t0+10m]
    _write_events_file(
        f1, [(i, t0 + timedelta(minutes=5 * i), 1, "view") for i in range(3)]
    )
    os.utime(f1, (1_000_000_000, 1_000_000_000))

    out_dir = str(tmp_path / "restart_out")

    def drain():
        # the memory sink cannot recover from a checkpoint; the
        # foreachBatch parquet sink can — and is the production shape
        sp.run_foreach_batch_parquet(
            sp.sessionize_with_state(
                sp.events_file_stream(
                    spark, str(src_dir),
                    max_files_per_trigger=1, path_glob="*.parquet",
                )
            ),
            out_dir,
            ckpt,
            output_mode="append",
        )
        try:
            return spark.read.parquet(
                os.path.join(out_dir, "epoch=*")
            ).toPandas()
        except Exception:  # no epochs emitted anything yet
            import pandas as pd

            return pd.DataFrame(columns=["user_id"])

    out1 = drain()
    assert len(out1[out1["user_id"] == 1]) == 0  # still open, nothing emitted

    # run 2 (restart from the same checkpoint): user 1 continues the SAME
    # session within the gap, then a far-future pusher times it out
    f2 = src_dir / "b2.parquet"
    _write_events_file(
        f2, [(10, t0 + timedelta(minutes=25), 1, "view")]
    )
    f3 = src_dir / "b3.parquet"
    _write_events_file(f3, [(99, t0 + timedelta(hours=12), 2, "view")])
    os.utime(f2, (1_000_000_100, 1_000_000_100))
    os.utime(f3, (1_000_000_200, 1_000_000_200))

    out2 = drain()
    u1 = out2[out2["user_id"] == 1]
    assert len(u1) == 1, f"restarted session must merge and time out: {out2}"
    assert u1.iloc[0]["session_start"] == t0
    assert u1.iloc[0]["session_end"] == t0 + timedelta(minutes=25)
    assert u1.iloc[0]["n_events"] == 4  # 3 from run 1 + 1 from run 2


def test_foreach_batch_upsert_maintains_latest_state(
    spark, sf_dir, events_batch, tmp_path
):
    """CDC sink: streaming foreachBatch upsert must leave the keyed table
    holding exactly the newest version per key (the batch max-ts twin),
    and replaying the merge of the final state must not change it —
    idempotence is what makes the sink exactly-once under retries."""
    table = str(tmp_path / "latest_events")
    sp.run_foreach_batch_upsert(
        sp.events_file_stream(spark, sf_dir),
        table,
        str(tmp_path / "ckpt_upsert"),
        key_cols=["user_id", "event_type"],
        version_col="ts",
    )
    got = (
        spark.read.parquet(table)
        .select("user_id", "event_type", "ts")
        .toPandas()
        .sort_values(["user_id", "event_type"])
        .reset_index(drop=True)
    )
    exp = (
        events_batch.groupBy("user_id", "event_type")
        .agg(F.max("ts").alias("ts"))
        .toPandas()
        .sort_values(["user_id", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["user_id"].values == exp["user_id"].values).all()
    assert (got["event_type"].values == exp["event_type"].values).all()
    assert (got["ts"].values == exp["ts"].values).all()

    # replay: merging the table's own rows back in must be a no-op
    from data_engineering_1_spark.operators.maintenance import upsert_parquet

    before = sorted(
        map(tuple, spark.read.parquet(table).select(
            "user_id", "event_type", "ts"
        ).collect())
    )
    upsert_parquet(
        spark,
        table,
        spark.read.parquet(table),
        key_cols=["user_id", "event_type"],
        version_col="ts",
    )
    after = sorted(
        map(tuple, spark.read.parquet(table).select(
            "user_id", "event_type", "ts"
        ).collect())
    )
    assert before == after


def test_foreach_batch_rollup_incremental_mv(
    spark, sf_dir, events_batch, tmp_path
):
    """Incremental MV: per-epoch partial aggregates written per batch must
    fold to exactly the batch groupBy, across MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over two source files), and replaying an
    epoch's write must leave the MV unchanged (the replayed batch
    overwrites its own __epoch partition)."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "mv_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1)
    f1 = src_dir / "a.parquet"
    _write_events_file(
        f1, [(i, t0 + timedelta(minutes=i), i % 5, "view") for i in range(40)]
    )
    f2 = src_dir / "b.parquet"
    _write_events_file(
        f2,
        [(100 + i, t0 + timedelta(hours=1, minutes=i), i % 3, "click")
         for i in range(30)],
    )
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))

    table = str(tmp_path / "mv_user_totals")
    sp.run_foreach_batch_rollup(
        sp.events_file_stream(
            spark, str(src_dir), max_files_per_trigger=1, path_glob="*.parquet"
        ),
        table,
        str(tmp_path / "ckpt_mv"),
        key_cols=["user_id"],
        value_col="value",
    )
    # more than one epoch was merged
    assert (
        spark.read.parquet(table).select("__epoch").distinct().count() >= 2
    )
    src = spark.read.parquet(str(src_dir))
    exp = (
        src.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    got = (
        sp.read_rollup(spark, table, ["user_id"])
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert (got["user_id"].values == exp["user_id"].values).all()
    assert (got["n_rows"].values == exp["n_rows"].values).all()
    assert (got["sum_value"].values == exp["sum_value"].values).all()

    # replay epoch 0's write: dynamic-overwriting its partition with its
    # own rows (what a restarted query's re-run of batch 0 does)
    before = sorted(map(tuple, spark.read.parquet(table).collect()))
    epoch0 = spark.read.parquet(table).filter(F.col("__epoch") == 0)
    (
        epoch0.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(table)
    )
    after = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert before == after


def test_foreach_batch_rollup_fold_keeps_every_epoch(spark, tmp_path):
    """The drained rollup sink's table is one the epoch fold serves: after
    four epochs (maxFilesPerTrigger=1 over four files) and
    fold_rollup_epochs(keep_last_n=2), read_rollup still equals the batch
    groupBy. The table must hold only __epoch partition directories: flat
    data files beside the fold's __epoch=0 directory would make readers
    see only that partition."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "mv_fold_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1)
    for f in range(4):
        path = src_dir / f"e{f}.parquet"
        _write_events_file(
            path,
            [(10 * f + i, t0 + timedelta(hours=f, minutes=i), i % 3, "view")
             for i in range(10)],
        )
        os.utime(path, (1_000_000_000 + 100 * f, 1_000_000_000 + 100 * f))

    table = str(tmp_path / "mv_fold_user_totals")
    sp.run_foreach_batch_rollup(
        sp.events_file_stream(
            spark, str(src_dir), max_files_per_trigger=1, path_glob="*.parquet"
        ),
        table,
        str(tmp_path / "ckpt_mv_fold"),
        key_cols=["user_id"],
    )
    # one layout: a partition per epoch, no flat data files at the root
    assert sorted(os.path.basename(d) for d in glob.glob(f"{table}/__epoch=*")) == [
        "__epoch=0", "__epoch=1", "__epoch=2", "__epoch=3"
    ]
    assert not glob.glob(f"{table}/*.parquet")
    assert sp.fold_rollup_epochs(spark, table, ["user_id"], keep_last_n=2) == 2

    exp = sorted(
        map(
            tuple,
            spark.read.parquet(str(src_dir))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            )
            .collect(),
        )
    )
    got = sorted(
        map(tuple, sp.read_rollup(spark, table, ["user_id"]).collect())
    )
    assert got == exp


def test_stream_stream_join_matches_batch(spark, sf_dir, events_batch, tmp_path):
    """ST stream-stream interval join vs the plain batch theta join: same
    (purchase, click) pairs, drained with availableNow."""
    src = sp.events_file_stream(spark, sf_dir)
    out = _drain(
        sp.click_purchase_join_stream(
            src.filter(F.col("event_type") == "click"),
            sp.events_file_stream(spark, sf_dir).filter(
                F.col("event_type") == "purchase"
            ),
        ),
        "t_ssjoin",
        tmp_path,
        mode="append",
    ).toPandas()
    clicks = events_batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events_batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    exp = (
        clicks.join(
            purchases,
            F.expr(
                "c_user = p_user AND c_ts <= p_ts "
                "AND c_ts >= p_ts - INTERVAL 1 HOUR"
            ),
        )
        .select("purchase_id", "click_id")
        .toPandas()
    )
    key = ["purchase_id", "click_id"]
    out = out[key].sort_values(key).reset_index(drop=True)
    exp = exp[key].sort_values(key).reset_index(drop=True)
    assert len(out) == len(exp) > 0
    assert (out.values == exp.values).all()


def test_stream_stream_left_outer_null_on_watermark(spark, tmp_path):
    """X66: the LEFT OUTER stream-stream join must emit a matched row
    immediately AND emit the null-padded row for an unmatched purchase
    only after the watermark proves no in-range click can arrive.

    Three mtime-ordered single-file batches:
      batch 0: user 1 purchase (t0+30m) WITH a click 10m before; user 2
               purchase (t0+40m) with NO click ever; watermark pushers
               on both sides at t0+4h (users 98/99).
      batch 1: far-future rows on BOTH sides (t0+8h; the global
               watermark is the min over the two inputs) — at its end
               the watermark (t0+6h) clears every batch-0 purchase's
               join window.
      batch 2: trivial flush batch so expired state is emitted.
    Expected: (purchase 1, click 11) matched; purchase 2 null-padded;
    the pusher purchase (user 99) also null-padded once expired."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "lo_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    f1 = src_dir / "b1.parquet"
    _write_events_file(
        f1,
        [
            (11, t0 + timedelta(minutes=20), 1, "click"),
            (1, t0 + timedelta(minutes=30), 1, "purchase"),
            (2, t0 + timedelta(minutes=40), 2, "purchase"),
            (5, t0 + timedelta(hours=4), 99, "purchase"),
            (6, t0 + timedelta(hours=4), 98, "click"),
        ],
    )
    f2 = src_dir / "b2.parquet"
    _write_events_file(
        f2,
        [
            (7, t0 + timedelta(hours=8), 97, "click"),
            # the global watermark is the MIN over BOTH inputs — the
            # purchases side needs its own far-future row to advance
            (9, t0 + timedelta(hours=8), 95, "purchase"),
        ],
    )
    f3 = src_dir / "b3.parquet"
    _write_events_file(f3, [(8, t0 + timedelta(hours=8), 96, "click")])
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))
    os.utime(f3, (1_000_000_200, 1_000_000_200))

    def stream():
        return sp.events_file_stream(
            spark,
            str(src_dir),
            max_files_per_trigger=1,
            path_glob="*.parquet",
        )

    out = _drain(
        sp.purchase_click_left_outer_stream(
            stream().filter(F.col("event_type") == "click"),
            stream().filter(F.col("event_type") == "purchase"),
        ),
        "t_lo_join",
        tmp_path,
        mode="append",
    ).toPandas()

    rows = {
        int(r.purchase_id): (
            None if pd.isna(r.click_id) else int(r.click_id)
        )
        for r in out.itertuples()
    }
    # matched purchase joins its click; unmatched purchases emit exactly
    # one null-padded row each after their join window expires
    assert rows.get(1) == 11, f"got {out.to_dict('records')}"
    assert 2 in rows and rows[2] is None
    assert 5 in rows and rows[5] is None
    # the t0+8h purchase pusher is still unexpired at drain end, so it
    # must NOT have emitted
    assert 9 not in rows
    assert len(out) == 3  # one row per purchase, no duplicates


def test_stream_stream_full_outer_null_emits_both_sides(spark, tmp_path):
    """X66 FULL OUTER: matched pairs emit immediately; an unmatched
    PURCHASE null-emits once the watermark clears p_ts; an unmatched
    CLICK null-emits once the watermark clears c_ts + 1h (its window
    end). Same 3-batch mtime-ordered schedule as the LEFT OUTER pin:
      batch 0: user 1 purchase+click (match); user 2 purchase with no
               click; user 3 click with no purchase; watermark pushers
               on both sides at t0+4h (users 98/99) — themselves
               unmatched, so they too must null-emit once expired.
      batch 1: t0+8h rows on BOTH sides -> global watermark t0+6h
               clears every batch-0 AND pusher window.
      batch 2: flush batch so expired state is emitted.
    Expected exactly 5 rows: (p1,c11) matched; p2, p5 null-click;
    c12, c6 null-purchase; batch-1 rows still unexpired -> absent."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "fo_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    f1 = src_dir / "b1.parquet"
    _write_events_file(
        f1,
        [
            (11, t0 + timedelta(minutes=20), 1, "click"),
            (1, t0 + timedelta(minutes=30), 1, "purchase"),
            (2, t0 + timedelta(minutes=40), 2, "purchase"),
            (12, t0 + timedelta(minutes=50), 3, "click"),
            (5, t0 + timedelta(hours=4), 99, "purchase"),
            (6, t0 + timedelta(hours=4), 98, "click"),
        ],
    )
    f2 = src_dir / "b2.parquet"
    _write_events_file(
        f2,
        [
            (7, t0 + timedelta(hours=8), 97, "click"),
            (9, t0 + timedelta(hours=8), 95, "purchase"),
        ],
    )
    f3 = src_dir / "b3.parquet"
    _write_events_file(f3, [(8, t0 + timedelta(hours=8), 96, "click")])
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))
    os.utime(f3, (1_000_000_200, 1_000_000_200))

    def stream():
        return sp.events_file_stream(
            spark,
            str(src_dir),
            max_files_per_trigger=1,
            path_glob="*.parquet",
        )

    out = _drain(
        sp.purchase_click_full_outer_stream(
            stream().filter(F.col("event_type") == "click"),
            stream().filter(F.col("event_type") == "purchase"),
        ),
        "t_fo_join",
        tmp_path,
        mode="append",
    ).toPandas()

    def _i(v):
        return None if pd.isna(v) else int(v)

    pairs = {
        (_i(r.purchase_id), _i(r.click_id)) for r in out.itertuples()
    }
    assert (1, 11) in pairs  # matched pair, emitted on arrival
    assert (2, None) in pairs  # purchase with no click: null-padded
    assert (5, None) in pairs  # purchase-side pusher, unmatched
    assert (None, 12) in pairs  # click with no purchase: null-padded
    assert (None, 6) in pairs  # click-side pusher, unmatched
    # batch-1 rows (95/97) are unexpired at drain end: must not emit
    assert not any(p in (9,) or c in (7, 8) for p, c in pairs)
    assert len(out) == 5  # exactly one row per logical outcome
    # user_id is coalesced across sides: never null
    assert out["user_id"].notna().all()


def test_dedup_within_watermark_ttl_reemits_after_expiry(spark, tmp_path):
    """ST5 state-TTL semantics: dropDuplicatesWithinWatermark keeps a
    key's fingerprint only until the watermark passes its expiry — a
    duplicate that arrives while the fingerprint lives is suppressed;
    one that arrives after eviction is RE-EMITTED. This is exactly
    where it differs from plain dropDuplicates, whose streaming state
    never expires and therefore grows without bound.

    Spark evicts expired fingerprints at micro-batch END, so the
    duplicate in batch 1 is still checked against batch 0's fingerprint
    (suppressed) even though the watermark already passed its expiry;
    the batch-2 duplicate then finds the state gone and re-emits:
      batch 0: (user 1, click) at t0 emitted; pusher sets watermark to
               t0+2h, past the fingerprint's t0+1h expiry.
      batch 1: duplicate at t0+4h -> suppressed (eviction not yet run),
               and its own arrival re-arms nothing — the expired
               fingerprint is dropped at this batch's end.
      batch 2: duplicate at t0+4h10m -> re-emitted (state was gone)."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "ttl_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    f1 = src_dir / "b1.parquet"
    _write_events_file(
        f1,
        [(1, t0, 1, "click"), (90, t0 + timedelta(hours=3), 90, "seed")],
    )
    f2 = src_dir / "b2.parquet"
    _write_events_file(f2, [(2, t0 + timedelta(hours=4), 1, "click")])
    f3 = src_dir / "b3.parquet"
    _write_events_file(
        f3, [(3, t0 + timedelta(hours=4, minutes=10), 1, "click")]
    )
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))
    os.utime(f3, (1_000_000_200, 1_000_000_200))

    out = _drain(
        sp.dedup_stream(
            sp.events_file_stream(
                spark, str(src_dir), max_files_per_trigger=1,
                path_glob="*.parquet",
            ),
            keys=("user_id", "event_type"),
            watermark="1 hour",
        ),
        "t_ttl_dedup",
        tmp_path,
        mode="append",
    ).toPandas()
    clicks = out[out.event_type == "click"]
    assert sorted(clicks.event_id.tolist()) == [1, 3], (
        f"TTL dedup emitted {clicks.event_id.tolist()}"
    )


def test_rocksdb_state_store_matches_default(spark, sf_dir, tmp_path):
    """X78: the RocksDB state store — the provider production clusters
    run for large state (state lives off-heap/on-disk instead of in the
    JVM heap snapshot maps) — must produce byte-identical aggregation
    results to the default provider, and must actually engage (sst
    files in the checkpoint)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    rocks_ckpt = str(tmp_path / "ckpt_rocks")
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        agg = sp.tumbling_counts(sp.events_file_stream(spark, sf_dir))
        q = (
            agg.writeStream.format("memory")
            .queryName("t_rocks")
            .outputMode("complete")
            .option("checkpointLocation", rocks_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rocks = spark.sql(
            "SELECT * FROM t_rocks ORDER BY window_start, event_type"
        ).collect()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    default = _drain(
        sp.tumbling_counts(sp.events_file_stream(spark, sf_dir)),
        "t_rocks_default",
        tmp_path,
        mode="complete",
    )
    want = sorted(
        map(tuple, default.collect()),
        key=lambda t: (t[0], t[1] or ""),
    )
    got = sorted(map(tuple, rocks), key=lambda t: (t[0], t[1] or ""))
    assert got == want
    sst = [
        f
        for r, _, fs in os.walk(rocks_ckpt)
        for f in fs
        if f.endswith((".sst", ".zip")) or "rocksdb" in r.lower()
    ]
    assert sst, "RocksDB provider left no state artifacts in the checkpoint"


def test_chained_stateful_dedup_then_window(spark, sf_dir, events_batch, tmp_path):
    """X84: TWO stateful operators chained in ONE streaming query
    (dropDuplicatesWithinWatermark -> windowed aggregate) — legal since
    Spark 3.4/4 in append mode; historically this required two queries
    with an intermediate sink. The dedup key INCLUDES the window so the
    kept row's window assignment is deterministic regardless of arrival
    order, making the batch twin exact: distinct (window, type, user)
    counted per (window, type)."""
    src = sp.events_file_stream(spark, sf_dir)
    w = F.window("ts", "10 minutes")
    dd = (
        sp._with_watermark(src, "1 hour")
        .withColumn("win", w)
        # drop ts: the window struct inherits the event-time watermark,
        # and a stream may carry at most ONE event-time column into a
        # stateful operator (both ts and win qualify otherwise)
        .drop("ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "win"])
    )
    agg = dd.groupBy("win", "event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.col("win.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_users",
    )
    out = _drain(agg, "t_chain", tmp_path, mode="append").toPandas()
    exp = (
        events_batch.select(
            w.alias("win"), "event_type", "user_id"
        )
        .distinct()
        .groupBy("win", "event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_users",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    out = out.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    # append mode emits only watermark-closed windows; every emitted row
    # must match the batch twin exactly, and most windows must emit
    merged = out.merge(exp, on=key, suffixes=("_s", "_b"))
    assert len(merged) == len(out) > 0
    assert (merged["n_users_s"] == merged["n_users_b"]).all()
    assert len(out) >= 0.8 * len(exp)


def test_epoch_partitioned_rollup_matches_batch_and_replay(
    spark, tmp_path
):
    """start_rollup_stream (r12 soak shape, VERDICT r11 #6): per-batch
    partials land as __epoch partitions via dynamic overwrite — O(batch)
    per micro-batch regardless of MV age, where run_foreach_batch_rollup's
    whole-table upsert is O(total). The fold must still equal the batch
    groupBy across multiple epochs, and re-writing an epoch's own
    partition (the replay case) must leave the MV unchanged."""
    from datetime import datetime, timedelta

    src_dir = tmp_path / "mv2_events"
    src_dir.mkdir()
    t0 = datetime(2024, 1, 1)
    f1 = src_dir / "a.parquet"
    _write_events_file(
        f1, [(i, t0 + timedelta(minutes=i), i % 5, "view") for i in range(40)]
    )
    f2 = src_dir / "b.parquet"
    _write_events_file(
        f2,
        [(100 + i, t0 + timedelta(hours=1, minutes=i), i % 3, "click")
         for i in range(30)],
    )
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))

    table = str(tmp_path / "mv2_user_totals")
    q = sp.start_rollup_stream(
        sp.events_file_stream(
            spark, str(src_dir), max_files_per_trigger=1,
            path_glob="*.parquet"
        ),
        table,
        str(tmp_path / "ckpt_mv2"),
        key_cols=["user_id"],
        value_col="value",
        trigger_interval="200 milliseconds",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                done = (
                    spark.read.parquet(table)
                    .agg(F.sum("n_rows")).collect()[0][0] or 0
                ) >= 70
            except Exception:
                done = False  # table not committed yet / mid-write
            if done:
                break
            time.sleep(1)
    finally:
        q.stop()

    assert (
        spark.read.parquet(table).select("__epoch").distinct().count() >= 2
    )
    src = spark.read.parquet(str(src_dir))
    exp = (
        src.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    got = (
        sp.read_rollup(spark, table, ["user_id"])
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert (got["user_id"].values == exp["user_id"].values).all()
    assert (got["n_rows"].values == exp["n_rows"].values).all()
    assert (got["sum_value"].values == exp["sum_value"].values).all()

    # replay: dynamic-overwriting epoch 0's partition with its own rows
    # (what a restarted query's re-run of batch 0 does) changes nothing
    before = sorted(map(tuple, spark.read.parquet(table).collect()))
    epoch0 = spark.read.parquet(table).filter(F.col("__epoch") == 0)
    (
        epoch0.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(table)
    )
    after = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert before == after


def _write_epoch_table(spark, table, n_epochs=6, keys=4):
    for e in range(n_epochs):
        df = spark.createDataFrame(
            [(k, 10 + k + e, 1.5 * (k + 1)) for k in range(keys)],
            "user_id bigint, n_rows bigint, sum_value double",
        ).withColumn(
            "sum_value", F.col("sum_value").cast("decimal(18,2)")
        ).withColumn("__epoch", F.lit(e))
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(table)
        )


def test_fold_rollup_epochs_preserves_read_and_bounds_partitions(
    spark, tmp_path
):
    """The epoch fold (r12 MV maintenance): folding all but the newest
    keep_last_n epochs into one base partition leaves read_rollup's
    totals bit-identical and shrinks the partition count — the
    compaction that bounds the streaming sink's partition growth."""
    table = str(tmp_path / "fold_mv")
    _write_epoch_table(spark, table, n_epochs=6)
    before = sorted(
        map(tuple, sp.read_rollup(spark, table, ["user_id"]).collect())
    )
    n = sp.fold_rollup_epochs(spark, table, ["user_id"], keep_last_n=2)
    assert n == 4
    after = sorted(
        map(tuple, sp.read_rollup(spark, table, ["user_id"]).collect())
    )
    assert before == after
    eps = sorted(
        r["__epoch"]
        for r in spark.read.parquet(table).select("__epoch")
        .distinct().collect()
    )
    assert eps == [0, 4, 5]  # base epoch 0 + the two kept
    # idempotent: a second fold with nothing old enough is a no-op
    assert sp.fold_rollup_epochs(spark, table, ["user_id"], keep_last_n=2) == 0


def test_fold_rollup_epochs_recovers_crashed_commit(spark, tmp_path):
    """Crash discipline: a fold that died mid-commit (stage written,
    manifest present, SOME superseded partitions already hidden) is
    completed by the next fold_rollup_epochs call, and the recovered
    table reads identically. No crash point exposes a double count:
    the stage stays dot-hidden until every old partition is hidden."""
    import json

    table = str(tmp_path / "fold_crash_mv")
    _write_epoch_table(spark, table, n_epochs=6)
    before = sorted(
        map(tuple, sp.read_rollup(spark, table, ["user_id"]).collect())
    )
    # hand-build the staged fold of epochs 0-3 (what the fold writes)
    old = [0, 1, 2, 3]
    stage = os.path.join(table, sp._FOLD_STAGE)
    (
        spark.read.parquet(table)
        .where(F.col("__epoch").isin(old))
        .groupBy("user_id")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_value").alias("sum_value"),
        )
        .write.mode("overwrite")
        .parquet(stage)
    )
    with open(os.path.join(stage, "_MANIFEST.json"), "w") as fh:
        json.dump({"base": 0, "old": old}, fh)
    # simulate the crash: only ONE superseded partition got hidden
    os.rename(
        os.path.join(table, "__epoch=1"),
        os.path.join(table, ".trash_epoch=1"),
    )
    # mid-crash readers see an UNDERcount (epoch 1 hidden), never a
    # double count (the stage is dot-hidden)
    mid = sp.read_rollup(spark, table, ["user_id"]).agg(
        F.sum("n_rows")
    ).collect()[0][0]
    full = sum(r[1] for r in before)
    assert mid < full
    # recovery: the next fold call completes the crashed commit
    n = sp.fold_rollup_epochs(spark, table, ["user_id"], keep_last_n=2)
    assert n == len(old)
    after = sorted(
        map(tuple, sp.read_rollup(spark, table, ["user_id"]).collect())
    )
    assert before == after
    assert not os.path.exists(stage)
    assert not any(p.startswith(".trash") for p in os.listdir(table))
