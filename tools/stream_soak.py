"""Sustained-rate streaming state soak (VERDICT r11 #6).

X78 pins RocksDB result-equality on a 3-batch schedule; this tool runs
the two stateful pipelines whose STATE behavior matters at production
uptime for hundreds of micro-batches on the rate source, under the
RocksDB state store, and records per-batch latency and state-store
size over time:

  * dedup-TTL (X69): dropDuplicatesWithinWatermark on a GLOBALLY
    UNIQUE key (event_id) — every row inserts state, so the only thing
    bounding it is watermark TTL eviction. Healthy = numRowsTotal
    plateaus near rate x (watermark + trigger slack) and per-batch
    latency stays flat while total rows processed grows without bound.
  * incremental MV (X46): the epoch-partitioned rollup sink
    (streaming.pipelines.start_rollup_stream) — per-batch work is
    O(batch) by construction; the soak proves the sink's write cost
    does NOT grow with MV age.

Emits ONE JSON artifact with the full per-batch series plus a
summary verdict per pipeline: state_bounded (max state rows in the
final third <= 1.15x the middle third's max) and latency_flat (median
trigger latency in the final third <= 1.5x the first third's).

Usage:
    python tools/stream_soak.py --batches 250 --json /tmp/stream_soak.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_engineering_1_spark.session import get_spark  # noqa: E402
from data_engineering_1_spark.streaming import pipelines as P  # noqa: E402


def _collect_progress(q, n_batches: int, timeout_sec: float) -> list[dict]:
    """Poll recentProgress until n_batches distinct batch ids recorded
    (or timeout). recentProgress keeps ~100 entries, so poll faster
    than the trigger can rotate them out."""
    seen: dict[int, dict] = {}
    deadline = time.time() + timeout_sec
    while len(seen) < n_batches and time.time() < deadline:
        for p in q.recentProgress:
            bid = p["batchId"]
            if bid not in seen and p.get("numInputRows", 0) >= 0:
                rec = {
                    "batch_id": bid,
                    "input_rows": p.get("numInputRows", 0),
                    "trigger_ms": p.get("durationMs", {}).get(
                        "triggerExecution"
                    ),
                }
                ops = p.get("stateOperators") or []
                if ops:
                    op = ops[0]
                    rec["state_rows"] = op.get("numRowsTotal")
                    rec["state_mem_bytes"] = op.get("memoryUsedBytes")
                    cm = op.get("customMetrics") or {}
                    for k in (
                        "rocksdbTotalSstFilesBytes",
                        "rocksdbSstFileSize",
                    ):
                        if k in cm:
                            rec["rocksdb_sst_bytes"] = cm[k]
                            break
                seen[bid] = rec
        time.sleep(1.0)
    return [seen[k] for k in sorted(seen)]


def _thirds(vals: list[float]) -> tuple[list[float], list[float], list[float]]:
    n = len(vals)
    return vals[: n // 3], vals[n // 3 : 2 * n // 3], vals[2 * n // 3 :]


def _summarize(series: list[dict]) -> dict:
    # skip the warmup batch 0 (plan compilation dominates it)
    body = [r for r in series if r["batch_id"] > 0]
    lat = [r["trigger_ms"] for r in body if r.get("trigger_ms")]
    first, _, last = _thirds(lat)
    out = {
        "n_batches": len(series),
        "rows_processed": sum(r["input_rows"] for r in series),
        "latency_ms_p50_first_third": statistics.median(first),
        "latency_ms_p50_final_third": statistics.median(last),
        "latency_flat": statistics.median(last)
        <= 1.5 * statistics.median(first),
    }
    state = [r["state_rows"] for r in body if r.get("state_rows") is not None]
    if state:
        _, mid_s, last_s = _thirds(state)
        out.update(
            state_rows_max=max(state),
            state_rows_final=state[-1],
            state_bounded=max(last_s) <= 1.15 * max(mid_s) + 100,
        )
    return out


def soak_dedup_ttl(spark, n_batches: int, rps: int, trigger: str,
                   watermark: str) -> dict:
    ckpt = tempfile.mkdtemp(prefix="soak_dedup_ckpt_")
    events = P.rate_stream(spark, rows_per_second=rps)
    dedup = P.dedup_stream(events, keys=("event_id",), watermark=watermark)
    q = (
        dedup.writeStream.foreachBatch(lambda df, _i: df.count())
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=trigger)
        .start()
    )
    try:
        series = _collect_progress(q, n_batches, timeout_sec=n_batches * 10)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "pipeline": "dedup_ttl_x69",
        "rows_per_second": rps,
        "watermark": watermark,
        "series": series,
        "summary": _summarize(series),
    }


def soak_incremental_mv(spark, n_batches: int, rps: int, trigger: str) -> dict:
    ckpt = tempfile.mkdtemp(prefix="soak_mv_ckpt_")
    table = tempfile.mkdtemp(prefix="soak_mv_table_")
    events = P.rate_stream(spark, rows_per_second=rps)
    q = P.start_rollup_stream(
        events, table, ckpt, key_cols=["user_id"], trigger_interval=trigger
    )
    try:
        series = _collect_progress(q, n_batches, timeout_sec=n_batches * 10)
        mv_rows = P.read_rollup(spark, table, ["user_id"]).count()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(table, ignore_errors=True)
    return {
        "pipeline": "incremental_mv_x46",
        "rows_per_second": rps,
        "mv_keys_at_end": mv_rows,
        "series": series,
        "summary": _summarize(series),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--batches", type=int, default=250)
    ap.add_argument("--rps", type=int, default=5000)
    ap.add_argument("--trigger", default="500 milliseconds")
    ap.add_argument("--watermark", default="30 seconds")
    ap.add_argument("--json", dest="json_out", default=None)
    ap.add_argument(
        "--changelog",
        action="store_true",
        help=(
            "enable RocksDB changelog checkpointing: per-batch commits "
            "upload only the changelog, snapshots move to background "
            "maintenance (vs the default full-snapshot-per-commit, "
            "whose upload cost grows with LSM size even at bounded "
            "state rows)"
        ),
    )
    ap.add_argument(
        "--compact-on-commit",
        action="store_true",
        help="force RocksDB range compaction on every commit "
        "(bounds sst/tombstone growth at extra per-batch CPU)",
    )
    ap.add_argument(
        "--pipelines",
        default="dedup,mv",
        help="comma subset of dedup,mv (default both)",
    )
    args = ap.parse_args(argv)

    rocksdb_conf = {
        # the provider production clusters run (X78)
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": str(args.changelog).lower(),
        "spark.sql.streaming.stateStore.rocksdb.compactOnCommit": str(
            args.compact_on_commit
        ).lower(),
    }
    spark = get_spark("stream-soak", extra_conf=rocksdb_conf)
    wanted = {p.strip() for p in args.pipelines.split(",") if p.strip()}
    results = []
    if "dedup" in wanted:
        results.append(
            soak_dedup_ttl(
                spark, args.batches, args.rps, args.trigger,
                args.watermark,
            )
        )
    if "mv" in wanted:
        results.append(
            soak_incremental_mv(spark, args.batches, args.rps, args.trigger)
        )
    healthy = all(
        r["summary"].get("latency_flat", False)
        and r["summary"].get("state_bounded", True)
        for r in results
    )
    payload = {
        "batches_requested": args.batches,
        "state_store": "rocksdb",
        "changelog_checkpointing": args.changelog,
        "compact_on_commit": args.compact_on_commit,
        "healthy": healthy,
        "pipelines": results,
    }
    for r in results:
        print(json.dumps({r["pipeline"]: r["summary"]}))
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(payload, fh, indent=1)
        print(f"wrote {args.json_out}")
    return 0 if healthy else 1


if __name__ == "__main__":
    sys.exit(main())
