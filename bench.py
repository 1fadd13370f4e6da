"""Per-query timing rig for the declared queries.

Usage:
  python bench.py [QUERY ...] [--conf k=v ...] [--scaled DIR]

Runs the named declared queries (default: the whole registry) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric", "value"
(total sec), "unit", "queries": {name: sec}, "sf"}. The full record, with
per-query raw samples and stage totals, goes to bench_full.json.

- Each query is fully materialized through the noop sink (count() would
  let Catalyst prune the projection work away and under-report). It runs
  $SPARK_GRAFT_BENCH_RUNS times (default 3) and the min is kept: at
  min-of-2 a single local-mode scheduler spike on a sub-second query
  reads as a 2x regression.
- The suite runs of a query are tagged with the job group
  ``bench:<name>``. After its first run the rig reads the group's
  complete stages from Spark's status store (no UI server needed) and
  records ``stages``: stage count, tasks, shuffle read/write bytes and
  records, input bytes, and the one-task stages moving more than 64 MB.
- ``--conf k=v`` (repeatable) is passed to the session builder, for
  config A/B arms run as separate processes.
- ``--scaled DIR`` runs each query again at DIR in the same session and
  records ``scaled_sec``, ``wall_ratio`` and ``scaled_stages``.
- Before the timed loop one untimed tiny query runs a parquet scan, a
  pandas UDF, whole-stage codegen and a shuffle, so the session's
  warm-up does not land on run 1 of the first query.
- ``SPARK_GRAFT_BENCH_COLD=1`` releases every session-shared relation
  (the edgecache/sigcache registry) once, before the suite, and records
  each query's first run as ``cold_first_run``: as in a fresh
  deployment, a relation shared by several queries is built once, by
  the first of them.
- A query that raises is recorded under ``errors``; the run still covers
  every other query, then exits non-zero WITHOUT the result line, so a
  total is never printed short of a query.
"""

from __future__ import annotations

import argparse
import difflib
import gc
import json
import os
import re
import sys
import time
import traceback

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from data_engineering_1_spark.plans import registry  # noqa: E402
from data_engineering_1_spark.session import get_spark  # noqa: E402

# A stage is a scale hazard when ONE task carries real data volume (the
# shape of the r12 MBM regression, where AQE broadcast a 72M-pair grid and
# serialized the whole computation into a single task). One-task stages
# moving less (driver-side 1-row aggregates, broadcast builds, LIMIT
# tails) are normal.
_ONE_TASK_BYTES = 64 * 1024 * 1024


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str) -> None:
    """One untimed tiny query through what the first timed query would
    otherwise start: a parquet scan, a Python worker (pandas UDF),
    whole-stage codegen and a shuffle."""

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    materialize(
        nation.select(plus_one(F.col("n_nationkey")).alias("k"))
        .groupBy((F.col("k") % 5).alias("g"))
        .agg(F.sum("k").alias("s"))
    )


def stage_totals(spark, group: str) -> dict:
    """Totals over the complete stages of the jobs run under ``group``,
    read from the application status store."""
    jsc = spark.sparkContext._jsc.sc()
    # the status listener consumes job/stage events asynchronously
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    stage_ids: set[int] = set()
    for job_id in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        ids = store.job(job_id).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.length()))
    tot = {
        "n_stages": 0,
        "tasks": 0,
        "shuffle_read_bytes": 0,
        "shuffle_read_records": 0,
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "input_bytes": 0,
        "one_task_stages": [],
    }
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as e:
            # past spark.ui.retainedStages the store evicts the stages
            # with the oldest completion time; skipped stages have none,
            # so they go first
            if "NoSuchElementException" not in str(e.java_exception):
                raise
            continue
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        tot["n_stages"] += 1
        tot["tasks"] += st.numTasks()
        tot["shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["shuffle_read_records"] += st.shuffleReadRecords()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["shuffle_write_records"] += st.shuffleWriteRecords()
        tot["input_bytes"] += st.inputBytes()
        moved = st.inputBytes() + st.shuffleReadBytes()
        if st.numTasks() == 1 and moved > _ONE_TASK_BYTES:
            tot["one_task_stages"].append(
                {"stage_id": sid, "name": st.name()[:80], "bytes_moved": moved}
            )
    return tot


def time_runs(spark, fn, sf_dir: str, runs: int, group: str):
    """``runs`` noop-materialized wall times of ``fn`` at ``sf_dir``
    under job group ``group``, plus the first run's stage totals."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    samples: list[float] = []
    stages: dict = {}
    try:
        for i in range(runs):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 4))
            if i == 0:
                stages = stage_totals(spark, group)
    finally:
        sc._jsc.clearJobGroup()
    return samples, stages


def parse_args(argv: list[str] | None, names) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        metavar="K=V",
        help="extra Spark conf for the session (repeatable)",
    )
    ap.add_argument(
        "--scaled",
        metavar="DIR",
        help="also run each query at this fixture, in the same session",
    )
    args = ap.parse_args(argv)
    unknown = [q for q in args.queries if q not in names]
    if unknown:
        near = {
            q: [n for n in sorted(names) if q.lower() in n]
            or difflib.get_close_matches(q, names)
            for q in unknown
        }
        ap.error(
            "unknown queries: "
            + "; ".join(f"{q} (did you mean {near[q]!r}?)" for q in unknown)
        )
    bad = [c for c in args.conf if "=" not in c]
    if bad:
        ap.error(f"--conf takes k=v, got {bad!r}")
    return args


def main(argv: list[str] | None = None) -> None:
    queries = registry.get_queries()
    args = parse_args(argv, queries)
    names = args.queries or sorted(queries)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD", "").strip().lower() in {
        "1",
        "true",
        "yes",
        "on",
    }
    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark("bench", extra_conf=extra or None)

    warm_up(spark, sf_dir)
    if cold:
        # one empty registry for the whole suite, like a fresh deployment
        # (edgecache + sigcache + plans registrations share it)
        from data_engineering_1_spark.operators import edgecache

        edgecache.clear_cache()
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    stages: dict[str, dict] = {}
    cold_first: dict[str, float] = {}
    scaled_sec: dict[str, float] = {}
    wall_ratio: dict[str, float] = {}
    scaled_stages: dict[str, dict] = {}
    errors: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        at = sf_dir
        try:
            samples, stages[name] = time_runs(
                spark, fn, sf_dir, runs, f"bench:{name}"
            )
            timings[name] = min(samples)
            all_runs[name] = samples
            if cold:
                cold_first[name] = samples[0]
            if args.scaled:
                at = args.scaled
                big, scaled_stages[name] = time_runs(
                    spark, fn, args.scaled, runs, f"bench:{name}:scaled"
                )
                scaled_sec[name] = min(big)
                wall_ratio[name] = round(min(big) / timings[name], 2)
        except Exception as e:  # noqa: BLE001 — one failing query must
            # not end the sweep; it is reported and fails the run below
            traceback.print_exc()
            msg = f"{type(e).__name__}: {e}".splitlines()[0]
            errors[name] = {"at": at, "error": msg}
        # drop Python references to the finished query's DataFrames so
        # the ContextCleaner can free their checkpoint/broadcast blocks
        # between queries — accumulated dead blocks were the heap
        # pressure behind one ~10 s full-GC pause per full suite run
        # (lands on whichever 1-2 sub-second queries are in flight and
        # outlasts all of min-of-3)
        gc.collect()

    total = round(sum(timings.values()), 4)
    result = {
        "metric": "declared_query_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # The driver captures only the tail of stdout, which has truncated the
    # head of this (long) JSON line before — persist the full result, plus
    # per-query raw samples, to a file too.
    full = {
        **result,
        "runs_per_query": runs,
        "samples": all_runs,
        "stages": stages,
    }
    if extra:
        full["conf"] = extra
    if cold:
        full["cold_arm"] = True
        full["cold_first_run"] = cold_first
        full["cold_total_sec"] = round(sum(cold_first.values()), 4)
    if args.scaled:
        full["scaled_dir"] = args.scaled
        full["scaled_sec"] = scaled_sec
        full["wall_ratio"] = wall_ratio
        full["scaled_stages"] = scaled_stages
    if errors:
        full["errors"] = errors
    with open(os.path.join(REPO, "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    if errors:
        sys.exit(f"bench: {len(errors)} queries failed: {sorted(errors)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
