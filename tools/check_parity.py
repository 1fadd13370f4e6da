"""Local replica of the driver's correctness gate.

Runs every declared query (Spark) and its oracle twin (DuckDB) over the
same parquet fixtures, sorts columns by name and rows by value, and
compares exactly. Use before declaring any query.

Usage:
    python tools/check_parity.py [sf_dir] [query ...]
    python tools/check_parity.py /tmp/sf1_synth --json parity_10x.json \
        --oracle-timeout 300 --oracle-threads 8 --oracle-memory 24GB \
        --allow-documented

Scaled-fixture sweeps (VERDICT r10 #3): the r10 10x sweep stalled on
DUCKDB-side oracle mis-plans (triple self-joins grinding 55+ min at
full thread count, 78 GB spills), not on the engine. The harness now
caps the oracle legs (PRAGMA threads / memory_limit / temp_directory),
time-boxes each oracle via connection interrupt, and records
``oracle_timeout`` / ``oracle_error`` as first-class verdicts with the
documented resource/precondition classification attached — so one
command generates the complete sweep artifact end-to-end. ``--json``
merges into an existing artifact (resumable); ``--resume-from`` skips
the alphabetical prefix.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
import time
import traceback

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_engineering_1_spark.io import TABLES  # noqa: E402
from data_engineering_1_spark.plans import registry  # noqa: E402
from data_engineering_1_spark.session import get_spark  # noqa: E402

# Documented classifications for scaled-fixture sweeps (NOTES_r10 §9 /
# VERDICT r10): rows that fail AT 10x+ for reasons that are properties
# of the naive DuckDB oracle twin or of the stacked fixture, not of the
# engine. A mechanical verdict below still records what HAPPENED; the
# classification explains the expected cause when it does.
#
# The four oracle-resource rows are additionally VALUE-verified at
# scale by tools/verify_staged.py (r12): the same relations with
# intermediates staged as temp tables execute in seconds where the
# monolithic CTE spills — parity_staged_10x.json records all four
# value-exact at 10x, and tests/test_verify_staged.py pins
# staged == naive at fixture scale.
CLASSIFICATIONS: dict[str, str] = {
    "clustering_coefficient_copurchase": (
        "oracle-resource: DuckDB's triple self-join plan spills >78 GB "
        "at 10x and exhausts disk (r10; Spark leg 9.05 s)"
    ),
    "itemset3_orders": (
        "oracle-resource: DuckDB's triple self-join mis-plans at 10x "
        "and ground 55+ min before being killed (r10; Spark leg 15.4 s)"
    ),
    "edit1_name_join": (
        "oracle-resource: plain stacking gives every part name 9 "
        "verbatim clones (~100x pair space); the DuckDB twin ground "
        "past a 14-min solo box at 10x (r10; Spark leg completed)"
    ),
    "kcore_copurchase": (
        "oracle-resource: the recursive k-core unroll spills past the "
        "79 GB of free disk at 10x under BOTH 24 GB/8-thread and "
        "100 GB/32-thread oracle caps (r11; Spark leg 4.5 s; r10's "
        "uncapped pass had more RAM headroom before spill started)"
    ),
    "triangle_count_copurchase": (
        "oracle-resource: the triangle triple self-join twin spills "
        "past free disk at 10x under both capped and full-width "
        "oracles (r11; Spark leg 17.6 s; same class as "
        "clustering_coefficient)"
    ),
    "holm_bonferroni_tests": (
        "precondition: the offline inverse-normal critical ladder is a "
        "function of the m=25 nation test family; the stacked fixture's "
        "m=250 violates it for Spark and DuckDB alike (r9)"
    ),
    "benjamini_hochberg_tests": (
        "precondition: same m=25 critical ladder as holm_bonferroni "
        "(r9)"
    ),
    # r12: 30x-measured resource rows. Each naive one-statement twin
    # exhausts the box AT 30x even solo (disk spill past ~79 GB free /
    # OOM at 90 GB memory_limit, full thread width) — and each is
    # VALUE-verified at 30x by its staged twin (tools/verify_staged.py,
    # parity_staged_30x.json: all exact, oracle legs 4-11 s).
    "khop_copurchase_reach": (
        "oracle-resource at 30x: the nested 3-round BFS twin spills "
        "past free disk solo (r12); value-exact at 30x via the staged "
        "round-by-round twin"
    ),
    "cheapest_path_copurchase": (
        "oracle-resource at 30x: the nested min-plus relaxation twin "
        "spills past free disk solo at 90GB/full width (r12); "
        "value-exact at 30x via the staged round-by-round twin"
    ),
    "reach_2hop_parts": (
        "oracle-resource at 30x under concurrency; value-exact at 30x "
        "via the staged twin (r12)"
    ),
    "adamic_adar_linkpred": (
        "oracle-resource at 30x: the wedge-join twin spills past free "
        "disk (r12); value-exact at 30x via the staged twin"
    ),
    "label_prop_brands": (
        "oracle-resource at 30x: the 2-round vote pipeline re-derived "
        "inside one statement spills past free disk (r12); value-exact "
        "at 30x via the staged twin"
    ),
    "golden_record_fusion": (
        "oracle-resource at 30x: the one-statement ER stack twin "
        "(detect+cluster+fuse) spills past free disk solo (r12); "
        "value-exact at 30x via the staged twin (r13, after the "
        "connected-components pointer-jump fix — the r12 staged check "
        "caught the max_iter=25 non-convergence, 7411 vs 7391 rows)"
    ),
    "mutual_best_match": (
        "oracle-resource at 30x: the symmetric top-1 twin spills past "
        "free disk solo (478-686 s before dying, at 3002 Spark "
        "rows); value-exact at 30x via the staged bucketed twin "
        "(3002 pairs, 178.9 s oracle)"
    ),
    "temporal_reach_parts": (
        "oracle-resource at 30x: the nested temporal-BFS twin spills "
        "past free disk solo (459.6 s before dying, at 30 Spark "
        "rows); value-exact at 30x via "
        "the staged round-by-round twin (r13)"
    ),
    "pagerank_copurchase": (
        "oracle-resource at 30x: the nested 2-round power-iteration "
        "twin spills past free disk (r12); value-exact at 30x via the "
        "staged round-by-round twin (8 s)"
    ),
    "ppr_seed_part": (
        "oracle-resource at 30x: same nested-iteration family as "
        "pagerank (r12); value-exact at 30x via the staged twin (5 s)"
    ),
}

# Failure-mode gating (ADVICE r11): a classification may only excuse
# the failure SHAPE it documents. oracle-resource rows are excused for
# oracle_timeout or a resource-shaped oracle_error (spill disk / OOM);
# precondition rows for the documented raise on EITHER engine.
# value_mismatch and an oracle-resource row's spark_error stay red
# unconditionally — a real parity regression in a classified query can
# no longer hide behind its classification.
CLASSIFICATION_KIND: dict[str, str] = {
    "clustering_coefficient_copurchase": "oracle-resource",
    "itemset3_orders": "oracle-resource",
    "edit1_name_join": "oracle-resource",
    "kcore_copurchase": "oracle-resource",
    "triangle_count_copurchase": "oracle-resource",
    "khop_copurchase_reach": "oracle-resource",
    "cheapest_path_copurchase": "oracle-resource",
    "reach_2hop_parts": "oracle-resource",
    "adamic_adar_linkpred": "oracle-resource",
    "label_prop_brands": "oracle-resource",
    "golden_record_fusion": "oracle-resource",
    "mutual_best_match": "oracle-resource",
    "temporal_reach_parts": "oracle-resource",
    "pagerank_copurchase": "oracle-resource",
    "ppr_seed_part": "oracle-resource",
    "holm_bonferroni_tests": "precondition",
    "benjamini_hochberg_tests": "precondition",
}

_RESOURCE_ERR_RX = re.compile(
    r"no space left|out of memory|memory limit|cannot allocate"
    r"|OutOfMemory|failed to allocate",
    re.I,
)
# both precondition rows are the m=25 inverse-normal critical ladder:
# the stacked fixture's m=250 indexes past the 25-element array on
# both engines (NOTES_r10 §9)
_PRECONDITION_ERR_RX = re.compile(
    r"INVALID_ARRAY_INDEX|out of bounds|index .* out of range", re.I
)


def classification_excuses(name: str, verdict: str, error: str) -> bool:
    """True iff the failure matches its classification's documented
    shape — the only case ``--allow-documented`` may excuse."""
    kind = CLASSIFICATION_KIND.get(name)
    if kind == "oracle-resource":
        if verdict == "oracle_timeout":
            return True
        return verdict == "oracle_error" and bool(
            _RESOURCE_ERR_RX.search(error)
        )
    if kind == "precondition":
        return verdict in ("spark_error", "oracle_error") and bool(
            _PRECONDITION_ERR_RX.search(error)
        )
    return False

# Known-slow-but-finishing oracle legs get a wider box than the default
# (measured r10: mutual_best_match's quadratic oracle 660 s at 10x,
# ndcg_label_relevance 161 s).
ORACLE_TIMEOUT_OVERRIDES: dict[str, float] = {
    # quadratic all-pairs twin: 660 s at 10x uncapped (32 threads, r10);
    # scales ~linearly with 1/threads under the capped oracle
    "mutual_best_match": 3600.0,
    "ndcg_label_relevance": 600.0,
    # recursive-CTE frontier relaxation: completes at 10x (r10 sweep)
    # but needs ~5-10 min under the capped 8-thread oracle
    "cheapest_path_copurchase": 1200.0,
    # quadratic signature-overlap twin: completed at 10x in r10's
    # uncapped sweep; needs past 300s at threads=8
    "containment_pairs_docs": 900.0,
    # ER stack twin (detect+cluster+fuse in one recursive SQL):
    # completed at 10x in r10's uncapped sweep; >300s at threads=8
    "golden_record_fusion": 900.0,
    # iterative k-core peel twin (recursive CTE): completed at 10x in
    # r10's uncapped sweep; >300s at threads=8
    "kcore_copurchase": 900.0,
    # temporal BFS twin: exact at 10x in 382s at full oracle width
    # (r11 solo); give it the wide box so capped sweeps can finish it
    "temporal_reach_parts": 1800.0,
}


def duck_connection(
    sf_dir: str,
    *,
    threads: int = 0,
    memory: str = "",
    temp_dir: str | None = None,
) -> duckdb.DuckDBPyConnection:
    """Fixture-view connection; callers that sweep scaled fixtures pass
    the resource caps, plain-string callers (tests) get DuckDB defaults."""
    con = duckdb.connect()
    if threads:
        con.execute(f"PRAGMA threads={int(threads)}")
    if memory:
        con.execute(f"PRAGMA memory_limit='{memory}'")
    if temp_dir:
        os.makedirs(temp_dir, exist_ok=True)
        con.execute(f"PRAGMA temp_directory='{temp_dir}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_oracle(
    con: duckdb.DuckDBPyConnection, sql: str, timeout: float
) -> tuple[str, object]:
    """Execute the oracle in a worker thread under a wall-clock box.
    Returns ('ok', df) | ('error', exc_string) | ('timeout', None).
    On timeout the connection is interrupted; the caller must rebuild
    it (a grinding operator tree may not honor the interrupt
    promptly)."""
    result: dict[str, object] = {}

    def work() -> None:
        try:
            result["df"] = con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001 — recorded, not hidden
            result["err"] = f"{type(exc).__name__}: {exc}"

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        try:
            con.interrupt()
        except Exception:
            pass
        t.join(30)
        return "timeout", None
    if "err" in result:
        return "error", result["err"]
    return "ok", result["df"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df.reset_index(drop=True)
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    s = normalize(spark_df)
    d = normalize(duck_df)
    if len(s) != len(d):
        return problems
    for col in s_cols:
        sv, dv = s[col], d[col]
        try:
            eq = (sv.isna() & dv.isna()) | (sv == dv)
        except Exception:
            eq = sv.astype(str) == dv.astype(str)
        neq = (~eq.fillna(False)).to_numpy().nonzero()[0]
        if len(neq):
            i = int(neq[0])
            problems.append(
                f"col {col!r}: {len(neq)} mismatched values; first at row {i}: "
                f"spark={sv.iloc[i]!r} ({type(sv.iloc[i]).__name__}) "
                f"duck={dv.iloc[i]!r} ({type(dv.iloc[i]).__name__})"
            )
    # dtype visibility (schema check is driver-side; surface differences)
    s_types = {c: str(spark_df[c].dtype) for c in s_cols}
    d_types = {c: str(duck_df[c].dtype) for c in d_cols}
    if s_types != d_types:
        diffs = {c: (s_types[c], d_types[c]) for c in s_cols if s_types[c] != d_types[c]}
        problems.append(f"dtype-diff (warn): {diffs}")
    return problems


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="subset of query names")
    ap.add_argument("--json", dest="json_out", default=None,
                    help="write/merge per-query verdict records here")
    ap.add_argument("--oracle-timeout", type=float, default=None,
                    help="per-oracle wall box in sec (default: none at "
                         "fixture scale; overrides table always applies)")
    ap.add_argument("--oracle-threads", type=int, default=8,
                    help="PRAGMA threads for the oracle (0 = DuckDB "
                         "default; r10's grinds ran at full width)")
    ap.add_argument("--oracle-memory", default="24GB",
                    help="PRAGMA memory_limit ('' = DuckDB default)")
    ap.add_argument("--temp-dir", default=None,
                    help="PRAGMA temp_directory for oracle spill")
    ap.add_argument("--resume-from", default=None,
                    help="skip queries alphabetically before this name")
    ap.add_argument("--stop-before", default=None,
                    help="stop at this name (exclusive) — with "
                         "--resume-from, lets one sweep be split into "
                         "alphabet ranges run in parallel and merged")
    ap.add_argument("--allow-documented", action="store_true",
                    help="scaled-sweep mode: a CLASSIFIED query failing "
                         "in exactly its documented shape (resource rows: "
                         "oracle_timeout / spill-or-OOM oracle_error; "
                         "precondition rows: the m=25 ladder raise) does "
                         "not redden the exit code. Default OFF — at "
                         "driver-fixture scale every classified row must "
                         "pass outright, and value_mismatch is never "
                         "excused anywhere (ADVICE r11)")
    ap.add_argument("--skip", default="",
                    help="comma-separated query names to skip")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    only = set(args.queries)
    skip = {s for s in args.skip.split(",") if s}
    # 4g result cap: the gate COLLECTS both sides to compare, and the
    # plain-stacked 10x fixture's output-bound queries (every part name
    # has 9 verbatim clones, so the ER pair emitters legitimately
    # return ~100x the rows) overflow the 1g default — a harness
    # capacity knob, not an engine property.
    spark = get_spark(
        "parity-check",
        extra_conf={"spark.driver.maxResultSize": "4g"},
    )
    con = duck_connection(
        args.sf_dir,
        threads=args.oracle_threads,
        memory=args.oracle_memory,
        temp_dir=args.temp_dir,
    )
    queries = registry.get_queries()
    oracles = registry.get_oracles()
    failed, ok, rows_only, boxed = [], [], [], []
    records: dict[str, dict] = {}
    if args.json_out and os.path.exists(args.json_out):
        with open(args.json_out) as fh:
            records = {r["query"]: r for r in json.load(fh)["records"]}
    import gc

    def save() -> None:
        if not args.json_out:
            return
        payload = {
            "sf_dir": os.path.realpath(args.sf_dir),
            "oracle_caps": {
                "threads": args.oracle_threads,
                "memory_limit": args.oracle_memory,
                "default_timeout_sec": args.oracle_timeout,
                "timeout_overrides": ORACLE_TIMEOUT_OVERRIDES,
            },
            "records": sorted(records.values(), key=lambda r: r["query"]),
        }
        tmp = args.json_out + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh, indent=1)
        os.replace(tmp, args.json_out)

    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        if name in skip:
            continue
        if args.resume_from and name < args.resume_from:
            continue
        if args.stop_before and name >= args.stop_before:
            break
        # per-query gc (the bench.py r9 discipline): a long sweep
        # accumulates py4j-referenced DataFrames whose JVM broadcasts/
        # checkpoints the ContextCleaner can only free once Python
        # drops the refs; collect each round so a 347-query sweep
        # cannot build heap pressure.
        gc.collect()
        rec: dict = {"query": name}
        if name in CLASSIFICATIONS:
            rec["classification"] = CLASSIFICATIONS[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — recorded, not hidden
            print(f"[FAIL] {name}: spark raised\n{traceback.format_exc()}")
            failed.append(name)
            msg = str(exc).strip().splitlines()
            rec.update(
                verdict="spark_error",
                error=f"{type(exc).__name__}: {msg[0][:300] if msg else ''}",
                spark_sec=round(time.time() - t0, 1),
            )
            records[name] = rec
            save()
            continue
        rec["spark_sec"] = round(time.time() - t0, 1)
        rec["rows_spark"] = len(sdf)
        if name not in oracles:
            rows_only.append(name)
            print(f"[rows-only] {name}: {len(sdf)} rows ({rec['spark_sec']}s)")
            rec["verdict"] = "rows_only"
            records[name] = rec
            save()
            continue
        timeout = ORACLE_TIMEOUT_OVERRIDES.get(name, args.oracle_timeout)
        t1 = time.time()
        if timeout:
            status, payload = run_oracle(con, oracles[name], timeout)
        else:
            try:
                status, payload = "ok", con.execute(oracles[name]).df()
            except Exception as exc:  # noqa: BLE001
                status, payload = "error", f"{type(exc).__name__}: {exc}"
        rec["oracle_sec"] = round(time.time() - t1, 1)
        if status == "timeout":
            boxed.append(name)
            note = " [documented]" if name in CLASSIFICATIONS else ""
            print(
                f"[oracle_timeout] {name}: oracle exceeded {timeout:.0f}s"
                f"{note} (spark leg ok: {rec['rows_spark']} rows in "
                f"{rec['spark_sec']}s)"
            )
            rec["verdict"] = "oracle_timeout"
            rec["timeout_sec"] = timeout
            records[name] = rec
            save()
            # the interrupted connection may be wedged mid-operator;
            # rebuild so the rest of the sweep runs on a clean one
            try:
                con.close()
            except Exception:
                pass
            con = duck_connection(
                args.sf_dir,
                threads=args.oracle_threads,
                memory=args.oracle_memory,
                temp_dir=args.temp_dir,
            )
            continue
        if status == "error":
            failed.append(name)
            print(f"[FAIL] {name}: duckdb raised {payload}")
            rec["verdict"] = "oracle_error"
            rec["error"] = str(payload)
            records[name] = rec
            save()
            continue
        ddf = payload
        rec["rows_oracle"] = len(ddf)
        problems = compare(name, sdf, ddf)
        hard = [p for p in problems if not p.startswith("dtype-diff")]
        if hard:
            failed.append(name)
            print(f"[FAIL] {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"       - {p}")
            rec["verdict"] = "value_mismatch"
            rec["problems"] = hard[:5]
        else:
            ok.append(name)
            warn = "; ".join(p for p in problems if p.startswith("dtype-diff"))
            extra = f" [{warn}]" if warn else ""
            print(f"[ok]   {name}: {len(sdf)} rows ({time.time()-t0:.1f}s){extra}")
            rec["verdict"] = "ok"
        records[name] = rec
        save()
    # Classified rows that fail for exactly their documented reason are
    # the EXPECTED outcome of a SCALED sweep (precondition rows raise on
    # the stacked fixture every time; oracle-resource rows time out or
    # spill out) — with --allow-documented they're reported separately
    # so the one-command artifact run exits green unless something
    # UNDOCUMENTED broke. The excuse is gated on the failure SHAPE
    # matching the classification (ADVICE r11): a value_mismatch — or a
    # kcore spark_error — stays red even on a classified row, and
    # without the flag every classified row must pass outright.
    def _excused(n: str) -> bool:
        if not args.allow_documented:
            return False
        r = records.get(n, {})
        return classification_excuses(
            n, r.get("verdict", ""), r.get("error", "")
        )

    documented = [n for n in failed if _excused(n)]
    undocumented_fail = [n for n in failed if n not in documented]
    undocumented_box = [n for n in boxed if not _excused(n)]
    print(
        f"\n{len(ok)} ok, {len(undocumented_fail)} failed, "
        f"{len(boxed)} oracle-boxed, {len(documented)} documented-"
        f"classified, {len(rows_only)} rows-only of {len(queries)} declared"
    )
    if documented:
        print(f"documented classifications hit: {documented}")
    if undocumented_fail:
        print(f"UNDOCUMENTED failures: {undocumented_fail}")
    if undocumented_box:
        print(f"undocumented oracle timeouts: {undocumented_box}")
    return 1 if (undocumented_fail or undocumented_box) else 0


if __name__ == "__main__":
    sys.exit(main())
