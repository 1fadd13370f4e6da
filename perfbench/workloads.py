"""The benchmark's workloads.

Both workloads have the same phases, so every metric exists on both:
set-up (see ``run.py``), cold and warm.

``rag`` is the reference's own product: ingest a directory of PDFs into
the chunk warehouse, then answer questions with cited sources by exact
cosine top-5. Cold is one warehouse build into an empty directory (the
median CPU of BUILDS builds, each into a fresh directory); warm is one
question from a client asking in a closed loop (the median CPU of one
question). It is the only workload that runs ``pdf``, ``embedding``,
``warehouse``, ``similarity`` and ``qa``, and it bypasses the memo tiers
and the plans.

``queries`` runs a fixed mix of declared queries over seeded fixture
tables. Four share two memoised artifacts, two consumers each: the
co-purchase edge relations (``edgecache``, ``graph``) and the document
signatures and near-duplicate components (``sigcache``, ``dedup``,
``components``). Two are plain plans from two other plan modules.
Cold is a pass over the mix with every memo tier empty, built from each
query's median CPU over COLD_PASSES memo-cold runs; warm is a pass built
from each query's median CPU over the warm runs. The seed sets the
tables. The mix is fixed rather than drawn per seed because
the queries' costs differ by more than ten times at this scale, and a
per-seed draw would move the pass time by more than any bound the
benchmark could hold. Its order is fixed too: the first consumer of an
artifact pays for building it, and a seeded order moved the cold pass by
about a second.

Each workload returns ``{"attempted", "failed", "metrics"}``; with
tracing on, ``metrics`` holds the per-layer metrics instead of the
end-to-end ones.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import gen

SHARED = (
    "ppr_seed_part", "degree_assortativity_copurchase",   # graph: iterative + one-shot
    "dedup_clusters_lsh", "minhash_lsh_pairs",             # dedup: CC labels + signatures
)
# one per plan module: a relational join with top-k, and CPU-heavy
# row-local text work over a narrow table
PLAIN = ("q3_shipping_priority", "doc_char_entropy")
# the query that builds each artifact runs first, its second consumer later
ORDER = ("ppr_seed_part", "dedup_clusters_lsh", "q3_shipping_priority",
         "degree_assortativity_copurchase", "minhash_lsh_pairs", "doc_char_entropy")
BUILDS = 3
MIN_QUESTIONS = 12
WARMUP_QUESTIONS = 4
COLD_PASSES = 2
WARM_PASSES = 4


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def _end_to_end(run, cold_cpu_s: float, warm_cpu_ms: float) -> dict:
    return {
        "setup_s": _metric(run.setup_s, "s"),
        "cold_cpu_s": _metric(cold_cpu_s, "s"),
        "warm_cpu_ms": _metric(warm_cpu_ms, "ms"),
    }


def _phase_layers(run, jobs, stages, cold_walls: list[float], warm_walls: list[float]) -> tuple[dict, dict, dict]:
    """Per-layer metrics every workload has: the session, and for the
    cold and warm phases, per operation, the wall time and its split
    between time with no Spark job running (Python plan construction,
    planning, scheduling gaps) and time with one running, plus Spark's
    task totals. Task CPU against the end-to-end CPU shows how much of an
    operation's cost is outside Spark's tasks (Python, planning, compiler,
    GC)."""
    from tracing import exec_totals

    c = exec_totals(jobs, stages, "cold:")
    w = exec_totals(jobs, stages, "warm:")
    nc, cold_wall = len(cold_walls), sum(cold_walls)
    n, warm_wall = len(warm_walls), sum(warm_walls)
    return {
        "session.start_s": _metric(run.info["session_start_s"], "s"),
        "session.warmup_s": _metric(run.info["warmup_s"], "s"),
        "session.jvm_peak_rss_mb": _metric(run.info["jvm_peak_rss_mb"], "MB"),
        "cold.between_jobs_s_per_op": _metric((cold_wall - c["job_s"]) / nc, "s"),
        "cold.job_s_per_op": _metric(c["job_s"] / nc, "s"),
        "cold.jobs_per_op": _metric(c["jobs"] / nc, "count"),
        "cold.tasks_per_op": _metric(c["tasks"] / nc, "count"),
        "cold.task_s_per_op": _metric(c["task_s"] / nc, "s"),
        "cold.task_cpu_s_per_op": _metric(c["cpu_s"] / nc, "s"),
        "cold.wall_s_per_op": _metric(cold_wall / nc, "s"),
        "cold.core_util": _metric(c["task_s"] / (cold_wall * run.cores), "ratio"),
        "cold.shuffle_write_mb_per_op": _metric(c["shuffle_write_mb"] / nc, "MB"),
        "warm.between_jobs_ms_per_op": _metric(1000 * (warm_wall - w["job_s"]) / n, "ms"),
        "warm.job_ms_per_op": _metric(1000 * w["job_s"] / n, "ms"),
        "warm.jobs_per_op": _metric(w["jobs"] / n, "count"),
        "warm.tasks_per_op": _metric(w["tasks"] / n, "count"),
        "warm.task_ms_per_op": _metric(1000 * w["task_s"] / n, "ms"),
        "warm.task_cpu_ms_per_op": _metric(1000 * w["cpu_s"] / n, "ms"),
        "warm.wall_ms_per_op": _metric(1000 * warm_wall / n, "ms"),
        "warm.core_util": _metric(w["task_s"] / (warm_wall * run.cores), "ratio"),
    }, c, w


def _finish_trace(run, cold_walls, warm_walls, cold_cpu_s, warm_cpu_ms, extra_layers) -> tuple[dict, dict]:
    """Stop the session (flushing the event log), then compute the
    per-layer metrics and write the spans and the layer table."""
    from tracing import read_event_log

    app_id = run.spark.sparkContext.applicationId
    run.spark.stop()
    run.spark = None
    jobs, stages = read_event_log(run.event_dir, app_id)
    e2e = _end_to_end(run, cold_cpu_s, warm_cpu_ms)
    layers, c, w = _phase_layers(run, jobs, stages, cold_walls, warm_walls)
    table = run.tracer.layer_table(jobs)
    detail = {k: round(v, 6) if isinstance(v, float) else v for k, v in extra_layers(jobs, stages).items()}
    detail.update({f"exec.{run.args.workload}.{k}": round(v, 6) for k, v in w.items()})
    detail.update({f"exec.{run.args.workload}.cold.{k}": round(v, 6) for k, v in c.items()})
    run.info["layers"] = {"modules": table, "metrics": detail}
    run.info["ops"] = {"cold": len(cold_walls), "warm": len(warm_walls)}
    run.info["spans"] = len(run.tracer.spans)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{run.args.workload}-seed{run.args.seed}.json")
    run.tracer.dump(path, {"workload": run.args.workload, "seed": run.args.seed,
                           "traced_end_to_end": e2e, "layers": run.info["layers"]})
    print(f"# spans: {path}")
    print(f"# traced end-to-end: {json.dumps({k: v['value'] for k, v in e2e.items()})}")
    print(f"# {'layer':14s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} {'jobs':>5s}")
    for name, row in sorted(table.items()):
        print(f"# {name:14s} {row['calls']:6d} {row['total_s']:9.3f} {row['self_s']:9.3f} {row['jobs']:5d}")
    for k, v in sorted(detail.items()):
        print(f"# {k} = {v}")
    return layers, {k: v["value"] for k, v in e2e.items()}


# --------------------------------------------------------------------- rag


def _exact_topk(mat, norms, ids, qvec, k=5):
    """Brute-force cosine in numpy with the engine's arithmetic: a
    left-to-right float64 dot, rounded to 6 places, ties broken by id."""
    import numpy as np

    q = np.asarray(qvec, dtype=np.float32).astype(np.float64)
    dot = np.zeros(len(ids))
    qq = 0.0
    for j in range(mat.shape[1]):
        dot = dot + mat[:, j] * q[j]
        qq = qq + q[j] * q[j]
    sims = dot / (norms * np.sqrt(qq))
    order = sorted(range(len(ids)), key=lambda i: (-round(float(sims[i]), 6), ids[i]))
    return sims, order[:k]


def _answer_ok(ans, sims, top, ids, pos, tol=2e-6) -> bool:
    """The answer's ids equal the brute-force top-k; where rounding can
    differ, accept any id whose similarity ties the k-th within ``tol``."""
    got = [s["metadata"]["chunk_id"] for s in ans["sources"]]
    want = [ids[i] for i in top]
    if got == want:
        return True
    if len(got) != len(want) or len(set(got)) != len(got):
        return False
    kth = sims[top[-1]]
    for g, s in zip(got, ans["sources"]):
        i = pos.get(g)
        if i is None or abs(sims[i] - s["similarity"]) > tol:
            return False
        if g not in want and sims[i] < kth - tol:
            return False
    return True


def rag(run) -> dict:
    import numpy as np
    import pyarrow.parquet as pq

    pdf_dir = os.path.join(run.tmp, "pdfs")
    data = gen.rag_corpus(run.rng, pdf_dir, n_questions=400)
    run.info["sizes"] = {"files": data["files"], "pages": data["pages"],
                         "paragraphs": len(data["paragraphs"]), "bytes": data["bytes"],
                         "expected_chunks": gen.expected_chunks(data["paragraphs"])}

    def warm_up(spark):
        spark.read.format("binaryFile").load(pdf_dir).write.format("noop").mode("overwrite").save()

    run.setup(warm_up)
    from data_engineering_1_spark.operators import qa
    from data_engineering_1_spark.warehouse import ChunkWarehouse

    spark = run.spark
    attempted = failed = 0
    # cold: BUILDS warehouse builds, each into a fresh, empty directory,
    # after one untimed build that loads and compiles the ingest path.
    # cold_cpu_s is the median CPU of the timed builds.
    # warm: one client asking questions of the first warehouse in a closed
    # loop for --seconds, after WARMUP_QUESTIONS untimed ones (the JIT is
    # still compiling the question path). warm_cpu_ms is the median CPU of
    # one question.
    expected = run.info["sizes"]["expected_chunks"]
    questions = data["questions"]
    ingest, asks, answers = [], [], []
    emb = None

    def ask(phase: str) -> None:
        nonlocal attempted, failed
        q = questions[attempted % len(questions)]
        attempted += 1
        try:
            with run.op(phase, f"ask{attempted}") as cost:
                ans = qa.answer_with_sources(spark, q, emb, top_k=5, id_col="chunk_id")
        except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
            print(f"# OPERATION FAILED ask: {type(exc).__name__}: {exc}")
            failed += 1
            return
        answers.append((q, ans))
        if phase == "warm":
            asks.append(cost)

    for i in range(1 + BUILDS):
        kb = ChunkWarehouse(spark, os.path.join(run.tmp, f"kb{i}"))
        attempted += 1
        with run.op("cold" if i else "warmup", f"ingest{i}") as cost:
            stats = kb.build(pdf_dir, force_rebuild=True)
        if i:
            ingest.append(cost)
        if stats != {"chunk_count": expected, "document_count": expected}:
            print(f"# CHECK FAILED ingest: {stats} != {expected} chunks")
            failed += 1
        if emb is None:
            first_kb, emb = kb, kb.load("embeddings")
            for _ in range(WARMUP_QUESTIONS):
                ask("warmup")
    deadline = time.perf_counter() + run.args.seconds
    while time.perf_counter() < deadline or len(asks) < MIN_QUESTIONS:
        ask("warm")
    cold_cpu_s = statistics.median(c.cpu_s for c in ingest)
    warm_cpu_ms = 1000 * statistics.median(c.cpu_s for c in asks)
    lat_ms = sorted(1000 * c.wall_s for c in asks)
    run.info["ingest_wall_s"] = [round(c.wall_s, 4) for c in ingest]
    run.info["ingest_cpu_s"] = [round(c.cpu_s, 3) for c in ingest]
    run.info["ingest_pages_per_s"] = data["pages"] / statistics.median(c.wall_s for c in ingest)
    run.info["ask_exact_ms"] = {"n": len(lat_ms), "p50": statistics.median(lat_ms),
                                "p90": lat_ms[int(0.9 * (len(lat_ms) - 1))]}
    run.info["ask_cpu_ms"] = [round(1000 * c.cpu_s) for c in asks]

    # checks: exact answers against a numpy brute force over the stored vectors
    from data_engineering_1_spark.functions.embedding import hash_embed_texts
    import pandas as pd

    tbl = pq.read_table(first_kb.path("embeddings"), columns=["chunk_id", "embedding"])
    ids = tbl.column("chunk_id").to_pylist()
    mat = np.array(tbl.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
    norms = np.zeros(len(ids))
    for j in range(mat.shape[1]):
        norms = norms + mat[:, j] * mat[:, j]
    norms = np.sqrt(norms)
    pos = {c: i for i, c in enumerate(ids)}
    bad = 0
    for q, ans in answers:
        sims, top = _exact_topk(mat, norms, ids, hash_embed_texts(pd.Series([q]))[0])
        if not _answer_ok(ans, sims, top, ids, pos):
            bad += 1
    if bad:
        print(f"# CHECK FAILED exact answers: {bad} of {len(answers)} differ from brute force")
    failed += bad

    out = {"attempted": attempted, "failed": failed}
    if run.tracer is not None:
        out["metrics"], out["traced_end_to_end"] = _rag_trace(
            run, data, first_kb, emb, mat, norms, ids, ingest, asks, cold_cpu_s, warm_cpu_ms)
    else:
        out["metrics"] = _end_to_end(run, cold_cpu_s, warm_cpu_ms)
    return out


def _rag_trace(run, data, kb, emb, mat, norms, ids, ingest, asks, cold_cpu_s, warm_cpu_ms) -> tuple[dict, dict]:
    """Traced-run extras: IVF questions with recall against brute force,
    the IVF index build, and ingest stage times by prefix materialization
    (each figure is prefix i minus prefix i-1, labelled as such)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_engineering_1_spark.functions.embedding import get_embedder, hash_embed_texts
    from data_engineering_1_spark.operators import qa, similarity
    from data_engineering_1_spark.sources import pdf

    spark = run.spark
    pdf_dir = os.path.join(run.tmp, "pdfs")
    ingest_wall_s = statistics.median(c.wall_s for c in ingest)
    ivf_ms, recall = [], []
    for i, q in enumerate(data["questions"][-5:]):
        t0 = time.perf_counter()
        with run.op("ivf", f"ivf{i}"):
            ans = qa.answer_with_sources(spark, q, emb, top_k=5, id_col="chunk_id", method="ivf")
        ivf_ms.append(1000 * (time.perf_counter() - t0))
        _, top = _exact_topk(mat, norms, ids, hash_embed_texts(pd.Series([q]))[0])
        got = {s["metadata"]["chunk_id"] for s in ans["sources"]}
        recall.append(len(got & {ids[i] for i in top}) / 5)

    def timed_noop(df, group):
        """Best of two materializations: one prefix is a second or less
        here, so a single run is mostly noise."""
        spark.sparkContext.setJobGroup(group, group)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    labeled = emb.withColumn("label", F.pmod(F.xxhash64("chunk_id"), F.lit(16)).cast("int"))
    cents = similarity.label_centroids(labeled)
    assign = similarity.ivf_assign(labeled, cents, id_col="chunk_id")
    index_s = timed_noop(assign, "prefix:ivf_index")
    qdf = spark.createDataFrame([(hash_embed_texts(pd.Series([data["questions"][-1]]))[0],)],
                                "query_vec array<float>")
    probe = similarity.ivf_assign(qdf.select(F.lit(0).alias("chunk_id"), F.col("query_vec").alias("embedding")),
                                  cents, id_col="chunk_id", n_best=4).select("assigned_label")
    scanned = assign.join(probe, "assigned_label", "left_semi").count() / len(ids)

    paras = pdf.extract_paragraphs(pdf.scan_pdf_dir(spark, pdf_dir))
    extract_s = timed_noop(paras, "prefix:extract")
    n_paras = paras.count()
    chunk_prefix_s = timed_noop(pdf.extract_chunks(spark, pdf_dir), "prefix:chunk")
    embed_prefix_s = timed_noop(kb.load("chunks").select(get_embedder()("text")), "prefix:embed")
    written = _dir_mb(kb.root)
    run.info["jvm_peak_rss_mb"] = run.jvm_peak_rss_mb()

    def extra(jobs, stages):
        from tracing import exec_totals

        by_op: dict[str, int] = {}
        for j in jobs.values():
            by_op[j["group"] or ""] = by_op.get(j["group"] or "", 0) + 1
        exact_jobs = [v for k, v in by_op.items() if k.startswith("warm:")]
        ivf_jobs = [v for k, v in by_op.items() if k.startswith("ivf:")]
        warm = exec_totals(jobs, stages, "warm:")
        spans = run.tracer.spans
        embed_q = [s["end"] - s["start"] for s in spans
                   if s["name"] == "functions.embedding.hash_embed_texts" and (s["op"] or "").startswith("warm:")]
        topk = [s["end"] - s["start"] for s in spans
                if s["name"] == "operators.similarity.topk_by_cosine" and (s["op"] or "").startswith("warm:")]
        probe_s = [s["end"] - s["start"] for s in spans
                   if s["name"] == "operators.similarity.ivf_topk_search"]
        return {
            "traced.ask_ivf_p50_ms": statistics.median(ivf_ms),
            "traced.ask_ivf_n": len(ivf_ms),
            "ask_ivf_recall_at_5": sum(recall) / len(recall),
            "ingest_pages_per_s": data["pages"] / ingest_wall_s,
            "pdf.pages": data["pages"],
            "pdf.paragraphs": n_paras,
            "pdf.extract_s (prefix)": extract_s,
            "chunking.chunk_s (prefix marginal)": chunk_prefix_s - extract_s,
            "chunking.chunks": len(ids),
            "embedding.embed_s (prefix, chunks table to vectors)": embed_prefix_s,
            "warehouse.write_s (ingest minus prefixes)": ingest_wall_s - chunk_prefix_s - embed_prefix_s,
            "warehouse.written_mb": written,
            "warehouse.bytes_per_input_byte": written * 1e6 / data["bytes"],
            "qa.embed_query_ms": 1000 * statistics.median(embed_q),
            "qa.collect_ms": 1000 * warm["job_s"] / len(asks),
            "qa.jobs_per_question.exact": statistics.median(exact_jobs),
            "qa.jobs_per_question.ivf": statistics.median(ivf_jobs),
            "similarity.topk_ms (plan construction)": 1000 * statistics.median(topk),
            "similarity.ivf_index_ms (label_centroids + ivf_assign, executed)": 1000 * index_s,
            "similarity.ivf_probe_ms (plan construction)": 1000 * statistics.median(probe_s),
            "similarity.ivf_scanned_frac": scanned,
        }

    return _finish_trace(run, [c.wall_s for c in ingest], [c.wall_s for c in asks],
                         cold_cpu_s, warm_cpu_ms, extra)


# ----------------------------------------------------------------- queries


def _oracle(cache_dir: str, key: str, con, sql: str):
    """DuckDB oracle result, cached by (generator, seed, SQL): it does
    not depend on the code under test."""
    import pandas as pd

    path = os.path.join(cache_dir, hashlib.sha256(key.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    import check_parity

    status, df = check_parity.run_oracle(con, sql, 120)
    if status != "ok":
        raise RuntimeError(f"oracle {status}: {df}")
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _reset_memo_tiers(spark, warehouse_dir: str) -> None:
    """Empty every memo tier through its public API, as a fresh
    deployment finds them: the session registry, Spark's cache, the
    resolved-table memo, and a new, empty durable warehouse."""
    from data_engineering_1_spark import io
    from data_engineering_1_spark.operators import edgecache

    edgecache.clear_cache()
    spark.catalog.clearCache()
    io.clear_table_cache()
    os.environ["SPARK_GRAFT_WAREHOUSE"] = warehouse_dir


def queries(run) -> dict:
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    sf = os.path.join(run.tmp, "sf")
    fixture = gen.fixture_tables(run.rng, sf)
    run.info["sizes"] = {"rows": fixture["rows"], "bytes": fixture["bytes"], "queries": ORDER}

    def warm_up(spark):
        spark.read.parquet(os.path.join(sf, "lineitem.parquet")).write.format("noop").mode("overwrite").save()

    run.setup(warm_up)
    from data_engineering_1_spark.plans import registry

    fns = registry.get_queries()
    oracles = registry.get_oracles()
    spark = run.spark
    traced = run.tracer is not None
    attempted = failed = 0
    split: dict[str, list] = {"cold": [], "warm": []}
    costs: dict[str, dict[str, list]] = {"first": {}, "cold": {}, "warm": {}}
    resident = []

    def run_pass(phase: str, tag: str) -> tuple[float, dict]:
        nonlocal attempted, failed
        results = {}
        t_pass = time.perf_counter()
        for name in ORDER:
            attempted += 1
            try:
                with run.op(phase, f"{tag}{name}") as cost:
                    t0 = time.time()
                    df = fns[name](spark, sf)
                    t1 = time.time()
                    if traced:
                        df._jdf.queryExecution().executedPlan()
                    t2 = time.time()
                    results[name] = df.toPandas()
                    t3 = time.time()
            except Exception as exc:  # noqa: BLE001 — counted, the pass goes on
                print(f"# OPERATION FAILED {name}: {type(exc).__name__}: {str(exc)[:200]}")
                failed += 1
                continue
            costs[phase].setdefault(name, []).append(cost)
            if traced and phase in split:
                split[phase].append((name, t0, t1, t2, t3))
                resident.append(_storage_mb(spark))
        return time.perf_counter() - t_pass, results

    # cold: 1 + COLD_PASSES passes with every memo tier empty, the first in
    # this fresh process and the others after emptying the tiers again. The
    # first pass also loads and compiles every query's code path: it costs
    # about twice as much as the later ones and swings by a third between
    # identical runs, so it is reported but not gated. cold_cpu_s sums each
    # query's median CPU over the later passes, so it prices every artifact
    # build and durable write.
    first_s, first = run_pass("first", "")
    cold_walls, colds = [], [first]
    for i in range(COLD_PASSES):
        _reset_memo_tiers(spark, os.path.join(run.tmp, f"warehouse-cold{i}"))
        t, cold = run_pass("cold", f"{i}:")
        cold_walls.append(t)
        colds.append(cold)
    warm_s, warm = [], None
    deadline = time.perf_counter() + run.args.seconds
    while time.perf_counter() < deadline or len(warm_s) < WARM_PASSES:
        t, warm = run_pass("warm", f"{len(warm_s)}:")
        warm_s.append(t)
    # warm_cpu_ms sums each query's median CPU over the warm passes
    cold_cpu_s = sum(statistics.median(c.cpu_s for c in v) for v in costs["cold"].values())
    warm_cpu_ms = 1000 * sum(statistics.median(c.cpu_s for c in v) for v in costs["warm"].values())
    run.info["pass_walls_s"] = {"first": first_s, "cold": cold_walls, "warm": warm_s}
    run.info["first_pass_cpu_s"] = sum(c.cpu_s for v in costs["first"].values() for c in v)
    run.info["queries_cold_s"] = sum(statistics.median(c.wall_s for c in v) for v in costs["cold"].values())
    run.info["queries_warm_s"] = sum(statistics.median(c.wall_s for c in v) for v in costs["warm"].values())
    run.info["query_cpu_s"] = {ph: {k: [round(c.cpu_s, 2) for c in v] for k, v in d.items()}
                               for ph, d in costs.items()}

    # checks: each cold result against its DuckDB oracle, each warm result
    # against the cold one
    import check_parity

    con = check_parity.duck_connection(sf)
    with open(gen.__file__, "rb") as fh:
        gen_hash = hashlib.sha256(fh.read()).hexdigest()
    cache = os.path.join(root, ".perfbench_cache", "oracle")
    for name in ORDER:
        problems = []
        if name in oracles:
            want = _oracle(cache, f"{gen_hash}|{run.args.seed}|{oracles[name]}", con, oracles[name])
            for i, got in enumerate(colds):
                if name in got:
                    problems += [f"cold {i}: {p}" for p in check_parity.compare(name, got[name], want)]
        if name in warm and name in cold:
            problems += [f"warm vs cold: {p}" for p in check_parity.compare(name, warm[name], cold[name])]
        problems = [p for p in problems if "(warn)" not in p]
        if problems:
            print(f"# CHECK FAILED {name}: {problems[:2]}")
            failed += 1
    con.close()

    out = {"attempted": attempted, "failed": failed}
    if traced:
        run.info["jvm_peak_rss_mb"] = run.jvm_peak_rss_mb()
        out["metrics"], out["traced_end_to_end"] = _queries_trace(
            run, split, resident, cold_walls, warm_s, cold_cpu_s, warm_cpu_ms)
    else:
        out["metrics"] = _end_to_end(run, cold_cpu_s, warm_cpu_ms)
    return out


def _queries_trace(run, split, resident, cold_walls, warm_s, cold_cpu_s, warm_cpu_ms) -> tuple[dict, dict]:
    wh_mb = _dir_mb(os.environ["SPARK_GRAFT_WAREHOUSE"])

    def extra(jobs, stages):
        spans = run.tracer.spans
        out = {}
        for phase, rows in split.items():
            n_pass = len(cold_walls if phase == "cold" else warm_s)
            out[f"plans.{phase}.build_s"] = sum(r[2] - r[1] for r in rows) / n_pass
            out[f"plans.{phase}.plan_s"] = sum(r[3] - r[2] for r in rows) / n_pass
            out[f"plans.{phase}.execute_s"] = sum(r[4] - r[3] for r in rows) / n_pass
            out[f"plans.{phase}.build_jobs"] = sum(
                1 for j in jobs.values() for r in rows
                if (j["group"] or "").startswith(phase) and r[1] <= j["submit"] <= r[2]
                and (j["group"] or "").endswith(r[0])) / n_pass
            for stratum, names in (("shared", SHARED), ("plain", PLAIN)):
                out[f"plans.{stratum}.{phase}_s"] = sum(
                    r[4] - r[1] for r in rows if r[0] in names) / n_pass
        io = [s for s in spans if s["layer"] == "io"]
        out["io.load_table_calls"] = len(io)
        out["io.load_table_s"] = sum(s["end"] - s["start"] for s in io)
        # first call vs later calls per function, from an empty registry:
        # the first pass and the warm passes after the last memo-cold one
        calls: dict[str, int] = {}
        for s in spans:
            if s["layer"] == "edgecache" and ".copurchase_" in s["name"] and \
                    (s["op"] or "").startswith(("first:", "warm:")):
                calls[s["name"]] = calls.get(s["name"], 0) + 1
        out["edgecache.build_calls"] = len(calls)
        out["edgecache.hit_calls"] = sum(calls.values()) - len(calls)
        out["edgecache.resident_peak_mb"] = max(resident) if resident else 0.0
        durable = [s for s in spans if s["name"].endswith("durable_read_or_build")
                   and (s["op"] or "").startswith("cold:")]
        out["edgecache.durable_build_s"] = sum(s["end"] - s["start"] for s in durable) / COLD_PASSES
        out["edgecache.durable_written_mb"] = wh_mb
        sig = [s for s in spans if s["layer"] == "sigcache"]
        sig_cold = [s for s in sig if (s["op"] or "").startswith("cold:") and
                    (s["parent"] is None or spans[s["parent"]]["layer"] != "sigcache")]
        out["sigcache.build_s"] = sum(s["end"] - s["start"] for s in sig_cold) / COLD_PASSES
        out["sigcache.reuse_ratio"] = len(sig) / max(1, len({s["name"] for s in sig}))
        graph = [s for s in spans if s["layer"] == "graph"]
        out["graph.iter_s"] = sum(s["end"] - s["start"] for s in graph)
        out["graph.jobs"] = sum(
            1 for j in jobs.values() for s in graph if s["start"] <= j["submit"] <= s["end"])
        return out

    return _finish_trace(run, cold_walls, warm_s, cold_cpu_s, warm_cpu_ms, extra)


WORKLOADS = {"rag": rag, "queries": queries}
