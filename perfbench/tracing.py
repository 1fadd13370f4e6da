"""Tracing for the benchmark's traced runs.

Spans are recorded around the benchmark's calls into the package's public
functions: each layer's functions are wrapped in place before the plan
modules are imported, so names that plan modules bind at import time get
the wrapped function too. Spans stay in memory and are written out at the
end. Spark's own task metrics come from the event log: every operation
runs under its own job group, and a job is charged to the innermost span
open when it was submitted.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import sys
import time
from contextlib import contextmanager

PKG = "data_engineering_1_spark"

# layer -> (module, public names). A span over a lazy function covers plan
# construction only; the workloads time execution separately.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "io": ("io", ("load_table",)),
    "edgecache": ("operators.edgecache", (
        "copurchase_items", "copurchase_pairs", "copurchase_und", "copurchase_edges",
        "copurchase_edges_distinct", "copurchase_user_items", "copurchase_supp",
        "copurchase_pair_counts", "copurchase_deg", "copurchase_oriented",
        "copurchase_oriented_adj", "session_cached", "durable_read_or_build")),
    "sigcache": ("operators.sigcache", (
        "document_signatures", "document_fingerprints", "document_shingle_arrays",
        "document_neardup_pairs", "document_neardup_components")),
    "graph": ("operators.graph", (
        "pagerank", "bfs_hops", "kcore_peel", "kcore_degree_rounds", "hits_bipartite",
        "personalized_pagerank", "min_plus_hops")),
    "chunking": ("operators.chunking", ("clean_documents", "chunk_text", "chunk_documents")),
    "textanalysis": ("operators.textanalysis", ("tokens", "word_counts", "quality_features", "tf_idf")),
    "dedup": ("operators.dedup", (
        "exact_dedup", "minhash_signatures", "lsh_candidate_pairs", "simhash",
        "simhash_neardup_pairs", "jaccard_pairs")),
    "components": ("operators.components", ("connected_components",)),
    "pdf": ("sources.pdf", ("extract_chunks", "extract_paragraphs", "scan_pdf_dir")),
    "embedding": ("functions.embedding", ("hash_embed_texts", "get_embedder")),
    "similarity": ("operators.similarity", (
        "topk_by_cosine", "label_centroids", "ivf_assign", "ivf_topk_search")),
    "qa": ("operators.qa", ("answer_with_sources", "generate_answer")),
}


# Called inside pandas UDFs through their home module's globals: wrapping
# it there would ship the tracer to the Python workers. The call made in
# this process (the query embedding in ``operators.qa``) is still wrapped.
_NOT_IN_HOME = {"hash_embed_texts"}


class Tracer:
    """In-memory span recorder. ``op`` is the operation id (one question,
    one query run, one pass) shared by the spans opened inside it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every LAYERS function in its home module and in each
        already-imported package module that bound it by name."""
        for mod_name, _ in LAYERS.values():
            importlib.import_module(f"{PKG}.{mod_name}")
        importlib.import_module(f"{PKG}.warehouse")
        for layer, (mod_name, names) in LAYERS.items():
            home = sys.modules[f"{PKG}.{mod_name}"]
            for name in names:
                orig = getattr(home, name)
                traced = self.wrap(layer, f"{mod_name}.{name}", orig)
                for mod in list(sys.modules.values()):
                    if mod is home and name in _NOT_IN_HOME:
                        continue
                    if (getattr(mod, "__name__", "") or "").startswith(PKG) and \
                            getattr(mod, name, None) is orig:
                        setattr(mod, name, traced)
        from data_engineering_1_spark import warehouse

        for name in ("build", "load", "stats"):
            setattr(warehouse.ChunkWarehouse, name, self.wrap(
                "warehouse", f"warehouse.ChunkWarehouse.{name}",
                getattr(warehouse.ChunkWarehouse, name)))

    def layer_table(self, jobs: dict[int, dict]) -> dict[str, dict]:
        """Per layer: calls, total and self seconds (self = duration minus
        the time child spans cover), and the jobs submitted while the
        layer's own code, not a child's, was running."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        owner = {}
        for job_id, job in jobs.items():
            t = job["submit"]
            best = None
            for s in self.spans:
                if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
                    best = s
            if best is not None:
                owner[job_id] = best["layer"]
        table: dict[str, dict] = {}
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            covered = _union([(c["start"], c["end"] or c["start"]) for c in children.get(s["id"], [])])
            row = table.setdefault(s["layer"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
            row["calls"] += 1
            row["self_s"] += dur - covered
            if s["parent"] is None or self.spans[s["parent"]]["layer"] != s["layer"]:
                row["total_s"] += dur
        for layer in owner.values():
            table.setdefault(layer, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})["jobs"] += 1
        return table

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(log_dir: str, app_id: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Jobs and per-stage task totals from the uncompressed event log of
    application ``app_id``.

    jobs: id -> {group, submit, end, stages} (times in epoch seconds);
    stages: id -> {tasks, run_s, cpu_s, gc_s, shuffle_write_b, spill_b}."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/*{app_id}*", recursive=True)):
        try:
            fh = open(path)
        except (IsADirectoryError, PermissionError):
            continue
        with fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif '"Event":"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_b": 0, "spill_b": 0})
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def exec_totals(jobs: dict[int, dict], stages: dict[int, dict], group_prefix: str) -> dict:
    """Spark execution totals over the jobs whose group starts with
    ``group_prefix``: jobs, tasks, task seconds, the wall time some job
    was running, shuffle bytes, spill and GC. A stage shared by several
    jobs is counted once."""
    mine = [j for j in jobs.values() if (j["group"] or "").startswith(group_prefix)]
    seen: set[int] = set()
    tot = {"jobs": len(mine), "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for j in mine:
        for sid in j["stages"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            st = stages[sid]
            tot["tasks"] += st["tasks"]
            tot["task_s"] += st["run_s"]
            tot["cpu_s"] += st["cpu_s"]
            tot["gc_s"] += st["gc_s"]
            tot["shuffle_write_mb"] += st["shuffle_write_b"] / 1e6
            tot["spill_mb"] += st["spill_b"] / 1e6
    tot["job_s"] = _union([(j["submit"], j["end"] or j["submit"]) for j in mine])
    return tot
