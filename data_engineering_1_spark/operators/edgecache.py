"""Session-scoped shared relations: the one memo tier.

Eleven declared graph queries (pagerank, personalized pagerank, k-hop
BFS, k-core, cheapest-path, clustering coefficient, triangle count,
modularity, label propagation, 2-hop reach, assortativity) all start
from the SAME base relation: the distinct (l_orderkey, l_partkey) items
self-join. This module builds it ONCE per (application, sf_dir) and
registers it as an eager local checkpoint, so every graph query after
the first reads the stored blocks instead of re-running the scan +
self-join. :func:`session_cached` is the registry every other shared
relation goes through too (``sigcache``'s document indexes, the
recommender neighbour lists, the ER cluster labels, the winnowing
fingerprints, the IVF index's centroids and assignment).

Each entry is an eager local checkpoint of ``build()``: the relation is
computed once, its blocks are held MEMORY_AND_DISK by the block
manager, and consumers plan against a ``Scan ExistingRDD`` with the
build lineage cut, so neither re-analysis nor a recompute of the build
reaches them. The checkpoint is taken from a briefly cached copy so it
carries the relation's measured size and row count
(:func:`_checkpoint`).
:func:`clear_cache` releases every entry's blocks and forgets it (test
hygiene, and the cold bench arm's reset before its suite).
A relation checkpointed elsewhere enters with :func:`register` and a
token; :func:`lookup` serves it only while the caller's token still
matches (the RAG warehouse's embeddings checkpoint, whose token is the
table's written file listing).

The graph family's two base relations:

- ``copurchase_pairs``  — (u, v) with u < v, one row per co-purchasing
  ORDER (multiplicity preserved; parallel pairs act as weights).
- ``copurchase_und``    — DISTINCT (u, v), u < v (the simple
  undirected graph).

The symmetrized multigraph view (``copurchase_edges``) explodes each
registered row into both directions — a narrow map, NOT stored twice.
The symmetrized SIMPLE relation (``copurchase_edges_distinct``) IS
registered: it is the working relation of the iterative graph family
(k-core, clustering coefficient, triangle count, 2-hop reach, ...),
several of which scan it once per round — ~2|E| rows of two BIGINTs is
far cheaper to hold than to re-explode inside every loop.

Cache safety: entries are keyed by (applicationId, realpath(sf_dir),
kind) and additionally pin the owning SparkSession by identity — a new
session (fresh driver run, test isolation) rebuilds rather than
reusing DataFrames whose analyzer state belongs to a dead session.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# key -> (owning session, checkpoint, token): see session_cached, register
_CACHE: dict[tuple[str, str, str], tuple[SparkSession, DataFrame, object]] = {}
# RLock (ADVICE r8): `build` recurses into session_cached (pairs ->
# items), and concurrent first calls must not race to checkpoint two
# copies of the same relation (one would leak, unreferenced but stored).
_LOCK = threading.RLock()


def _release(df: DataFrame) -> None:
    """Drop a registered checkpoint's blocks: the entry's logical plan
    is the LogicalRDD over the locally checkpointed RDD, and
    unpersisting that RDD frees what localCheckpoint stored."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(True)
    except Exception:
        pass


def _checkpoint(plan: DataFrame) -> DataFrame:
    """Eager local checkpoint of ``plan`` that plans with the relation's
    measured size and row count. A checkpoint carries its build plan's
    estimated statistics (join and aggregate estimates run to GBs for a
    relation of a few KB), which keeps the optimizer from broadcasting
    small entries; a materialized cache reports what it stored, so the
    checkpoint is taken from one and the cache is dropped."""
    cached = plan.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    df = cached.localCheckpoint()
    cached.unpersist()
    return df


def _key(spark: SparkSession, sf_dir: str, kind: str) -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, os.path.realpath(sf_dir), kind)


def _lookup(spark: SparkSession, key, token) -> DataFrame | None:
    """The live entry under ``key`` if ``spark`` owns it and its token
    equals ``token``; any other entry under ``key`` is released. The
    caller holds ``_LOCK``."""
    # evict entries owned by dead applications (ADVICE r8): their
    # DataFrames can never be returned again (the app-id key check
    # below misses them forever) and would otherwise linger in the
    # module dict for the process lifetime.
    for stale in [k for k in _CACHE if k[0] != key[0]]:
        _release(_CACHE.pop(stale)[1])
    hit = _CACHE.get(key)
    if hit is None:
        return None
    if hit[0] is spark and hit[2] == token:
        return hit[1]
    # same app, different session, or the entry's source has changed
    _release(_CACHE.pop(key)[1])
    return None


def session_cached(
    spark: SparkSession, sf_dir: str, kind: str, build
) -> DataFrame:
    """Register/read a session-scoped shared relation (ADVICE r13):
    modules register their own relations under a unique ``kind``
    without coupling to the registry internals (lock, eviction,
    session-identity pinning). The relation is built ONCE per
    (applicationId, realpath(sf_dir), kind) as an eager
    ``localCheckpoint`` and released by :func:`clear_cache` or app exit.

    Footprint note (ADVICE r13): every registered relation stays
    stored until app exit / clear_cache(); multi-sf_dir sessions hold
    one copy per sf_dir. Checkpoint blocks spill to disk under memory
    pressure, and the largest entries are fact-grain incidences
    (user_items) or |E|-grain edge lists — bounded well below the fact
    table they are derived from."""
    key = _key(spark, sf_dir, kind)
    with _LOCK:
        df = _lookup(spark, key, None)
        if df is None:
            df = _checkpoint(build())
            _CACHE[key] = (spark, df, None)
        return df


def register(
    spark: SparkSession, sf_dir: str, kind: str, df: DataFrame, token
) -> None:
    """Register ``df``, already an eager local checkpoint, under
    (applicationId, realpath(sf_dir), kind), releasing the entry it
    replaces. :func:`lookup` serves it only while the caller's token
    still equals ``token`` (the warehouse passes its table's written
    file listing)."""
    key = _key(spark, sf_dir, kind)
    with _LOCK:
        old = _CACHE.pop(key, None)
        if old is not None and old[1] is not df:
            _release(old[1])
        _CACHE[key] = (spark, df, token)


def lookup(
    spark: SparkSession, sf_dir: str, kind: str, token
) -> DataFrame | None:
    """The relation :func:`register` stored under the key, or None when
    there is none, another session owns it, or its token differs (then
    the entry is released)."""
    with _LOCK:
        return _lookup(spark, _key(spark, sf_dir, kind), token)


def release(spark: SparkSession, sf_dir: str, kind: str) -> None:
    """Release and forget the entry under the key, if any."""
    with _LOCK:
        old = _CACHE.pop(_key(spark, sf_dir, kind), None)
        if old is not None:
            _release(old[1])


def clear_cache() -> None:
    """Release and forget every registered relation (test hygiene, and
    the cold bench arm's reset). A DataFrame derived from a released
    entry can no longer run — its checkpoint has no lineage to
    recompute from — so consumers re-read the registry afterwards."""
    with _LOCK:
        for _, df, _ in _CACHE.values():
            _release(df)
        _CACHE.clear()


def durable_read_or_build(*args, **kwargs):
    """Removed with the durable warehouse tier: shared relations live
    only in :func:`session_cached`. The name stays because the
    benchmark tracer's LAYERS table (``perfbench/tracing.py``) looks it
    up; it goes when LAYERS drops it. Nothing in the package calls it."""
    raise NotImplementedError(
        "the durable warehouse tier was removed; use session_cached"
    )


def copurchase_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (l_orderkey, l_partkey) incidence — the base relation
    of the whole co-purchase family (pair build, per-part support,
    3-itemsets, HITS hubs) — registered once per (app, sf_dir)."""

    def build() -> DataFrame:
        from ..io import load_table

        li = load_table(spark, sf_dir, "lineitem")
        return li.select("l_orderkey", "l_partkey").distinct()

    return session_cached(spark, sf_dir, "items", build)


def _pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw (u, v) pair self-join plan — the expensive relation
    :func:`copurchase_pairs` registers."""
    items = copurchase_items(spark, sf_dir)
    a, b = items.alias("a"), items.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("u"),
        F.col("b.l_partkey").alias("v"),
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) part pairs with u < v, one row per co-purchasing order
    (multiplicity preserved) — registered once per (app, sf_dir)."""
    return session_cached(
        spark, sf_dir, "pairs", lambda: _pairs_plan(spark, sf_dir)
    )


def copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (u, v) with u < v — the simple undirected co-purchase
    graph, registered once per (app, sf_dir); derived from the cached
    pairs so the lineitem scan + self-join never reruns."""
    return session_cached(
        spark,
        sf_dir,
        "und",
        lambda: copurchase_pairs(spark, sf_dir).distinct(),
    )


def _symmetrize(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized multigraph edge list (parallel edges = weights) — a
    narrow explode over the cached pairs."""
    return _symmetrize(copurchase_pairs(spark, sf_dir))


def copurchase_edges_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized simple-graph edge list (both directions, no parallel
    edges) — registered once per (app, sf_dir): the iterative graph
    family scans it once per ROUND, so caching the exploded form (two
    BIGINT columns) beats re-exploding the pair cache inside every
    loop."""
    return session_cached(
        spark,
        sf_dir,
        "edges_distinct",
        lambda: _symmetrize(copurchase_und(spark, sf_dir)),
    )


def copurchase_user_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (o_custkey, l_partkey) customer-part incidence —
    registered once per (app, sf_dir). Consumed by the bipartite HITS
    query (three passes per run) and the user-recommendation serving
    query (candidate join + anti-join), each of which re-ran the
    orders x lineitem join + distinct per consumer."""

    def build() -> DataFrame:
        from ..io import load_table

        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        return (
            o.select("o_custkey", "o_orderkey")
            .join(
                li.select("l_orderkey", "l_partkey"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .select("o_custkey", "l_partkey")
            .distinct()
        )

    return session_cached(spark, sf_dir, "user_items", build)


def copurchase_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, n_ord) per-part order support — part-catalog grain,
    registered once per (app, sf_dir); the recommender family
    (item-item cosine, user recs, association rules, exposure audit)
    each re-derived it from the incidence cache per query."""
    return session_cached(
        spark,
        sf_dir,
        "supp",
        lambda: (
            copurchase_items(spark, sf_dir)
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ord"))
        ),
    )


def copurchase_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, co) undirected co-occurrence counts (u < v) — the
    aggregated form of the pair multiset, registered once per
    (app, sf_dir) for the same four recommender consumers."""
    return session_cached(
        spark,
        sf_dir,
        "pair_counts",
        lambda: (
            copurchase_pairs(spark, sf_dir)
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        ),
    )


def copurchase_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, d) exact degree table of the simple undirected graph —
    registered once per (app, sf_dir). Consumed by the degree-oriented
    wedge family (triangle count, clustering coefficient) which
    previously each re-derived it from the pair cache."""
    return session_cached(
        spark,
        sf_dir,
        "deg",
        lambda: (
            copurchase_und(spark, sf_dir)
            .select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        ),
    )


def copurchase_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented simple edges (src, dst): every undirected edge
    points from its (degree, id)-smaller endpoint to the larger — the
    Schank-Wagner orientation whose out-degree is O(sqrt(m)). This IS
    the "persisted oriented adjacency" of the triangle/wedge scale
    story (SURVEY X130): built once per (app, sf_dir) instead of once
    per query, replacing the per-query localCheckpoint in both
    triangle_count_copurchase and clustering_coefficient_copurchase."""

    def build() -> DataFrame:
        und = copurchase_und(spark, sf_dir)
        deg = copurchase_deg(spark, sf_dir)
        e = und.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"),
            "u",
        ).join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"),
            "v",
        )
        u_first = F.struct("du", "u") < F.struct("dv", "v")
        return e.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )

    return session_cached(spark, sf_dir, "oriented", build)


def copurchase_oriented_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, nbrs) sorted out-neighborhood arrays over the oriented
    edges (max O(sqrt(m)) elements per row) — registered once per
    (app, sf_dir); the wedge queries each join it TWICE per run, and
    previously each rebuilt it from their private oriented copy."""
    return session_cached(
        spark,
        sf_dir,
        "oriented_adj",
        lambda: (
            copurchase_oriented(spark, sf_dir)
            .groupBy("src")
            .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        ),
    )
