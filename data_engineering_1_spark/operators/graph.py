"""Iterative graph operators over an edge list: importance
(:func:`pagerank`, :func:`personalized_pagerank`,
:func:`hits_bipartite`), distance (:func:`min_plus_hops` and its
unit-cost view :func:`bfs_hops`) and dense cores
(:func:`kcore_degree_rounds` and its edge view :func:`kcore_peel`).
Connected components (reachability) live in ``components.py``.

[north-star] scope: the reference has no graph surface; a 100 TB web
corpus pipeline ranks pages before it filters them.

One working copy. The four looping operators take their edges through
:func:`_working_copy`: the edge list renamed to ``src``/``dst`` (plus
``cost``), repartitioned on src ONCE and persisted, with a persisted
(src, outdeg) table where the operator needs one. Every round then
moves only a <= |V|-row table (ranks, frontier, degrees) into that
fixed layout, combines it with one map-side combinable aggregate, and
checkpoints the result eagerly so the lineage stays shallow. The copy
is unpersisted when the operator returns; what it returns is built on
the checkpointed vertex-sized tables, so repeated calls in one session
do not accumulate persisted edge copies.

Two views. ``bfs_hops`` is ``min_plus_hops`` over unit costs, and
``kcore_peel`` is the caller's edges induced on the node sets of
``kcore_degree_rounds``' per-round degree tables. Neither has a loop of
its own. ``hits_bipartite`` has a fixed two-round shape and needs no
working copy.

Determinism discipline: every value is an exact integer. Ranks are
BIGINT in units of 1e-15 (``SCALE``); messages are ``rank DIV outdeg``,
sums are exact BIGINT sums (order-independent), and damping is
``· d_pct DIV 100``. Hops, path costs and degrees are BIGINT counts and
mins. Every trajectory is therefore bit-identical across partitionings,
engines and runs, and each oracle unrolls the same rounds as CTEs with
the same integer ops (plans/corpus_queries.py:pagerank_copurchase for
PageRank). A float PageRank was tried first and retired: two
iterations of round(double, 12) produced a genuine half-way rounding
divergence between Spark's BigDecimal HALF_UP and DuckDB's double
rounding (1 of 30 top ranks off by 1e-12); integers have no such
boundary. The cost is fixed-point truncation: total rank mass decays by
< |V| ulps (1e-15) per iteration, far below any ranking-relevant
difference.

Dangling nodes: PageRank callers pass a symmetrized edge list (both
directions), so every node has outdeg >= 1 and the dangling-mass term
is identically zero; the operator documents this contract rather than
silently redistributing mass. Source-only nodes (out-edges but no
in-edges, possible on a DIRECTED list) keep rank (1-d)/N: each
iteration LEFT-joins the inflow sums onto the full node set, so such a
node keeps contributing along its out-edges instead of vanishing after
the first groupBy(dst) (ADVICE r5). On a symmetrized graph every node
has inflow and the left join degenerates to the inner join the
unrolled-CTE oracle uses.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**15  # rank unit: 1e-15 (BIGINT fixed point)


@contextmanager
def _working_copy(
    edges: DataFrame,
    src: str,
    dst: str,
    cost: str | None = None,
    outdeg: bool = False,
) -> Iterator[tuple[DataFrame, DataFrame | None]]:
    """Yields ``(e, deg)``: ``e`` = (src, dst[, cost BIGINT]) hash-
    partitioned on src into the shuffle-partition count and persisted,
    ``deg`` = its persisted (src, outdeg) table when ``outdeg`` is set,
    else None. Both are unpersisted when the block exits, so an operator
    must checkpoint what it returns before leaving it."""
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if cost is not None:
        cols.append(F.col(cost).cast("bigint").alias("cost"))
    parts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    e = edges.select(*cols).repartition(parts, "src").persist()
    # outdeg rides the src partitioning of the copy; it is |V| rows and
    # joins into every iteration
    deg = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
        if outdeg
        else None
    )
    try:
        yield e, deg
    finally:
        e.unpersist()
        if deg is not None:
            deg.unpersist()


def _induced(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """(src, dst) rows of ``e`` with both endpoints in ``nodes`` (one
    column ``src``)."""
    return (
        e.join(nodes, "src")
        .join(nodes.withColumnRenamed("src", "dst"), "dst")
        .select("src", "dst")
    )


def _degrees(e: DataFrame) -> DataFrame:
    return e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))


def pagerank(
    edges: DataFrame,
    n_iter: int = 2,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank_fp) after ``n_iter`` synchronous PageRank iterations,
    ``rank_fp`` a BIGINT in units of 1/SCALE (divide by 1e15 for the
    probability). ``edges`` must contain every node as a src at least
    once (pass a symmetrized list for undirected graphs; a node that
    only ever appears as dst is a dangling node and violates the
    zero-dangling-mass contract). Nodes with no IN-edges are fine:
    they hold rank (1-d)/N and keep contributing. Parallel edges act
    as weights. ``damping_pct`` is the damping factor in percent
    (integer, so the damping step stays exact). An empty edge list
    has no nodes and gives an empty table, as the oracle does.

    Per iteration: contribute = the |V|-row rank table joined into the
    working copy on src; combine = groupBy(dst).SUM, one shuffle of
    |V| rows; apply = rank' = (1-d)/N + d * inflow, a scalar map."""
    with _working_copy(edges, src, dst, outdeg=True) as (e, deg):
        n_nodes = deg.count()  # materializes both copies
        if n_nodes == 0:
            return deg.select(
                F.col("src").alias("node"),
                F.lit(0).cast("bigint").alias("rank_fp"),
            )
        base = (100 - damping_pct) * SCALE // (100 * n_nodes)

        ranks = deg.select(
            F.col("src").alias("node"),
            F.lit(SCALE // n_nodes).cast("bigint").alias("rank_fp"),
        )
        for _ in range(n_iter):
            contrib = (
                e.join(ranks.withColumnRenamed("node", "src"), "src")
                .join(deg, "src")
                .select(
                    F.col("dst").alias("node"),
                    # exact integer message: rank DIV outdeg
                    F.expr("rank_fp DIV outdeg").alias("c"),
                )
            )
            inflow = contrib.groupBy("node").agg(
                F.sum("c").cast("bigint").alias("inflow")
            )
            # LEFT join onto the full node set (deg holds every node, per
            # the src contract): a src-only node has no inflow row, keeps
            # rank (1-d)/N, and still feeds its out-edges next iteration.
            ranks = (
                deg.select(F.col("src").alias("node"))
                .join(inflow, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr(
                            f"coalesce(inflow, 0L) * {damping_pct} DIV 100"
                        )
                    ).cast("bigint").alias("rank_fp"),
                )
                .localCheckpoint(eager=True)
            )
        return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """(node, hop) = minimum hop distance from the seed set, for every
    node within ``max_hops``: :func:`min_plus_hops` with every edge cost
    1. ``seeds`` has one column ``node``; ``edges`` is a directed list
    (pass a symmetrized list for undirected semantics). Unreached nodes
    are absent, seeds are hop 0.

    With unit costs min-plus's improvement frontier is exactly BFS's
    newly-discovered frontier (a node's hop is final at discovery), so
    the rounds, the early exit and the result are those of a frontier
    BFS, and round-for-round equal to the full synchronous relaxation
    the SQL oracle unrolls as CTEs."""
    unit = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.lit(1).cast("bigint").alias("cost"),
    )
    return min_plus_hops(unit, seeds, max_hops, node=node).select(
        "node", F.col("dist").alias("hop")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> list[DataFrame]:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of "remove
    every node with degree < k, then drop edges touching removed
    nodes". Returns the surviving (src, dst) EDGE DataFrame after each
    round; callers aggregate node counts/checksums from them. The
    k-core is the classic dense-subgraph/spam-farm signal.

    ``edges`` must be a symmetrized DISTINCT directed list (both
    directions present, no parallel edges), so degree(v) = the count of
    rows with src = v.

    A view of :func:`kcore_degree_rounds`: round i's edges G_i are the
    caller's edges induced on the survivor set S_i, and every node of
    G_i has degree >= 1 in it, so G_i is also the caller's edges induced
    on the nodes of round i's degree table. Each view joins the
    caller's ``edges`` against that checkpointed <= |V|-row table."""
    base = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return [
        _induced(base, deg.select("src"))
        for deg in kcore_degree_rounds(edges, k, rounds, src, dst)
    ]


def kcore_degree_rounds(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> list[DataFrame]:
    """[deg_1, ..., deg_rounds]: deg_i = the (node, deg) DEGREE TABLE
    of the induced subgraph G_i after i synchronous k-core peeling
    rounds (nodes with >= 1 surviving edge; :func:`kcore_peel` is the
    edge view of the same rounds). Same ``edges`` contract as
    kcore_peel.

    State is the survivor set, not the shrinking edge list: S_i = {v :
    deg_{G_{i-1}}(v) >= k} shrinks monotonically, so G_i = the working
    copy induced on S_i, re-derived each round from the ONE copy.
    deg(G_i) is both what round i+1 needs to peel and everything a stats
    consumer needs about round i (node count = COUNT(*), directed edge
    count = SUM(deg), node checksum = SUM(node)), so each round
    checkpoints only that <= |V|-row table: one job per round, and the
    consumer's action touches only vertex-sized tables. deg(G_0) is not
    checkpointed on its own; round 1's job computes it over the working
    copy, which is already partitioned on src (no exchange). Degrees and
    survivor sets are exact integer computations, so a SQL oracle
    reproduces the rounds as CTEs."""
    out: list[DataFrame] = []
    with _working_copy(edges, src, dst) as (e, _):
        prev = _degrees(e)
        for _ in range(rounds):
            s = prev.where(F.col("deg") >= k).select("src")
            prev = _degrees(_induced(e, s)).localCheckpoint(eager=True)
            out.append(prev)
    return out


def hits_bipartite(
    edges: DataFrame,
    hub: str = "hub",
    auth: str = "auth",
) -> DataFrame:
    """(auth_node, auth1, auth2) after two synchronous HITS rounds over
    a DIRECTED bipartite edge list (hub side → authority side) with
    unit initial hub scores — the sixth iterative graph operator
    (importance on a bipartite graph: authorities accumulate hub mass,
    hubs accumulate authority mass; on customer→part edges the
    authority ranking is "parts bought by customers who buy
    well-endorsed parts", one step beyond raw popularity).

    Unnormalized integer formulation: h0 = 1 per hub, a1(p) = indeg(p),
    h1(c) = Σ_{c→p} a1(p), a2(p) = Σ_{c→p} h1(c). For a FIXED number of
    rounds the unnormalized scores induce exactly the ranking of the
    normalized iteration (normalization is a positive scalar per
    round), and every value is an exact BIGINT sum of counts — no
    floats anywhere, so both engines and any partitioning agree bit-
    for-bit and a SQL oracle unrolls the same three aggregates as
    CTEs. Magnitudes: a2 <= max_indeg · max_outdeg · |edges-per-hub|
    — far inside BIGINT at any realistic catalog. Scale: three
    combinable aggregates + two equi-joins; the edge list shuffles on
    its join key only."""
    e = edges.select(F.col(hub).alias("c"), F.col(auth).alias("p"))
    a1 = e.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("a1"))
    h1 = (
        e.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a1").cast("bigint").alias("h1"))
    )
    a2 = (
        e.join(h1, "c")
        .groupBy("p")
        .agg(F.sum("h1").cast("bigint").alias("a2"))
    )
    return a2.join(a1, "p").select("p", "a1", "a2")


def personalized_pagerank(
    edges: DataFrame,
    seed: DataFrame,
    n_iter: int = 2,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """(node, rank_fp) after ``n_iter`` personalized-PageRank rounds:
    ALL teleport mass returns to the single-row ``seed`` node set
    instead of spreading uniformly — the seeded-relevance variant
    (recommendations / related-items around an anchor) of
    :func:`pagerank`.

    Same fixed-point BIGINT discipline as pagerank (units of 1/SCALE,
    messages rank DIV outdeg, damping ·d DIV 100) with one structural
    difference: the rank vector stays SPARSE. r0 is the seed row at
    full SCALE; each round emits teleport rows for seeds plus inflow
    rows for reached nodes and sum-combines — unreached nodes hold
    exact zero and are ABSENT, so after k rounds the vector spans the
    k-hop ball around the seed, not |V| (the property that makes PPR
    cheap at 100 TB: work is neighborhood-sized, not graph-sized). A
    SQL oracle unrolls the identical rounds as CTEs. A seed with no
    out-edges keeps only its teleport mass; an empty seed gives an
    empty table.

    The loop body is pagerank's with the integer ops in another order
    (Σ((rank DIV outdeg)·d DIV 100) here, (Σ rank DIV outdeg)·d DIV 100
    there), so the two stay separate: merging them would change
    oracle-hashed values."""
    with _working_copy(edges, src, dst, outdeg=True) as (e, deg):
        deg.count()  # materializes both copies
        teleport = seed.select(
            F.col(node).alias("node"),
            F.lit((100 - damping_pct) * SCALE // 100)
            .cast("bigint")
            .alias("rank_fp"),
        )
        ranks = seed.select(
            F.col(node).alias("node"),
            F.lit(SCALE).cast("bigint").alias("rank_fp"),
        )
        for _ in range(n_iter):
            inflow = (
                e.join(ranks.withColumnRenamed("node", "src"), "src")
                .join(deg, "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr(
                        f"(rank_fp DIV outdeg) * {damping_pct} DIV 100"
                    ).alias("rank_fp"),
                )
            )
            ranks = (
                teleport.unionByName(inflow)
                .groupBy("node")
                .agg(F.sum("rank_fp").cast("bigint").alias("rank_fp"))
                .localCheckpoint(eager=True)
            )
        return ranks


def min_plus_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
    node: str = "node",
) -> DataFrame:
    """(node, dist) = minimum total edge cost from the seed set over
    paths of at most ``rounds`` edges — bounded-hop Bellman-Ford.
    ``edges`` carries an integer ``cost`` column (>= 0); ``seeds`` has
    one column ``node`` at distance 0. Unreached nodes are absent. With
    every cost = 1 this is :func:`bfs_hops`.

    Frontier discipline (r9): each round relaxes ONLY out of the nodes
    whose distance strictly improved last round — the classic
    Bellman-Ford identity (an offer from an unimproved node u equals
    the offer u already made when it last improved, which the running
    min has already absorbed), so after r rounds the result is
    row-for-row identical to the full synchronous relaxation the SQL
    oracle unrolls as CTEs, and an empty frontier is a fixed point
    (early exit changes nothing). min() over exact BIGINT path costs
    is order-independent. ``rounds`` bounds the work (k rounds = at
    most k small shuffles) so callers choose the hop horizon
    explicitly instead of paying an unbounded fixed-point. The result
    is a min-combine over the per-round checkpointed (<= |V|-row)
    improvement layers."""
    frontier = (
        seeds.select(
            F.col(node).alias("node"), F.lit(0).cast("bigint").alias("dist")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    layers = [frontier]

    def _best(tables: list[DataFrame]) -> DataFrame:
        out = tables[0]
        for t in tables[1:]:
            out = out.unionByName(t)
        return out.groupBy("node").agg(
            F.min("dist").cast("bigint").alias("dist")
        )

    with _working_copy(edges, src, dst, cost=cost) as (e, _):
        for _ in range(rounds):
            cur = _best(layers)
            offers = e.join(
                frontier.withColumnRenamed("node", "src"), "src"
            ).select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("cost")).cast("bigint").alias("dist"),
            )
            best_offer = offers.groupBy("node").agg(
                F.min("dist").cast("bigint").alias("dist")
            )
            frontier = (
                best_offer.alias("b")
                .join(cur.alias("c"), "node", "left")
                .where(
                    F.col("c.dist").isNull()
                    | (F.col("b.dist") < F.col("c.dist"))
                )
                .select("node", F.col("b.dist").alias("dist"))
                .localCheckpoint(eager=True)
            )
            if not frontier.take(1):  # fixed point: no distance improved
                break
            layers.append(frontier)
    return _best(layers)
