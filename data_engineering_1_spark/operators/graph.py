"""PageRank over an edge list — the second iterative graph operator
(X3's connected components handles reachability; this handles
importance ranking, e.g. scoring documents in a link graph for
crawl-priority / quality weighting in a web corpus pipeline).

[north-star] scope: the reference has no graph surface; a 100 TB web
corpus pipeline ranks pages before it filters them.

Per-iteration shape (the one that survives 100 TB):

  contribute:  edges ⋈ ranks on src — the edge table is pre-partitioned
               on src ONCE and persisted; every iteration only moves the
               (node, rank) table (|V| rows) into that fixed layout;
  combine:     groupBy(dst).SUM — map-side combinable, one shuffle of
               |V| rows per iteration;
  apply:       rank' = (1-d)/N + d * inflow, a scalar map.

Determinism discipline — FIXED-POINT INTEGER ranks: every rank is a
BIGINT in units of 1e-15 (``SCALE``). Messages are ``rank DIV outdeg``
(exact integer division), inflows are exact BIGINT sums (order-
independent), and the damping step is ``inflow * d_pct DIV 100``. The
whole trajectory is therefore bit-identical across partitionings,
engines, and runs — an oracle reproduces it by unrolling the same
iterations as CTEs with the same integer ops
(plans/corpus_queries.py:pagerank_copurchase does exactly that). A
float formulation was tried first and retired: two iterations of
round(double, 12) produced a genuine half-way rounding divergence
between Spark's BigDecimal HALF_UP and DuckDB's double rounding (1 of
30 top ranks off by 1e-12) — integers have no such boundary. The cost
is standard fixed-point truncation: total mass decays by < |V| ulps
(1e-15) per iteration, far below any ranking-relevant difference.

Dangling nodes: callers pass a symmetrized edge list (both directions),
so every node in the graph has outdeg >= 1 and the dangling-mass term
is identically zero; the operator documents this contract rather than
silently redistributing mass. Source-only nodes (out-edges but no
in-edges — possible on a DIRECTED edge list) are handled explicitly:
each iteration LEFT-joins the inflow sums onto the full node set, so a
node with zero inflow keeps rank (1-d)/N and keeps contributing along
its out-edges in later iterations instead of silently vanishing after
the first groupBy(dst) (ADVICE r5). On a symmetrized graph every node
has inflow, so the left join degenerates to the old inner join and the
unrolled-CTE oracle is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**15  # rank unit: 1e-15 (BIGINT fixed point)


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
    (integer, so the damping step stays exact)."""
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(parts, "src")
        .persist()
    )
    # outdeg rides the src partitioning of the cache; persist it too —
    # it's |V| rows and joins into every iteration.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    n_nodes = deg.count()  # materializes both caches
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
        )
        # keep the lineage shallow: the rank table is |V| rows — tiny
        # next to the edges — so an eager localCheckpoint per round is
        # cheap and prevents plan blow-up over many iterations
        ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    deg.unpersist()
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
    node within ``max_hops`` — synchronous frontier BFS, the third
    iterative graph operator (CC = reachability classes, PageRank =
    importance, this = distance). ``seeds`` has one column ``node``;
    ``edges`` is a directed list (pass a symmetrized list for
    undirected semantics). Unreached nodes are absent, seeds are hop 0.

    Per-iteration shape (frontier discipline, r9): the edge table is
    pre-partitioned on src ONCE and persisted; each round joins ONLY
    the newly-discovered frontier (<= |V| rows, and in practice far
    fewer after the expansion round) into that fixed layout, then
    min-combines and anti-joins the already-seen set — one small
    shuffle per hop, map-side combinable. Joining the frontier instead
    of the whole distance table is the classic BFS identity (a node's
    hop is final at discovery, so only new nodes generate new offers):
    after r rounds the result is row-for-row identical to the full
    synchronous relaxation the SQL oracle unrolls as CTEs, and an empty
    frontier is a fixed point, so early exit changes nothing. min()
    over BIGINT hops is order-independent — bit-reproducible. The
    internal working copy is unpersisted before returning; the result
    is a union of the per-round checkpointed (<= |V|-row) layers."""
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(parts, "src")
        .persist()
    )
    frontier = (
        seeds.select(
            F.col(node).alias("node"), F.lit(0).cast("bigint").alias("hop")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    layers = [frontier]
    for _ in range(max_hops):
        seen = layers[0]
        for layer in layers[1:]:
            seen = seen.unionByName(layer)
        offers = e.join(
            frontier.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("hop") + 1).cast("bigint").alias("hop"),
        )
        frontier = (
            offers.groupBy("node")
            .agg(F.min("hop").cast("bigint").alias("hop"))
            .join(seen.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if not frontier.take(1):  # fixed point: nothing new reachable
            break
        layers.append(frontier)
    e.unpersist()
    out = layers[0]
    for layer in layers[1:]:
        out = out.unionByName(layer)
    return out


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> list[DataFrame]:
    """Bounded k-core peeling — ``rounds`` synchronous rounds of
    "remove every node with degree < k, then drop edges touching
    removed nodes". Returns the list of surviving EDGE DataFrames after
    each round (callers aggregate node counts/checksums from them). The
    fifth iterative graph operator (CC, PageRank, BFS, min-plus, this);
    the k-core is the classic dense-subgraph/spam-farm signal, and the
    fixed round budget bounds the work exactly like bfs_hops' hop
    budget — each round is one degree aggregate (combinable) plus two
    semi-joins of the edge list against the <= |V|-row survivor set.

    ``edges`` must be a symmetrized DISTINCT directed list (both
    directions present, no parallel edges), so degree(v) = the count of
    rows with src = v. Determinism: degrees and survivor sets are exact
    integer computations — a SQL oracle reproduces the peeling by
    unrolling the same rounds as CTEs.

    State discipline (round 8): peeling state is carried as the
    SURVIVOR NODE SET, not the shrinking edge list — after round r the
    edge set is exactly the subgraph induced by the survivors (S_r is
    monotonically shrinking, so both-endpoints-in-S_r ≡ the iterated
    edge filtering), so each round localCheckpoints only a <= |V|-row
    node table and re-derives its edges from the peel's ONE persisted
    working copy of the edge list. The previous form eagerly
    checkpointed the full |E|-row edge list every round — vertex-sized
    state per round (the pagerank/BFS/min-plus discipline) instead of
    edge-sized.

    Resource discipline (round 9, ADVICE r8): the repartitioned working
    copy is persisted only for the duration of the peel loop (the
    survivor sets are materialized eagerly inside it) and unpersisted
    before returning — like pagerank/bfs_hops/min_plus_hops, repeated
    calls in one session do not accumulate MEMORY_AND_DISK copies; the
    returned per-round edge views are bound to the caller's ``edges``
    relation joined against the checkpointed <= |V|-row survivor sets
    — correct by the induced-subgraph property above."""
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    base = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e0 = base.repartition(parts, "src").persist()
    surv: list[DataFrame] = []
    cur = e0
    for _ in range(rounds):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        s = (
            deg.where(F.col("d") >= k)
            .select("src")
            .localCheckpoint(eager=True)
        )
        surv.append(s)
        cur = e0.join(s, "src").join(
            s.withColumnRenamed("src", "dst"), "dst"
        ).select("src", "dst")
    e0.unpersist()
    return [
        base.join(s, "src")
        .join(s.withColumnRenamed("src", "dst"), "dst")
        .select("src", "dst")
        for s in surv
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
    rounds (nodes with >= 1 surviving edge; same semantics as
    :func:`kcore_peel`'s round-i edge view, pre-aggregated per node).

    The aggregate-fused form of kcore_peel (r9): the peel loop must
    compute deg(G_i) anyway to derive round i+1's survivor set — and
    deg(G_i) is ALSO everything a stats consumer needs about round i
    (node count = COUNT(*), directed edge count = SUM(deg), node
    checksum = SUM(node)). Checkpointing the <= |V|-row degree table
    per round therefore serves both purposes with exactly rounds + 1
    single-pass scans of the edge relation total (one per peel plus
    the initial degree pass), and the consumer's action touches only
    the checkpointed vertex-sized tables — no second sweep over |E|
    rows per round. Survivor-set peeling (S_i = {v : deg_{G_{i-1}}(v)
    >= k} is monotonically shrinking, so G_i = base induced on S_i)
    and exact-BIGINT determinism arguments are as in kcore_peel.

    Unlike kcore_peel, every returned table is eagerly checkpointed
    INSIDE the loop, so the src-partitioned private working copy (one
    shuffle, then every degree aggregate and first induced-subgraph
    join is exchange-free) is safely unpersisted before returning —
    fast loop AND no persisted-copy leak (ADVICE r8)."""
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    e0 = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(parts, "src")
        .persist()
    )
    prev = (
        e0.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=True)
    )
    out: list[DataFrame] = []
    for _ in range(rounds):
        s = prev.where(F.col("deg") >= k).select("src")
        g = e0.join(s, "src").join(
            s.withColumnRenamed("src", "dst"), "dst"
        )
        prev = (
            g.groupBy("src")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
            .localCheckpoint(eager=True)
        )
        out.append(prev)
    e0.unpersist()
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
    :func:`pagerank`, and the seventh iterative graph operator.

    Same fixed-point BIGINT discipline as pagerank (units of 1/SCALE,
    messages rank DIV outdeg, damping ·d DIV 100) with one structural
    difference: the rank vector stays SPARSE. r0 is the seed row at
    full SCALE; each round emits teleport rows for seeds plus inflow
    rows for reached nodes and sum-combines — unreached nodes hold
    exact zero and are ABSENT, so after k rounds the vector spans the
    k-hop ball around the seed, not |V| (the property that makes PPR
    cheap at 100 TB: work is neighborhood-sized, not graph-sized). A
    SQL oracle unrolls the identical rounds as CTEs."""
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(parts, "src")
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    deg.count()
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
    e.unpersist()
    deg.unpersist()
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
    paths of at most ``rounds`` edges — bounded-hop Bellman-Ford, the
    weighted generalization of :func:`bfs_hops` (min-plus relaxation
    instead of hop counting). ``edges`` carries an integer ``cost``
    column (>= 0); ``seeds`` has one column ``node`` at distance 0.
    Unreached nodes are absent. With every cost = 1 this degenerates to
    BFS hops.

    Same per-round shape and determinism argument as bfs_hops, with
    the frontier discipline (r9): edges are pre-partitioned on src
    ONCE and persisted, and each round relaxes ONLY out of the nodes
    whose distance strictly improved last round — the classic
    Bellman-Ford identity (an offer from an unimproved node u equals
    the offer u already made when it last improved, which the running
    min has already absorbed), so after r rounds the result is
    row-for-row identical to the full synchronous relaxation the SQL
    oracle unrolls as CTEs, and an empty frontier is a fixed point
    (early exit changes nothing). min() over exact BIGINT path costs
    is order-independent. ``rounds`` bounds the work (k rounds = at
    most k small shuffles) so callers choose the hop horizon
    explicitly instead of paying an unbounded fixed-point. The working
    copy is unpersisted before returning; the result is a min-combine
    over the per-round checkpointed (<= |V|-row) improvement layers."""
    spark = edges.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(cost).cast("bigint").alias("cost"),
        )
        .repartition(parts, "src")
        .persist()
    )
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
    e.unpersist()
    return _best(layers)
