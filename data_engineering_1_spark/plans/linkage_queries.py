"""Graph-linkage / sketch declared queries (round 6, twenty-fifth
batch — [north-star] scope): seeded relevance, endorsement ranking,
link prediction, and streaming-style frequency sketching over the
co-purchase graph.

  * ``hits_authority_parts`` (X251) — two unnormalized HITS rounds
    over the customer→part bipartite graph: exact BIGINT authority
    scores (a1 = indegree, a2 = Σ hub mass), no floats anywhere.
  * ``countmin_part_counts`` (X252) — a d=3 × w=1024 count-min
    sketch of part frequencies from the md5 bridge, with the
    measured per-key overestimate vs true counts — the mergeable
    frequency sketch, audited (est ≥ true is a THEOREM, pinned).
  * ``adamic_adar_linkpred`` (X253) — Adamic-Adar link prediction
    for the 30 highest-degree anchor parts: Σ 1/ln(deg z) over
    common neighbors of non-adjacent pairs, ln round-9
    DECIMAL-staged; the anchor set bounds the wedge fan-out.
  * ``ppr_seed_part`` (X254) — personalized PageRank around a seed
    part with SPARSE fixed-point BIGINT ranks: teleport mass returns
    to the seed only, unreached nodes are absent (exact zero) — the
    seeded-relevance ranking, oracle-unrolled.
  * ``reach_2hop_parts`` (X255) — exact 1-hop / strict-2-hop /
    total reach of the same 30 anchors — the neighborhood-size
    profile that prices any wedge-shaped graph operator before it
    runs.
  * ``label_prop_brands`` (X256) — two rounds of clamped-seed
    majority label propagation (seeds = brands of every 3rd part):
    integer votes, lexicographic tie-break, unlabeled stay NULL —
    the semi-supervised labeler, oracle-unrolled.

Determinism: HITS/PPR/votes/counts are exact integers (PPR messages
(rank DIV outdeg)·d DIV 100); count-min cells are exact sums over
md5-bridge positions both engines compute identically; Adamic-Adar
weights stage ROUND(1/LN(deg), 9) into DECIMAL(18,9) before the
exact sum; every emitted ratio divides once, rounded 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .registry import declared_query
from .series_queries import _O_EDGES

# Simple (distinct) symmetric co-purchase edges + degrees + the 30
# highest-degree anchor parts, shared by X253/X255/X256.
_O_SIMPLE = f"""
    {_O_EDGES}, sedges AS (
        SELECT DISTINCT src, dst FROM edges
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS d
        FROM sedges GROUP BY src
    ), anchors AS (
        SELECT src AS a, d FROM deg ORDER BY d DESC, src LIMIT 30
    )
"""

_CMS_W = 1024
_CMS_D = 3


def _simple_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the session-registered distinct-pair checkpoint
    # (operators/edgecache.py, VERDICT r7 #4): consumers that reuse the
    # relation 2-4 times (per LP/PPR round, per wedge leg) re-run only
    # the narrow symmetrizing explode over the stored blocks — the
    # items self-join itself runs once per (app, sf_dir) across ALL
    # graph queries, replacing the per-query localCheckpoint.
    from ..operators.edgecache import copurchase_edges_distinct

    return copurchase_edges_distinct(spark, sf_dir)


def _anchors(sedges: DataFrame):
    deg = sedges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    # 30 rows, but consumed 2-3x per query (wedge legs + final join) and
    # each lazy use re-ran the degree aggregate + top-k over the whole
    # edge relation (guide §2.4). Materialized once; consumers broadcast
    # it.
    anchors = (
        deg.orderBy(F.desc("d"), F.asc("src"))
        .limit(30)
        .select(F.col("src").alias("a"), "d")
        .localCheckpoint()
    )
    return deg, anchors


# ---- X251: HITS authorities -------------------------------------------------


@declared_query(
    "hits_authority_parts",
    oracle="""
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), a1 AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS a1 FROM e GROUP BY p
    ), h1 AS (
        SELECT e.c, CAST(SUM(a1.a1) AS BIGINT) AS h1
        FROM e JOIN a1 ON e.p = a1.p GROUP BY e.c
    ), a2 AS (
        SELECT e.p, CAST(SUM(h1.h1) AS BIGINT) AS a2
        FROM e JOIN h1 ON e.c = h1.c GROUP BY e.p
    )
    SELECT a2.p AS part_key, a1.a1 AS auth1, a2.a2 AS auth2
    FROM a2 JOIN a1 ON a2.p = a1.p
    ORDER BY a2.a2 DESC, part_key LIMIT 30
    """,
)
def hits_authority_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X251: top-30 authority parts after two unnormalized HITS
    rounds over the customer→part purchase graph — "parts bought by
    customers who buy well-endorsed parts", one reinforcement step
    beyond raw popularity (auth1 IS raw popularity; the auth2/auth1
    divergence is the signal). The sixth iterative graph operator
    (operators/graph.py:hits_bipartite): for a fixed round count the
    unnormalized integer scores induce exactly the normalized
    ranking (normalization is a positive per-round scalar), so every
    score is an exact BIGINT sum of counts and the oracle unrolls
    the same three aggregates — no floats, no rows-only fallback.

    Scale: three combinable aggregates + two equi-joins on the
    distinct (customer, part) edge list; top-30 via
    TakeOrderedAndProject."""
    from ..operators.edgecache import copurchase_user_items
    from ..operators.graph import hits_bipartite

    # r13: the distinct (customer, part) incidence comes from the
    # session-scoped persisted edge cache — hits_bipartite walks it
    # three times per run, and each walk re-ran the orders x lineitem
    # join + distinct (16 scans in the r13-before plan)
    e = copurchase_user_items(spark, sf_dir).select(
        F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
    )
    scores = hits_bipartite(e, hub="c", auth="p")
    return (
        scores.select(
            F.col("p").alias("part_key"),
            F.col("a1").alias("auth1"),
            F.col("a2").alias("auth2"),
        )
        .orderBy(F.desc("auth2"), F.asc("part_key"))
        .limit(30)
    )


# ---- X252: count-min sketch -------------------------------------------------


@declared_query(
    "countmin_part_counts",
    oracle=f"""
    WITH keys AS (
        SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS true_cnt
        FROM lineitem GROUP BY 1
    ), pos AS (
        SELECT k, true_cnt, i.i,
               (('0x' || substr(md5('cms|' || CAST(i.i AS VARCHAR)
                    || '|' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
                % {_CMS_W}) AS pos
        FROM keys CROSS JOIN
             (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i) i
    ), cells AS (
        SELECT i, pos, CAST(SUM(true_cnt) AS BIGINT) AS cell
        FROM pos GROUP BY 1, 2
    ), est AS (
        SELECT p.k, p.true_cnt, CAST(MIN(c.cell) AS BIGINT) AS est
        FROM pos p JOIN cells c ON p.i = c.i AND p.pos = c.pos
        GROUP BY 1, 2
    )
    SELECT k AS part_key, true_cnt, est,
           est - true_cnt AS overestimate
    FROM est ORDER BY true_cnt DESC, part_key LIMIT 30
    """,
)
def countmin_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X252: a d=3-row, w=1024-column COUNT-MIN sketch of part
    frequencies, read back for the 30 most frequent parts with the
    measured overestimate — the mergeable frequency sketch (cells
    are sums → map-side combinable and shard-mergeable, the property
    that makes it a streaming/distributed primitive), audited
    against truth. est ≥ true is a THEOREM of the structure (each
    cell sums its key's count plus non-negative collisions), which
    the pin asserts for every key; the expected overestimate is
    Σothers/w per row, minimized over d rows. Hash positions come
    from the md5 bridge so both engines place every key identically.

    Scale: the sketch build is one (row, position) aggregate over
    the DISTINCT-key relation (pre-counted — the stream reduces
    first); the read-back is an equi-join on (row, position) against
    the 3072-cell table, which broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    pos = keys.select(
        "k",
        "true_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("i"),
    ).withColumn(
        "pos",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("cms"),
                        F.col("i").cast("string"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_W,
    )
    cells = pos.groupBy("i", "pos").agg(
        F.sum("true_cnt").cast("bigint").alias("cell")
    )
    est = (
        pos.join(F.broadcast(cells), ["i", "pos"])
        .groupBy("k", "true_cnt")
        .agg(F.min("cell").cast("bigint").alias("est"))
    )
    return (
        est.select(
            F.col("k").alias("part_key"),
            "true_cnt",
            "est",
            (F.col("est") - F.col("true_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("part_key"))
        .limit(30)
    )


# ---- X253: Adamic-Adar link prediction --------------------------------------


@declared_query(
    "adamic_adar_linkpred",
    oracle=f"""
    WITH {_O_SIMPLE}, na AS (
        SELECT an.a, e.dst AS z FROM anchors an
        JOIN sedges e ON e.src = an.a
    ), wedge AS (
        SELECT na.a, e2.dst AS v, na.z
        FROM na JOIN sedges e2 ON e2.src = na.z
        WHERE e2.dst <> na.a
    ), cand AS (
        SELECT w.a, w.v, w.z FROM wedge w
        LEFT JOIN na nb ON nb.a = w.a AND nb.z = w.v
        WHERE nb.z IS NULL
    ), aa AS (
        SELECT c.a, c.v, CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(CAST(ROUND(1.0 / LN(d.d), 9)
                             AS DECIMAL(18,9))) AS DECIMAL(38,9))
                   AS aa_exact
        FROM cand c JOIN deg d ON c.z = d.src
        GROUP BY 1, 2
    )
    SELECT a AS anchor, v AS candidate, n_common,
           CAST(ROUND(CAST(aa_exact AS DOUBLE), 6) AS DOUBLE)
               AS aa_score
    FROM aa ORDER BY aa_exact DESC, a, v LIMIT 30
    """,
)
def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X253: Adamic-Adar link prediction — for the 30 highest-degree
    anchor parts, the top-30 NON-ADJACENT candidates ranked by
    Σ_{{z ∈ N(a)∩N(v)}} 1/ln(deg z): common neighbors endorse a
    future link, rare ones more than hubs. The anchor set BOUNDS the
    wedge fan-out (Σ_{{z ∈ N(anchors)}} deg z — anchor-neighborhood
    work, never the graph-wide Σdeg² a full AA pass costs; the X184
    anchor discipline). Adjacent pairs are excluded by the
    left-anti test against the anchor's neighbor list; z's degree
    is ≥ 2 whenever it is a common neighbor, so ln is never 0.

    Exactness: per-z weights stage ROUND(1/LN(deg), 9) into
    DECIMAL(18,9) (the X145 ln discipline), the pair sum is exact
    decimal, ranking/membership is decided on that exact sum, and
    only the emitted score is one more round. Scale: two equi-joins
    from the 30-row anchor relation outward plus one combinable
    aggregate; deg is |V|-bounded."""
    sedges = _simple_edges(spark, sf_dir)
    deg, anchors = _anchors(sedges)
    # na is |anchors| x max-degree rows (anchor-bounded) and deg is
    # catalog-bounded — both broadcast, so the 2.4M-row edge relation
    # never shuffles: each wedge leg is a broadcast hash join.
    na = sedges.join(
        F.broadcast(anchors), F.col("a") == sedges["src"]
    ).select("a", F.col("dst").alias("z")).localCheckpoint()
    wedge = sedges.withColumnRenamed("src", "z2").join(
        F.broadcast(na),
        F.col("z") == F.col("z2"),
    ).where(F.col("dst") != F.col("a")).select(
        "a", F.col("dst").alias("v"), "z"
    )
    cand = wedge.join(
        F.broadcast(na.select("a", F.col("z").alias("v"))),
        ["a", "v"],
        "left_anti",
    )
    aa = (
        cand.join(
            F.broadcast(deg.select(F.col("src").alias("z"), "d")), "z"
        )
        .groupBy("a", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(
                F.round(1.0 / F.log(F.col("d")), 9).cast(
                    "decimal(18,9)"
                )
            )
            .cast("decimal(38,9)")
            .alias("aa_exact"),
        )
    )
    return (
        aa.orderBy(F.desc("aa_exact"), F.asc("a"), F.asc("v"))
        .limit(30)
        .select(
            F.col("a").alias("anchor"),
            F.col("v").alias("candidate"),
            "n_common",
            F.round(F.col("aa_exact").cast("double"), 6).alias(
                "aa_score"
            ),
        )
    )


# ---- X254: personalized PageRank --------------------------------------------


def _o_ppr_round(prev: str) -> str:
    """One unrolled sparse-PPR round — the exact twin of
    operators/graph.py:personalized_pagerank's loop body."""
    return f"""
        SELECT node, CAST(SUM(rank_fp) AS BIGINT) AS rank_fp FROM (
            SELECT node, rank_fp FROM tele
            UNION ALL
            SELECT e.dst AS node,
                   (r.rank_fp // d.outdeg) * 85 // 100 AS rank_fp
            FROM sedges e
            JOIN {prev} r ON e.src = r.node
            JOIN pdeg d ON e.src = d.src
        ) GROUP BY node
    """


@declared_query(
    "ppr_seed_part",
    oracle=f"""
    WITH {_O_SIMPLE}, pdeg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        FROM sedges GROUP BY src
    ), seedn AS (
        SELECT MIN(src) AS node FROM sedges
    ), r0 AS (
        SELECT node, CAST(1000000000000000 AS BIGINT) AS rank_fp
        FROM seedn
    ), tele AS (
        SELECT node,
               CAST(15 * 1000000000000000 // 100 AS BIGINT) AS rank_fp
        FROM seedn
    ), r1 AS ({_o_ppr_round("r0")}
    ), r2 AS ({_o_ppr_round("r1")}
    )
    SELECT node AS part_key, rank_fp,
           CAST(CAST(rank_fp AS DOUBLE) / 1e15 AS DOUBLE) AS ppr
    FROM r2 ORDER BY rank_fp DESC, part_key LIMIT 30
    """,
)
def ppr_seed_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X254: personalized PageRank around the lowest-numbered part in
    the co-purchase graph — all teleport mass returns to the SEED, so
    ranks measure relevance-to-the-anchor, not global importance (the
    related-items walk; X100's PageRank is the global twin). The
    seventh iterative graph operator
    (operators/graph.py:personalized_pagerank): fixed-point BIGINT
    ranks with SPARSE vectors — unreached nodes are exactly zero and
    ABSENT, so after k rounds work spans the k-hop ball around the
    seed, not |V| (what makes PPR cheap at 100 TB). The oracle
    unrolls the identical two rounds; full value hash, not rows-only.

    Exactness: messages are (rank DIV outdeg)·85 DIV 100 — all
    integer; the emitted probability is the exact integer divided by
    the constant 1e15. Scale: per round one |ball|-row join into the
    pre-partitioned edge cache + one combinable sum."""
    from ..operators.graph import personalized_pagerank

    sedges = _simple_edges(spark, sf_dir)
    seed = sedges.agg(F.min("src").alias("node"))
    pr = personalized_pagerank(sedges, seed, n_iter=2, damping_pct=85)
    return (
        pr.select(
            F.col("node").alias("part_key"),
            "rank_fp",
            (F.col("rank_fp").cast("double") / F.lit(1e15))
            .cast("double")
            .alias("ppr"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("part_key"))
        .limit(30)
    )


# ---- X255: 2-hop reach -------------------------------------------------------


@declared_query(
    "reach_2hop_parts",
    oracle=f"""
    WITH {_O_SIMPLE}, na AS (
        SELECT an.a, an.d, e.dst AS z FROM anchors an
        JOIN sedges e ON e.src = an.a
    ), two AS (
        SELECT DISTINCT na.a, e2.dst AS v
        FROM na JOIN sedges e2 ON e2.src = na.z
        WHERE e2.dst <> na.a
    ), strict2 AS (
        SELECT t.a, CAST(COUNT(*) AS BIGINT) AS n2
        FROM two t
        LEFT JOIN na nb ON nb.a = t.a AND nb.z = t.v
        WHERE nb.z IS NULL
        GROUP BY t.a
    )
    SELECT an.a AS part_key, an.d AS n_1hop,
           COALESCE(s.n2, 0) AS n_2hop_strict,
           an.d + COALESCE(s.n2, 0) AS reach,
           CAST(ROUND(CAST(COALESCE(s.n2, 0) AS DOUBLE)
                      / an.d, 6) AS DOUBLE) AS expansion
    FROM anchors an LEFT JOIN strict2 s ON an.a = s.a
    ORDER BY reach DESC, part_key
    """,
)
def reach_2hop_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X255: the neighborhood-size profile of the 30 highest-degree
    parts — exact 1-hop degree, strict-2-hop count (distance exactly
    2: reachable through a neighbor, not a neighbor, not self), total
    reach, and the expansion ratio n2/n1 (the branching factor that
    prices EVERY wedge-shaped operator — X130 triangles, X253
    Adamic-Adar, X172 clustering coefficient — before it runs; the
    graph twin of X144's join-skew audit). Anchor-bounded like X253:
    work is Σ_{{z ∈ N(anchors)}} deg z, never graph-wide Σdeg².

    Exactness: all counts exact BIGINT via DISTINCT + anti-join
    semantics (LEFT-join-null against the neighbor list); expansion
    is one division rounded 6."""
    sedges = _simple_edges(spark, sf_dir)
    _, anchors = _anchors(sedges)
    # same broadcast discipline as X253: the edge relation never
    # shuffles — both wedge legs are broadcast hash joins against the
    # anchor-bounded na relation.
    # anchor-bounded (30 x max-degree rows) and consumed twice (wedge
    # leg + the strict-2 anti list): materialize once, broadcast after
    na = sedges.join(
        F.broadcast(anchors), F.col("a") == sedges["src"]
    ).select("a", "d", F.col("dst").alias("z")).localCheckpoint()
    two = (
        sedges.withColumnRenamed("src", "z2")
        .join(
            F.broadcast(na),
            F.col("z") == F.col("z2"),
        )
        .where(F.col("dst") != F.col("a"))
        .select("a", F.col("dst").alias("v"))
        .distinct()
    )
    strict2 = (
        two.join(
            F.broadcast(na.select("a", F.col("z").alias("v"))),
            ["a", "v"],
            "left_anti",
        )
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    )
    return (
        anchors.join(strict2, "a", "left")
        .select(
            F.col("a").alias("part_key"),
            F.col("d").alias("n_1hop"),
            F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias(
                "n_2hop_strict"
            ),
            (F.col("d") + F.coalesce(F.col("n2"), F.lit(0)))
            .cast("bigint")
            .alias("reach"),
            F.round(
                F.coalesce(F.col("n2"), F.lit(0)).cast("double")
                / F.col("d"),
                6,
            ).alias("expansion"),
        )
        .orderBy(F.desc("reach"), F.asc("part_key"))
    )


# ---- X256: label propagation -------------------------------------------------


def _o_lp_round(prev: str, out: str) -> str:
    """One unrolled clamped-seed majority-vote round (DuckDB)."""
    return f"""
    v{out} AS (
        SELECT e.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS votes
        FROM sedges e JOIN {prev} l ON e.src = l.node
        WHERE l.label IS NOT NULL
        GROUP BY 1, 2
    ), b{out} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY votes DESC, label) AS rn
            FROM v{out}
        ) WHERE rn = 1
    ), l{out} AS (
        SELECT n.node, n.seeded,
               CASE WHEN n.seeded = 1 THEN n.seed_label
                    ELSE b.label END AS label
        FROM nodes n LEFT JOIN b{out} b ON n.node = b.node
    )
    """


@declared_query(
    "label_prop_brands",
    oracle=f"""
    WITH {_O_SIMPLE}, nodes AS (
        SELECT d.src AS node,
               CASE WHEN d.src % 3 = 0 THEN 1 ELSE 0 END AS seeded,
               CASE WHEN d.src % 3 = 0 THEN p.p_brand END AS seed_label
        FROM deg d JOIN part p ON d.src = p.p_partkey
    ), l0 AS (
        SELECT node, seeded, seed_label AS label FROM nodes
    ), {_o_lp_round("l0", "1")}, {_o_lp_round("l1", "2")}
    SELECT COALESCE(label, '(unlabeled)') AS label,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(seeded) AS BIGINT) AS n_seeds
    FROM l2 GROUP BY 1 ORDER BY 1
    """,
)
def label_prop_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X256: two rounds of clamped-seed label propagation — seed
    every third part with its brand, propagate by neighbor majority
    vote over the co-purchase graph (seeds never change; unlabeled
    nodes take the argmax vote with a LEXICOGRAPHIC tie-break;
    no labeled neighbor → stay unlabeled) — the semi-supervised
    labeler that spreads sparse annotations over an interaction
    graph, and the eighth iterative graph operator under the full
    value hash (the oracle unrolls both rounds; synchronous rounds +
    integer votes + total tie-break make the trajectory exact, where
    textbook async LPA is run-order-dependent). Emitted as the final
    per-label census (counts + seed counts) so the hash covers every
    node's final label through an order-free reduction.

    Scale: per round one |E|-row equi-join + one combinable vote
    aggregate + one partitioned argmax window; the node relation is
    |V| rows. Seeds clamp by CASE, not recompute."""
    sedges = _simple_edges(spark, sf_dir)
    p = load_table(spark, sf_dir, "part")
    deg = sedges.select("src").distinct()
    nodes = deg.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        deg["src"] == F.col("p_partkey"),
    ).select(
        F.col("src").alias("node"),
        F.when(F.col("src") % 3 == 0, 1).otherwise(0).alias("seeded"),
        F.when(F.col("src") % 3 == 0, F.col("p_brand")).alias(
            "seed_label"
        ),
    )
    nodes = nodes.localCheckpoint(eager=True)
    labels = nodes.select(
        "node", "seeded", F.col("seed_label").alias("label")
    )
    for _ in range(2):
        # the label table is catalog-bounded (one row per part in the
        # graph) — broadcast it so the 2.4M-row edge relation never
        # shuffles; the vote aggregate is map-side combinable
        votes = (
            sedges.join(
                F.broadcast(
                    labels.where(F.col("label").isNotNull())
                    .withColumnRenamed("node", "src")
                    .select("src", "label")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
        )
        w = Window.partitionBy("node").orderBy(
            F.desc("votes"), F.asc("label")
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", F.col("label").alias("best_label"))
        )
        labels = (
            nodes.join(F.broadcast(best), "node", "left")
            .select(
                "node",
                "seeded",
                F.when(
                    F.col("seeded") == 1, F.col("seed_label")
                )
                .otherwise(F.col("best_label"))
                .alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        labels.groupBy(
            F.coalesce(F.col("label"), F.lit("(unlabeled)")).alias(
                "label"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("seeded").cast("bigint").alias("n_seeds"),
        )
        .orderBy("label")
    )
