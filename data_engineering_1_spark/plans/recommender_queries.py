"""Recommender-systems declared queries (round 6, twenty-second batch
— [north-star] scope): the collaborative-filtering stack over the
order/part bipartite graph — neighbor index build, top-N serving,
association rules, exposure audit, replenishment cycles, and the
time-split offline evaluation that closes the loop.

  * ``item_item_cosine_topk`` (X233) — binary-cosine item-item
    neighbor lists (top-5 per part) from order co-occurrence — the
    index build every item-to-item recommender ("people who bought X
    also bought Y") serves from.
  * ``user_part_recs_topn`` (X234) — per-customer top-5 part
    recommendations scored by summed co-occurrence over the
    customer's purchase history through the X233 neighbor lists,
    already-bought parts excluded — the serving query.
  * ``assoc_rules_2item`` (X235) — directed association rules
    a→b with support / confidence / lift and integer-exact
    strength flags — the explainable-rules view of the same signal.
  * ``rec_exposure_coverage`` (X236) — catalog coverage + exposure
    Gini of the X233 top-5 lists — the aggregate-diversity audit
    (a recommender that only ever shows bestsellers has high
    accuracy and destroys the catalog).
  * ``repeat_purchase_cycle`` (X237) — per-part repeat-buyer rate
    and median days between a customer's consecutive purchase days
    — the replenishment-cycle signal behind "time to reorder"
    nudges.
  * ``rec_holdout_hitrate`` (X238) — time-split offline evaluation:
    train the co-occurrence index strictly BEFORE an 80%-span
    calendar cutoff, recommend top-10, measure precision@10 /
    hit-rate / mean recall on what each customer actually bought
    after — the number that decides whether X233 ships.

Determinism: all co-occurrence counts, item supports, exposure
counts, gap days, and hit counts are exact integers; every cosine /
support / confidence / lift / rate is a single division (or one
sqrt) of exact operands rounded 6; rule flags are integer
cross-multiplications with decimal staging sized under 38 digits;
ranking membership is decided on round-6 values with full
(part/customer) tie-breaks; per-user recalls are round-9
decimal-staged before the mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .registry import declared_query

# ---- shared SQL fragments -------------------------------------------------

# Distinct (order, part) incidence and per-part order support.
_O_ITEMS = """
    items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), supp AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_ord
        FROM items GROUP BY 1
    )
"""

# Undirected co-occurrence pair counts (part_a < part_b).
_O_PAIRS = """
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS co
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
"""

# Mirrored neighbor lists with supports and round-6 cosine, ranked
# top-5 per item (cosine DESC, neighbor ASC).
_O_NEIGHBORS = """
    directed AS (
        SELECT part_a AS item, part_b AS neighbor, co FROM pairs
        UNION ALL
        SELECT part_b AS item, part_a AS neighbor, co FROM pairs
    ), scored AS (
        SELECT d.item, d.neighbor, d.co,
               si.n_ord AS n_item, sn.n_ord AS n_neighbor,
               CAST(ROUND(CAST(d.co AS DOUBLE)
                          / sqrt(CAST(si.n_ord AS DOUBLE) * sn.n_ord),
                          6) AS DOUBLE) AS cosine
        FROM directed d
        JOIN supp si ON d.item = si.l_partkey
        JOIN supp sn ON d.neighbor = sn.l_partkey
        WHERE d.co >= 3
    ), neighbors AS (
        SELECT * FROM (
            SELECT s.*,
                   row_number() OVER (PARTITION BY item
                                      ORDER BY cosine DESC, neighbor)
                       AS rnk
            FROM scored s
        ) WHERE rnk <= 5
    )
"""


def _spark_items_supp_pairs(spark: SparkSession, sf_dir: str):
    """Distinct order-part incidence, per-part support, and the
    orderkey-bounded undirected pair counts (the X70 discipline: the
    self-join is keyed on l_orderkey so fan-out is items-per-order
    squared, never catalog-squared, and one orderkey partitioning
    serves distinct + join)."""
    # incidence, per-part support AND pair co-counts all served from
    # the session-registered checkpoints (operators/edgecache.py,
    # VERDICT r7 #4; support/co-count aggregates promoted r13 — four
    # queries re-ran the same two aggregations per query)
    from ..operators.edgecache import (
        copurchase_items,
        copurchase_pair_counts,
        copurchase_supp,
    )

    items = copurchase_items(spark, sf_dir)
    supp = copurchase_supp(spark, sf_dir)
    pairs = copurchase_pair_counts(spark, sf_dir).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        "co",
    )
    return items, supp, pairs


def _spark_neighbors(supp: DataFrame, pairs: DataFrame) -> DataFrame:
    """Top-5 neighbor lists per item by round-6 binary cosine
    co/sqrt(n_item*n_neighbor) with the (cosine DESC, neighbor ASC)
    total tie-break; candidate pairs need co >= 3. The support table
    is |parts|-sized and broadcasts into both joins."""
    directed = pairs.select(
        F.col("part_a").alias("item"),
        F.col("part_b").alias("neighbor"),
        "co",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("neighbor"),
            "co",
        )
    )
    # broadcast contract: `supp` is part-CATALOG-grain (one row per
    # part ever sold, bounded by the part dimension, ~2e8 rows x 16 B at
    # a 100 TB TPC-H scale ~ low-GB worst case) — a dimension-bounded
    # side, NOT fact/corpus-grain; acceptable to force, revisit only if
    # the catalog outgrows executor memory.
    si = F.broadcast(
        supp.select(
            F.col("l_partkey").alias("item"),
            F.col("n_ord").alias("n_item"),
        )
    )
    sn = F.broadcast(
        supp.select(
            F.col("l_partkey").alias("neighbor"),
            F.col("n_ord").alias("n_neighbor"),
        )
    )
    scored = (
        directed.where(F.col("co") >= 3)
        .join(si, "item")
        .join(sn, "neighbor")
        .select(
            "item",
            "neighbor",
            "co",
            "n_item",
            "n_neighbor",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(
                    F.col("n_item").cast("double") * F.col("n_neighbor")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.asc("neighbor")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= 5
    )


def _neighbors_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X233 top-5 neighbor relation, registered once per
    (app, sf_dir) via the edge-cache registry: item_item_cosine_topk,
    user_part_recs_topn and rec_exposure_coverage all consume the SAME
    5-per-item list (catalog-bounded) and each used to rebuild it —
    broadcast joins, cosine scoring, rank window — per query."""
    from ..operators.edgecache import session_cached

    def build() -> DataFrame:
        _, supp, pairs = _spark_items_supp_pairs(spark, sf_dir)
        return _spark_neighbors(supp, pairs)

    return session_cached(spark, sf_dir, "nb_top5", build)


# ---- X233: item-item cosine neighbor lists --------------------------------


@declared_query(
    "item_item_cosine_topk",
    oracle=f"""
    WITH {_O_ITEMS}, {_O_PAIRS}, {_O_NEIGHBORS}
    SELECT item, neighbor, CAST(rnk AS INTEGER) AS rnk, co,
           n_item, n_neighbor, cosine
    FROM neighbors ORDER BY item, rnk
    """,
)
def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X233: the item-to-item neighbor index — for every part, its
    top-5 co-purchase neighbors by binary cosine co/sqrt(na*nb) over
    the distinct-order incidence. This is the index build behind
    "people who bought X also bought Y": X70 ranks the global pair
    list, a recommender needs the per-item view with a normalized
    score (raw co just rediscovers bestsellers).

    Exactness: co/na/nb are exact BIGINTs; the cosine is ONE double
    expression on exact integer operands rounded 6; ranking and
    membership are decided on the rounded value with the neighbor-key
    tie-break. Scale: the pair self-join is l_orderkey-bounded
    (items-per-order squared); supports broadcast; the rank window
    partitions BY ITEM."""
    nb = _neighbors_cached(spark, sf_dir)
    return nb.select(
        "item",
        "neighbor",
        F.col("rnk").cast("int").alias("rnk"),
        "co",
        "n_item",
        "n_neighbor",
        "cosine",
    ).orderBy("item", "rnk")


# ---- X234: per-customer top-N serving -------------------------------------


@declared_query(
    "user_part_recs_topn",
    oracle=f"""
    WITH {_O_ITEMS}, {_O_PAIRS}, {_O_NEIGHBORS},
    bought AS (
        SELECT DISTINCT o.o_custkey, i.l_partkey
        FROM orders o JOIN items i ON o.o_orderkey = i.l_orderkey
    ), cand AS (
        SELECT b.o_custkey, n.neighbor AS part,
               CAST(SUM(n.co) AS BIGINT) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM bought b JOIN neighbors n ON b.l_partkey = n.item
        GROUP BY 1, 2
    ), unseen AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM bought s
            WHERE s.o_custkey = c.o_custkey AND s.l_partkey = c.part
        )
    )
    SELECT o_custkey, part, CAST(rnk AS INTEGER) AS rnk,
           score, n_paths
    FROM (
        SELECT u.*,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY score DESC, part) AS rnk
        FROM unseen u
    ) WHERE rnk <= 5
    ORDER BY o_custkey, rnk
    """,
)
def user_part_recs_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X234: the serving query — each customer's top-5 part
    recommendations, scored by the SUM of co-occurrence counts along
    the X233 neighbor lists from everything the customer ever bought,
    with already-bought parts anti-joined out. Candidate generation
    is bounded by design: |history| x 5 neighbor rows per customer,
    never |history| x |catalog|.

    Exactness: scores are exact BIGINT sums of exact counts
    (combinable, order-free); ranking is (score DESC, partkey) — a
    total integer order, no floats anywhere. Scale: one equi-join of
    the customer-part incidence against the 5-per-item neighbor
    relation, a left-anti join on the same incidence, and a
    per-customer rank window."""
    from ..operators.edgecache import copurchase_user_items

    nb = _neighbors_cached(spark, sf_dir)
    # r13: the per-customer purchase incidence comes from the session
    # cache (shared with hits_authority_parts); it is consumed twice
    # here (candidate join + already-bought anti-join)
    bought = copurchase_user_items(spark, sf_dir)
    cand = (
        bought.join(
            nb.select(
                F.col("item").alias("l_partkey"),
                F.col("neighbor").alias("part"),
                "co",
            ),
            "l_partkey",
        )
        .groupBy("o_custkey", "part")
        .agg(
            F.sum("co").cast("bigint").alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_paths"),
        )
    )
    unseen = cand.join(
        bought.select(
            "o_custkey", F.col("l_partkey").alias("part")
        ),
        ["o_custkey", "part"],
        "left_anti",
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("score"), F.asc("part")
    )
    return (
        unseen.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            "o_custkey",
            "part",
            F.col("rnk").cast("int").alias("rnk"),
            "score",
            "n_paths",
        )
        .orderBy("o_custkey", "rnk")
    )


# ---- X235: association rules ----------------------------------------------


@declared_query(
    "assoc_rules_2item",
    oracle=f"""
    WITH {_O_ITEMS}, {_O_PAIRS},
    tot AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
        FROM items
    ), rules AS (
        SELECT d.ante, d.cons, d.co, sa.n_ord AS n_ante,
               sc.n_ord AS n_cons, t.n
        FROM (
            SELECT part_a AS ante, part_b AS cons, co FROM pairs
            UNION ALL
            SELECT part_b AS ante, part_a AS cons, co FROM pairs
        ) d
        JOIN supp sa ON d.ante = sa.l_partkey
        JOIN supp sc ON d.cons = sc.l_partkey
        CROSS JOIN tot t
        WHERE d.co >= 5
    )
    SELECT ante, cons, co, n_ante, n_cons,
           CAST(ROUND(CAST(co AS DOUBLE) / n, 6) AS DOUBLE)
               AS support,
           CAST(ROUND(CAST(co AS DOUBLE) / n_ante, 6) AS DOUBLE)
               AS confidence,
           CAST(ROUND(CAST(co AS DOUBLE) * n
                      / (CAST(n_ante AS DOUBLE) * n_cons), 6)
                AS DOUBLE) AS lift,
           CAST(5 * co >= n_ante AS BOOLEAN) AS strong_conf,
           CAST(CAST(2 * co AS DECIMAL(19,0)) * n
                >= CAST(3 * n_ante AS DECIMAL(19,0)) * n_cons
                AS BOOLEAN) AS strong_lift
    FROM rules
    ORDER BY confidence DESC, ante, cons
    LIMIT 30
    """,
)
def assoc_rules_2item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X235: directed 2-item association rules ante→cons with
    support co/n, confidence co/n_ante, and lift co·n/(n_ante·n_cons)
    — the explainable-rules reading of the X233 signal (a cosine
    neighbor says "related"; a rule says "62% of baskets with A also
    contain B, 1.8x over chance", which is what category managers
    act on). Minimum support co >= 5; top-30 by confidence.

    Exactness: co / n_ante / n_cons / n are exact BIGINTs; the three
    ratios are single double divisions of exact operands rounded 6;
    the strength flags are integer cross-multiplications (conf >=
    0.2 <=> 5·co >= n_ante; lift >= 1.5 <=> 2·co·n >= 3·n_ante·
    n_cons, both sides DECIMAL-staged under 38 digits); membership
    and order decided on the round-6 confidence with the (ante,
    cons) tie-break. Scale: the pair join is orderkey-bounded; the
    1-row order count broadcasts (whitelisted cross)."""
    items, supp, pairs = _spark_items_supp_pairs(spark, sf_dir)
    tot = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    directed = pairs.select(
        F.col("part_a").alias("ante"),
        F.col("part_b").alias("cons"),
        "co",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("ante"),
            F.col("part_a").alias("cons"),
            "co",
        )
    )
    # broadcast contract: `supp` is part-CATALOG-grain (one row per
    # part ever sold, bounded by the part dimension, ~2e8 rows x 16 B at
    # a 100 TB TPC-H scale ~ low-GB worst case) — a dimension-bounded
    # side, NOT fact/corpus-grain; acceptable to force, revisit only if
    # the catalog outgrows executor memory.
    sa = F.broadcast(
        supp.select(
            F.col("l_partkey").alias("ante"),
            F.col("n_ord").alias("n_ante"),
        )
    )
    sc = F.broadcast(
        supp.select(
            F.col("l_partkey").alias("cons"),
            F.col("n_ord").alias("n_cons"),
        )
    )
    rules = (
        directed.where(F.col("co") >= 5)
        .join(sa, "ante")
        .join(sc, "cons")
        .crossJoin(F.broadcast(tot))
    )
    co_d = F.col("co").cast("double")
    return (
        rules.select(
            "ante",
            "cons",
            "co",
            "n_ante",
            "n_cons",
            F.round(co_d / F.col("n"), 6).alias("support"),
            F.round(co_d / F.col("n_ante"), 6).alias("confidence"),
            F.round(
                co_d
                * F.col("n")
                / (F.col("n_ante").cast("double") * F.col("n_cons")),
                6,
            ).alias("lift"),
            (5 * F.col("co") >= F.col("n_ante")).alias("strong_conf"),
            (
                (2 * F.col("co")).cast("decimal(19,0)") * F.col("n")
                >= (3 * F.col("n_ante")).cast("decimal(19,0)")
                * F.col("n_cons")
            ).alias("strong_lift"),
        )
        .orderBy(F.desc("confidence"), "ante", "cons")
        .limit(30)
    )


# ---- X236: exposure coverage + Gini ---------------------------------------


@declared_query(
    "rec_exposure_coverage",
    oracle=f"""
    WITH {_O_ITEMS}, {_O_PAIRS}, {_O_NEIGHBORS},
    exposure AS (
        SELECT neighbor AS part, CAST(COUNT(*) AS BIGINT) AS n_lists
        FROM neighbors GROUP BY 1
    ), ranked AS (
        SELECT n_lists,
               CAST(row_number() OVER (ORDER BY n_lists, part)
                    AS BIGINT) AS r
        FROM exposure
    ), catalog AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part
    )
    SELECT c.n_parts,
           CAST(COUNT(*) AS BIGINT) AS n_recommended,
           CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / c.n_parts, 6)
                AS DOUBLE) AS coverage,
           CAST(SUM(n_lists) AS BIGINT) AS total_slots,
           CAST(ROUND(CAST(2 * SUM(CAST(r AS DECIMAL(19,0)) * n_lists)
                           - (COUNT(*) + 1) * SUM(n_lists) AS DOUBLE)
                      / (CAST(COUNT(*) AS DOUBLE) * SUM(n_lists)), 6)
                AS DOUBLE) AS exposure_gini
    FROM ranked CROSS JOIN catalog c
    GROUP BY c.n_parts
    """,
)
def rec_exposure_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X236: the aggregate-diversity audit of the X233 index — what
    fraction of the catalog ever appears in a top-5 list (coverage),
    and how concentrated the exposure slots are across the parts that
    do (Gini over list-membership counts). Accuracy metrics reward
    recommending bestsellers everywhere; this is the counter-metric
    that catches it (the long-tail coverage a marketplace actually
    monetizes).

    Exactness: exposure counts and ranks are exact integers; the
    Gini is the rank-weighted identity (2·Σr·x − (n+1)·Σx)/(n·Σx) on
    DECIMAL-staged exact sums, ONE double division rounded 6 (X135's
    machinery). Scale: the exposure relation is <= |parts| rows; its
    rank window is whitelisted bounded-global; the 1-row catalog
    count broadcasts (whitelisted cross)."""
    nb = _neighbors_cached(spark, sf_dir)
    exposure = nb.groupBy(F.col("neighbor").alias("part")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists")
    )
    ranked = exposure.select(
        "n_lists",
        F.row_number()
        .over(Window.orderBy("n_lists", "part"))
        .cast("bigint")
        .alias("r"),
    )
    catalog = (
        load_table(spark, sf_dir, "part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    agg = ranked.crossJoin(F.broadcast(catalog)).groupBy("n_parts").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recommended"),
        F.sum("n_lists").cast("bigint").alias("total_slots"),
        F.sum(F.col("r").cast("decimal(19,0)") * F.col("n_lists"))
        .cast("decimal(38,0)")
        .alias("rx"),
    )
    return agg.select(
        "n_parts",
        "n_recommended",
        F.round(
            F.col("n_recommended").cast("double") / F.col("n_parts"), 6
        ).alias("coverage"),
        "total_slots",
        F.round(
            (
                2 * F.col("rx")
                - (F.col("n_recommended") + 1) * F.col("total_slots")
            ).cast("double")
            / (
                F.col("n_recommended").cast("double")
                * F.col("total_slots")
            ),
            6,
        ).alias("exposure_gini"),
    )


# ---- X237: repeat-purchase cycle ------------------------------------------


@declared_query(
    "repeat_purchase_cycle",
    oracle="""
    WITH cp_days AS (
        SELECT DISTINCT o.o_custkey, l.l_partkey,
               CAST(o.o_orderdate AS DATE) AS d
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), gaps AS (
        SELECT o_custkey, l_partkey,
               CAST(date_diff('day',
                    lag(d) OVER (PARTITION BY o_custkey, l_partkey
                                 ORDER BY d), d) AS BIGINT) AS gap
        FROM cp_days
    ), buyers AS (
        SELECT l_partkey,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_buyers,
               CAST(COUNT(DISTINCT CASE WHEN gap IS NOT NULL
                                        THEN o_custkey END) AS BIGINT)
                   AS n_repeat_buyers,
               CAST(COUNT(gap) AS BIGINT) AS n_gaps,
               CAST(quantile_cont(gap, 0.5) AS DOUBLE) AS median_gap
        FROM gaps GROUP BY 1
    )
    SELECT l_partkey, n_buyers, n_repeat_buyers, n_gaps,
           CAST(ROUND(CAST(n_repeat_buyers AS DOUBLE) / n_buyers, 6)
                AS DOUBLE) AS repeat_rate,
           CAST(median_gap AS DOUBLE) AS median_gap_days
    FROM buyers
    WHERE n_repeat_buyers >= 2
    ORDER BY n_repeat_buyers DESC, l_partkey
    LIMIT 30
    """,
)
def repeat_purchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X237: the replenishment-cycle signal — per part: how many
    distinct buyers, how many bought on more than one calendar day,
    and the median days between a customer's consecutive purchase
    days of that part. The number behind "time to reorder?" nudges
    and consumable-vs-durable segmentation; top-30 parts by repeat
    buyers.

    Exactness: purchase days reduce to DISTINCT (customer, part,
    day) before any window; gaps are exact integer day differences
    under the per-(customer, part) date order; the median is the
    exact interpolated order statistic over integers (dyadic — both
    engines agree bit-for-bit, the X18 argument); the repeat rate is
    one division rounded 6. Scale: the window partitions by
    (customer, part); aggregates are combinable per part."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cp_days = (
        o.select("o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("d"))
        .join(li.select("l_orderkey", "l_partkey"),
              o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_partkey", "d")
        .distinct()
    )
    w = Window.partitionBy("o_custkey", "l_partkey").orderBy("d")
    gaps = cp_days.select(
        "o_custkey",
        "l_partkey",
        F.datediff(F.col("d"), F.lag("d").over(w))
        .cast("bigint")
        .alias("gap"),
    )
    buyers = gaps.groupBy("l_partkey").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_buyers"),
        F.countDistinct(
            F.when(F.col("gap").isNotNull(), F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("n_repeat_buyers"),
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.expr("percentile(gap, 0.5)").alias("median_gap"),
    )
    return (
        buyers.where(F.col("n_repeat_buyers") >= 2)
        .select(
            "l_partkey",
            "n_buyers",
            "n_repeat_buyers",
            "n_gaps",
            F.round(
                F.col("n_repeat_buyers").cast("double")
                / F.col("n_buyers"),
                6,
            ).alias("repeat_rate"),
            F.col("median_gap").cast("double").alias("median_gap_days"),
        )
        .orderBy(F.desc("n_repeat_buyers"), "l_partkey")
        .limit(30)
    )


# ---- X238: time-split offline evaluation ----------------------------------


@declared_query(
    "rec_holdout_hitrate",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
               MIN(CAST(o_orderdate AS DATE))
               + CAST(4 * date_diff('day',
                        MIN(CAST(o_orderdate AS DATE)),
                        MAX(CAST(o_orderdate AS DATE))) // 5
                      AS INTEGER) AS cutoff
        FROM orders
    ), inc AS (
        SELECT DISTINCT o.o_custkey, l.l_partkey,
               CAST(o.o_orderdate AS DATE) <= b.cutoff AS is_train
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        CROSS JOIN bounds b
    ), train_items AS (
        SELECT DISTINCT o.o_orderkey AS l_orderkey, l.l_partkey
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        CROSS JOIN bounds b
        WHERE CAST(o.o_orderdate AS DATE) <= b.cutoff
    ), supp AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_ord
        FROM train_items GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS co
        FROM train_items a JOIN train_items b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ), neighbors AS (
        SELECT * FROM (
            SELECT d.item, d.neighbor, d.co,
                   row_number() OVER (
                       PARTITION BY d.item
                       ORDER BY CAST(ROUND(CAST(d.co AS DOUBLE)
                           / sqrt(CAST(si.n_ord AS DOUBLE)
                                  * sn.n_ord), 6) AS DOUBLE) DESC,
                           d.neighbor) AS rnk
            FROM (
                SELECT part_a AS item, part_b AS neighbor, co
                FROM pairs
                UNION ALL
                SELECT part_b AS item, part_a AS neighbor, co
                FROM pairs
            ) d
            JOIN supp si ON d.item = si.l_partkey
            JOIN supp sn ON d.neighbor = sn.l_partkey
            WHERE d.co >= 2
        ) WHERE rnk <= 5
    ), train_u AS (
        SELECT DISTINCT o_custkey, l_partkey FROM inc WHERE is_train
    ), test_u AS (
        SELECT i.o_custkey, i.l_partkey FROM inc i
        WHERE NOT i.is_train AND NOT EXISTS (
            SELECT 1 FROM train_u t
            WHERE t.o_custkey = i.o_custkey
              AND t.l_partkey = i.l_partkey
        )
    ), recs AS (
        SELECT * FROM (
            SELECT u.o_custkey, u.part, u.score,
                   row_number() OVER (PARTITION BY u.o_custkey
                                      ORDER BY u.score DESC, u.part)
                       AS rnk
            FROM (
                SELECT t.o_custkey, n.neighbor AS part,
                       CAST(SUM(n.co) AS BIGINT) AS score
                FROM train_u t JOIN neighbors n
                  ON t.l_partkey = n.item
                WHERE NOT EXISTS (
                    SELECT 1 FROM train_u s
                    WHERE s.o_custkey = t.o_custkey
                      AND s.l_partkey = n.neighbor
                )
                GROUP BY 1, 2
            ) u
        ) WHERE rnk <= 10
    ), per_user AS (
        SELECT t.o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(COUNT(r.part) AS BIGINT) AS hits
        FROM test_u t
        LEFT JOIN recs r ON r.o_custkey = t.o_custkey
                        AND r.part = t.l_partkey
        WHERE EXISTS (SELECT 1 FROM train_u tr
                      WHERE tr.o_custkey = t.o_custkey)
        GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_eval,
           CAST(SUM(n_test) AS BIGINT) AS total_test_items,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(ROUND(CAST(SUM(hits) AS DOUBLE)
                      / (10 * COUNT(*)), 6) AS DOUBLE)
               AS precision_at10,
           CAST(ROUND(CAST(SUM(CAST(hits > 0 AS BIGINT)) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS hit_rate,
           CAST(ROUND(CAST(SUM(CAST(ROUND(
                      CAST(hits AS DOUBLE) / n_test, 9)
                      AS DECIMAL(28,9))) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS mean_recall
    FROM per_user
    """,
)
def rec_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X238: the offline evaluation that decides whether X233 ships —
    split the calendar at 80% of the order-date span, build the
    co-occurrence neighbor index ONLY from pre-cutoff orders (co >=
    2 on the smaller train slice), recommend top-10 unseen parts per
    customer, and score against what each train-active customer
    newly bought after the cutoff: precision@10, any-hit rate, and
    mean per-user recall. The time split (never a random split) is
    what keeps the future out of the index — the recommender twin of
    X214's leakage-safe labels.

    Exactness: the cutoff is exact integer calendar arithmetic
    (min + 4·span DIV 5 days) from a 1-row broadcast aggregate
    (whitelisted cross); hits/test counts are exact integers;
    precision and hit-rate are single divisions rounded 6; per-user
    recalls are round-9 DECIMAL-staged before the mean (order-free
    sum). Scale: train pairs are orderkey-bounded; candidate
    generation is |history| x 5; every window partitions by customer
    or item."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.date_add(
            F.min(F.to_date("o_orderdate")),
            F.expr(
                "CAST(4 * datediff(MAX(CAST(o_orderdate AS DATE)),"
                " MIN(CAST(o_orderdate AS DATE))) DIV 5 AS INT)"
            ),
        ).alias("cutoff"),
    )
    # `inc` feeds train_items, train_u AND test_u; without materialization
    # the planner recomputes the orders x lineitem join + cutoff subtree
    # once per consumer (the r13-before plan held 66 parquet scans / 126
    # exchanges for this one query — ReuseExchange never fired because
    # each consumer's projection differs). One narrow localCheckpoint of
    # the 4-column fact-grain relation truncates all of them (guide
    # §2.4/§3.3: materialize a shared intermediate instead of paying the
    # scan-join repeatedly; at 100 TB the same discipline is a persisted
    # train/test split table).
    inc = (
        o.select("o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("od"))
        .join(li.select("l_orderkey", "l_partkey"),
              o["o_orderkey"] == li["l_orderkey"])
        .crossJoin(F.broadcast(bounds))
        .select(
            "o_custkey",
            "o_orderkey",
            "l_partkey",
            (F.col("od") <= F.col("cutoff")).alias("is_train"),
        )
        .localCheckpoint()
    )
    # used by supp + both sides of the co-occurrence self-join
    train_items = (
        inc.where("is_train")
        .select(F.col("o_orderkey").alias("l_orderkey"), "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    supp = train_items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ord")
    )
    a = train_items.alias("a")
    b = train_items.alias("b")
    # SHUFFLE_HASH: the orderkey-bounded self-join needs no sort (both
    # sides are the same checkpointed relation; per-partition build
    # fits), and the sort dominated the SMJ plan — the session A/B with
    # preferSortMergeJoin=false reproduced a ~1.1 s win on this query
    # twice, so pin the strategy here instead of flipping the global
    # default (guide §3.1; same discipline as the MBM hints)
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    )
    directed = pairs.select(
        F.col("part_a").alias("item"),
        F.col("part_b").alias("neighbor"),
        "co",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("neighbor"),
            "co",
        )
    )
    # broadcast contract: `supp` is part-CATALOG-grain (one row per
    # part ever sold, bounded by the part dimension, ~2e8 rows x 16 B at
    # a 100 TB TPC-H scale ~ low-GB worst case) — a dimension-bounded
    # side, NOT fact/corpus-grain; acceptable to force, revisit only if
    # the catalog outgrows executor memory.
    si = F.broadcast(
        supp.select(F.col("l_partkey").alias("item"),
                    F.col("n_ord").alias("n_item"))
    )
    sn = F.broadcast(
        supp.select(F.col("l_partkey").alias("neighbor"),
                    F.col("n_ord").alias("n_neighbor"))
    )
    wn = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.asc("neighbor")
    )
    neighbors = (
        directed.where(F.col("co") >= 2)
        .join(si, "item")
        .join(sn, "neighbor")
        .withColumn(
            "cosine",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(
                    F.col("n_item").cast("double") * F.col("n_neighbor")
                ),
                6,
            ),
        )
        .withColumn("rnk", F.row_number().over(wn))
        .where(F.col("rnk") <= 5)
        .select("item", "neighbor", "co")
    )
    # used by cand (positive join + seen-filter anti-join) and per_user
    train_u = (
        inc.where("is_train").select("o_custkey", "l_partkey").distinct()
        .localCheckpoint()
    )
    test_u = (
        inc.where(~F.col("is_train"))
        .select("o_custkey", "l_partkey")
        .distinct()
        .join(
            train_u.hint("shuffle_hash"),
            ["o_custkey", "l_partkey"],
            "left_anti",
        )
    )
    cand = (
        # neighbors is part-catalog grain x 5 (same broadcast contract
        # as si/sn above); broadcasting it keeps the train incidence
        # from shuffling for the candidate join
        train_u.join(
            F.broadcast(
                neighbors.select(
                    F.col("item").alias("l_partkey"),
                    F.col("neighbor").alias("part"),
                    "co",
                )
            ),
            "l_partkey",
        )
        .join(
            train_u.select(
                "o_custkey", F.col("l_partkey").alias("part")
            ).hint("shuffle_hash"),
            ["o_custkey", "part"],
            "left_anti",
        )
        .groupBy("o_custkey", "part")
        .agg(F.sum("co").cast("bigint").alias("score"))
    )
    wr = Window.partitionBy("o_custkey").orderBy(
        F.desc("score"), F.asc("part")
    )
    recs = (
        cand.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 10)
        .select(
            F.col("o_custkey").alias("r_custkey"),
            F.col("part").alias("r_part"),
            F.lit(1).alias("hit"),
        )
    )
    per_user = (
        test_u.join(
            train_u.select("o_custkey").distinct(), "o_custkey", "left_semi"
        )
        .join(
            recs,
            (F.col("o_custkey") == F.col("r_custkey"))
            & (F.col("l_partkey") == F.col("r_part")),
            "left",
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.count("hit").cast("bigint").alias("hits"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_eval"),
        F.sum("n_test").cast("bigint").alias("total_test_items"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.round(
            F.sum("hits").cast("double")
            / (10 * F.count(F.lit(1))),
            6,
        ).alias("precision_at10"),
        F.round(
            F.sum((F.col("hits") > 0).cast("bigint")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hit_rate"),
        F.round(
            F.sum(
                F.round(
                    F.col("hits").cast("double") / F.col("n_test"), 9
                ).cast("decimal(28,9)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_recall"),
    )
