"""Corpus-engineering declared queries (round 5, second batch):
sequence packing, distribution drift (PSI), cross-tab chi-squared,
unigram cross-entropy scoring, weighted sampling, per-domain quotas,
group-wise linear regression, and oracle-paired PageRank.

These close the remaining gaps a 100 TB TRAINING-DATA pipeline has
around the analytics core: turning a cleaned corpus into fixed-budget
training blocks, watching feature drift between time slices, scoring
documents against the corpus language model, capping any one domain's
share of the corpus, trend-fitting per segment, and ranking nodes of
the co-occurrence graph.

Scale notes:
  * ``pack_training_blocks`` assigns docs to fixed-token-budget blocks
    with the concat-and-chunk rule (block = running-token-offset DIV
    budget). The running sum is per SHARD — a hash shard is how a real
    packing job bounds window state, so no global single-partition
    cumsum exists anywhere; each shard's window is one partition of
    one shuffle.
  * ``psi_value_drift_events`` reduces the fact table ONCE to exact
    (type, period, bucket) counts; everything after runs on a ≤100-row
    grid. The PSI float sum is over a FIXED 10-term expression (one
    term per bucket, each a single value — never a float SUM whose
    order could vary), so the score is bit-stable on any engine.
  * ``priority_segment_chi2`` emits the per-cell expected counts and
    chi² contributions from one 25-row crosstab; totals are window
    sums over those 25 rows (whitelisted global window — the relation
    is the crosstab aggregate, never the fact table).
  * ``doc_unigram_xentropy`` joins the exploded token stream to the
    unigram counts on the token — the one shuffle; high-DF tokens are
    the classic skew key, which AQE skew-split handles at scale (X75
    pins that machinery). Per-doc -ln p sums go through the
    DECIMAL(28,12) cast so partial-aggregation order can't leak.
  * ``weighted_sample_orders`` is a pure per-row filter + top-k:
    priority keys are a deterministic function of the row key
    (Efraimidis–Spirakis via the portable md5 bridge), so the sample
    is reproducible across engines, runs, AND as the corpus grows —
    no RNG state, no shuffle, TakeOrderedAndProject for the k.
  * ``domain_quota_docs`` ranks within host by a hash (not doc_id, so
    the kept subset is an unbiased per-domain sample) and keeps ≤N —
    the domain-balancing pass every web corpus runs; one window on the
    host partitioning.
  * ``priority_price_trend`` computes least-squares slope/intercept
    from EXACT sums (BIGINT x, DECIMAL(18,2) y, exact x·y products):
    one map-side-combinable aggregate over the facts, float math only
    in the final closed-form division.
  * ``pagerank_copurchase`` runs operators/graph.py:pagerank over the
    symmetrized co-purchase multigraph in BIGINT FIXED POINT (1e-15
    units): integer messages, exact sums, integer damping — the DuckDB
    oracle reproduces the trajectory bit-exactly by unrolling the same
    iterations as CTEs. An ITERATIVE algorithm under the full
    value-hash gate, not rows-only.
  * ``vocab_coverage_95`` keeps the smallest count-ranked vocab
    covering 95% of occurrences; the keep rule is exact integer
    arithmetic and the one global window runs over the VOCAB relation
    (Heaps-law sublinear), never the token stream.
  * ``pmi_collocations_top30`` is two count aggregates + two equi-joins
    into the small unigram table; PMI stays a division CHAIN so no
    intermediate product leaves the exact-double range.
  * ``event_type_transitions`` is one user_id window + a 25-cell count
    aggregate; probabilities normalize over the tiny matrix.
  * ``asof_click_after_purchase`` completes the as-of pair with the
    FORWARD direction via the same merge pattern (one user sort,
    first-non-null over a forward frame) — never the
    |purchases|x|clicks| inequality join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.textanalysis import tokens
from .registry import declared_query
from .text_queries import _O_TOK

_PACK_BUDGET = 2048  # tokens per training block
_N_SHARDS = 4


def _md5_u32(salt: str, key) -> F.Column:
    """Portable uniform 32-bit int from md5(salt|key) — Spark half of
    the bridge used across sampling/dedup (DuckDB twin below)."""
    h = F.md5(F.concat_ws("|", F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")


def _o_md5_u32(salt: str, key_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('{salt}' || '|' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT)"
    )


@declared_query(
    "pack_training_blocks",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               ({_o_md5_u32('pack', 'doc_id')} % {_N_SHARDS}) AS shard,
               len({_O_TOK}) AS n_tok
        FROM documents
    ), pos AS (
        SELECT shard, doc_id, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS start_tok
        FROM d
    )
    SELECT shard, CAST(start_tok // {_PACK_BUDGET} AS BIGINT) AS block_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS block_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM pos
    GROUP BY shard, block_id
    ORDER BY shard, block_id
    """,
)
def pack_training_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: concat-and-chunk sequence packing — the step that turns a
    cleaned corpus into fixed-token-budget training blocks. Docs are
    hash-sharded (shards pack independently — the scale unit), ordered
    by doc_id within the shard, and each doc's block is its running
    token OFFSET div the budget (GPT-style concatenation packing: a
    doc belongs to the block where it starts). All-integer arithmetic;
    one shuffle (the shard window), block stats ride the same keys."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        (_md5_u32("pack", F.col("doc_id")) % _N_SHARDS).alias("shard"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = d.select(
        "shard",
        "doc_id",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("start_tok"),
    )
    return (
        pos.select(
            "shard",
            "doc_id",
            "n_tok",
            F.expr(f"start_tok DIV {_PACK_BUDGET}").alias("block_id"),
        )
        .groupBy("shard", "block_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("block_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard", "block_id")
    )


_N_PSI_BUCKETS = 10
_PSI_TERMS = ", ".join(
    f"SUM(CASE WHEN bucket = {i} THEN contr END) AS t{i}"
    for i in range(_N_PSI_BUCKETS)
)
_PSI_SUM = " + ".join(f"t{i}" for i in range(_N_PSI_BUCKETS))


@declared_query(
    "psi_value_drift_events",
    oracle=f"""
    WITH counts AS (
        SELECT event_type,
               LEAST(CAST(FLOOR(value / 50) AS INT), {_N_PSI_BUCKETS - 1})
                   AS bucket,
               SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS cnt_a,
               SUM(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END) AS cnt_b
        FROM events
        GROUP BY 1, 2
    ), grid AS (
        SELECT t.event_type, g.bucket,
               COALESCE(c.cnt_a, 0) AS cnt_a, COALESCE(c.cnt_b, 0) AS cnt_b
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(range({_N_PSI_BUCKETS})) AS bucket) g
        LEFT JOIN counts c
          ON c.event_type = t.event_type AND c.bucket = g.bucket
    ), prop AS (
        SELECT event_type, bucket,
               CAST(cnt_a + 1 AS DOUBLE)
                 / CAST(SUM(cnt_a) OVER (PARTITION BY event_type)
                        + {_N_PSI_BUCKETS} AS DOUBLE) AS p,
               CAST(cnt_b + 1 AS DOUBLE)
                 / CAST(SUM(cnt_b) OVER (PARTITION BY event_type)
                        + {_N_PSI_BUCKETS} AS DOUBLE) AS q
        FROM grid
    ), terms AS (
        SELECT event_type, bucket, (p - q) * ln(p / q) AS contr FROM prop
    ), pivoted AS (
        SELECT event_type, {_PSI_TERMS} FROM terms GROUP BY event_type
    )
    SELECT event_type,
           CAST(ROUND({_PSI_SUM}, 6) AS DOUBLE) AS psi
    FROM pivoted
    ORDER BY event_type
    """,
)
def psi_value_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94: population stability index per event type between the first
    and second half of the month — the drift monitor a feature/data
    pipeline runs between corpus versions. The fact table reduces ONCE
    to exact (type, bucket, period) counts; Laplace-smoothed
    proportions and the (p-q)·ln(p/q) terms live on the ≤50-row grid.
    The cross-bucket sum is a FIXED 10-term expression (each term picks
    the single value of one bucket), never an order-dependent float
    SUM — so the score hashes identically on any engine/partitioning."""
    ev = load_table(spark, sf_dir, "events")
    is_a = F.dayofmonth("ts") <= 15
    counts = ev.groupBy(
        "event_type",
        F.least(
            F.floor(F.col("value") / 50).cast("int"),
            F.lit(_N_PSI_BUCKETS - 1),
        ).alias("bucket"),
    ).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(is_a, 0).otherwise(1)).alias("cnt_b"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(_N_PSI_BUCKETS).select(
                F.col("id").cast("int").alias("bucket")
            )
        )
    )
    g = (
        grid.join(counts, ["event_type", "bucket"], "left")
        .fillna(0, subset=["cnt_a", "cnt_b"])
    )
    wt = Window.partitionBy("event_type")
    prop = g.select(
        "event_type",
        "bucket",
        (
            (F.col("cnt_a") + 1).cast("double")
            / (F.sum("cnt_a").over(wt) + _N_PSI_BUCKETS).cast("double")
        ).alias("p"),
        (
            (F.col("cnt_b") + 1).cast("double")
            / (F.sum("cnt_b").over(wt) + _N_PSI_BUCKETS).cast("double")
        ).alias("q"),
    )
    terms = prop.select(
        "event_type",
        "bucket",
        ((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias(
            "contr"
        ),
    )
    pivoted = terms.groupBy("event_type").agg(
        *[
            F.sum(F.when(F.col("bucket") == i, F.col("contr"))).alias(f"t{i}")
            for i in range(_N_PSI_BUCKETS)
        ]
    )
    psi = None
    for i in range(_N_PSI_BUCKETS):
        psi = F.col(f"t{i}") if psi is None else psi + F.col(f"t{i}")
    return pivoted.select(
        "event_type", F.round(psi, 6).cast("double").alias("psi")
    ).orderBy("event_type")


@declared_query(
    "priority_segment_chi2",
    oracle="""
    WITH cells AS (
        SELECT o.o_orderpriority AS priority, c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT priority, segment, n_obs,
               SUM(n_obs) OVER (PARTITION BY priority) AS row_tot,
               SUM(n_obs) OVER (PARTITION BY segment) AS col_tot,
               SUM(n_obs) OVER () AS grand
        FROM cells
    )
    SELECT priority, segment, n_obs,
           CAST(ROUND(CAST(row_tot * col_tot AS DOUBLE)
                      / CAST(grand AS DOUBLE), 6) AS DOUBLE) AS expected,
           CAST(ROUND(
               POW(CAST(n_obs AS DOUBLE)
                   - CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE),
                   2)
               / (CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE)),
               6) AS DOUBLE) AS chi2_term
    FROM tot
    ORDER BY priority, segment
    """,
)
def priority_segment_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95: chi-squared contingency analysis of order priority vs
    customer market segment — the categorical-independence check a
    pipeline runs to detect sampling bias between corpus slices. ONE
    aggregate over the joined facts (customer broadcasts) produces the
    25-cell crosstab; row/column/grand totals are window sums over
    those 25 rows (the global window is whitelisted: its input is the
    crosstab, never the facts). Expected counts and chi² terms derive
    from exact BIGINT totals via identical IEEE expressions — the
    per-cell outputs avoid any cross-cell float sum entirely."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    tot = cells.select(
        "priority",
        "segment",
        "n_obs",
        F.sum("n_obs").over(Window.partitionBy("priority")).alias("row_tot"),
        F.sum("n_obs").over(Window.partitionBy("segment")).alias("col_tot"),
        F.sum("n_obs").over(Window.partitionBy()).alias("grand"),
    )
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col(
        "grand"
    ).cast("double")
    return tot.select(
        "priority",
        "segment",
        "n_obs",
        F.round(e, 6).cast("double").alias("expected"),
        F.round(
            F.pow(F.col("n_obs").cast("double") - e, 2) / e, 6
        ).cast("double").alias("chi2_term"),
    ).orderBy("priority", "segment")


@declared_query(
    "doc_unigram_xentropy",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_O_TOK}) AS word FROM documents
    ), cnt AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS w_cnt FROM tok GROUP BY word
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(ROUND(
               CAST(SUM(CAST(-ln(CAST(c.w_cnt AS DOUBLE)
                                 / CAST(n.n_total AS DOUBLE))
                             AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*),
               6) AS DOUBLE) AS xent
    FROM tok t JOIN cnt c USING (word) CROSS JOIN n
    GROUP BY t.doc_id
    ORDER BY doc_id
    """,
)
def doc_unigram_xentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: per-document cross-entropy against the corpus unigram
    model — the cheap LM-quality score (gibberish and boilerplate sit
    at the distribution tails) used to rank/filter training documents.
    Two passes over the exploded tokens: the unigram counts, then a
    token-keyed join back (THE shuffle; AQE skew-split covers hot
    stop-words at scale — X75). N broadcasts as a 1-row aggregate.
    Each token's -ln p is one IEEE expression, cast ONCE to
    DECIMAL(28,12) and summed exactly per doc, so partial-aggregation
    order can't move the hash; final per-token mean rounds to 6."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    cnt = tok.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("w_cnt")
    )
    n = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    contr = (
        -F.log(
            F.col("w_cnt").cast("double") / F.col("n_total").cast("double")
        )
    ).cast("decimal(28,12)")
    return (
        tok.join(cnt, "word")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.round(
                F.sum(contr).cast("double") / F.count(F.lit(1)), 6
            ).cast("double").alias("xent"),
        )
        .orderBy("doc_id")
    )


@declared_query(
    "weighted_sample_orders",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, o_totalprice,
               ROUND(
                   ln(CAST({_o_md5_u32('ws', 'o_orderkey')} + 1 AS DOUBLE)
                      / 4294967297.0)
                   / o_totalprice, 9) AS sample_key
        FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           CAST(sample_key + 0.0 AS DOUBLE) AS sample_key
    FROM keyed
    ORDER BY sample_key DESC, o_orderkey
    LIMIT 200
    """,
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): each row draws a deterministic uniform u from the portable
    md5 bridge and ranks by ln(u)/w (equivalent to u^(1/w)); the top-k
    by that key IS a weighted sample — here 200 orders biased toward
    high o_totalprice. No RNG state, no shuffle (pure per-row math +
    TakeOrderedAndProject), reproducible across engines/runs/corpus
    growth, and upsampling-free (each key appears at most once). Keys
    round to 9 so a last-ulp ln() difference can't flip membership;
    ties break on the order key. The rounded key is canonicalized with
    `+ 0.0` on BOTH engines: rounding a tiny negative value can mint a
    signed zero, and Spark's BigDecimal round emits +0.0 where DuckDB's
    ROUND keeps -0.0 (the r5 one-row hash mismatch); IEEE `-0.0 + 0.0`
    is `+0.0`, so the addition makes the emitted key engine-stable."""
    orders = load_table(spark, sf_dir, "orders")
    u = (_md5_u32("ws", F.col("o_orderkey")) + 1).cast("double") / F.lit(
        4294967297.0
    )
    key = F.round(F.log(u) / F.col("o_totalprice"), 9) + F.lit(0.0)
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            key.cast("double").alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("o_orderkey"))
        .limit(200)
    )


_DOMAIN_QUOTA = 20


@declared_query(
    "domain_quota_docs",
    oracle=f"""
    WITH ranked AS (
        SELECT source || '.example.com' AS host, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rnk
        FROM documents
    )
    SELECT host, doc_id, CAST(rnk AS BIGINT) AS rnk
    FROM ranked
    WHERE rnk <= {_DOMAIN_QUOTA}
    ORDER BY host, rnk
    """,
)
def domain_quota_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: per-domain quota enforcement — the domain-balancing pass a
    web corpus runs so no host dominates training data. The host comes
    from a real URL via parse_url (the Spark-side surface; URLs are
    synthesized from the fixture's source column, so the oracle can
    derive the identical host by concatenation). Rank WITHIN host by a
    hash of the doc id — an unbiased per-domain sample, not
    first-N-by-id — and keep ≤ quota. One window on the host
    partitioning; at corpus scale hosts are numerous so the
    partitioning is well-spread, and WindowGroupLimit prunes each
    host's tail before the sort completes."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("doc_id").cast("string"),
    )
    d = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"), "doc_id"
    )
    w = Window.partitionBy("host").orderBy(
        F.md5(F.concat(F.lit("quota|"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        d.select(
            "host",
            "doc_id",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rnk") <= _DOMAIN_QUOTA)
        .orderBy("host", "rnk")
    )


@declared_query(
    "priority_price_trend",
    oracle="""
    WITH sums AS (
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(datediff('day', DATE '1995-01-01',
                            CAST(o_orderdate AS DATE))) AS sx,
               SUM(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                   * datediff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE))) AS sxx,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sy,
               SUM(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                   * CAST(o_totalprice AS DECIMAL(18,2))) AS sxy
        FROM orders
        GROUP BY 1
    ), fit AS (
        SELECT priority, n,
               CAST(ROUND(
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                   6) AS DOUBLE) AS slope,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        FROM sums
    )
    SELECT priority, n, slope,
           CAST(ROUND((syd - slope * sxd) / CAST(n AS DOUBLE), 6)
                AS DOUBLE) AS intercept
    FROM fit
    ORDER BY priority
    """,
)
def priority_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: group-wise least-squares trend (price vs order date per
    priority) — regr_slope/regr_intercept semantics WITHOUT the
    engines' float-merge internals: all five sufficient statistics
    (n, Σx, Σx², Σy, Σxy) aggregate exactly (BIGINT days,
    DECIMAL(18,2) money, exact products), then the closed-form slope/
    intercept is one shared IEEE expression, rounded 6. One map-side-
    combinable aggregate over the facts — the cheapest possible trend
    fit at 100 TB. The intercept reuses the ROUNDED slope so both
    engines feed identical inputs to the final division."""
    orders = load_table(spark, sf_dir, "orders")
    x = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    ).cast("bigint")
    y = F.col("o_totalprice").cast("decimal(18,2)")
    sums = orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = F.round(
        (nd * F.col("sxy").cast("double") - F.col("sx").cast("double")
         * F.col("sy").cast("double"))
        / (nd * F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double")),
        6,
    ).cast("double")
    fit = sums.select("priority", "n", slope.alias("slope"),
                      F.col("sx").cast("double").alias("sxd"),
                      F.col("sy").cast("double").alias("syd"))
    return fit.select(
        "priority",
        "n",
        "slope",
        F.round(
            (F.col("syd") - F.col("slope") * F.col("sxd"))
            / F.col("n").cast("double"),
            6,
        ).cast("double").alias("intercept"),
    ).orderBy("priority")


def _o_pr_iter(prev: str) -> str:
    """One unrolled PageRank iteration as DuckDB SQL — the exact twin
    of operators/graph.py:pagerank's loop body (BIGINT fixed point in
    units of 1e-15; all-integer ops, so the match is bit-exact)."""
    return f"""
        SELECT e.dst AS node,
               CAST((100 - 85) * 1000000000000000
                        // (100 * (SELECT n FROM nn))
                    + (SUM(p.rank_fp // d.outdeg) * 85) // 100
                    AS BIGINT) AS rank_fp
        FROM edges e
        JOIN {prev} p ON e.src = p.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    """


@declared_query(
    "pagerank_copurchase",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS (
        SELECT u AS src, v AS dst FROM pairs
        UNION ALL
        SELECT v AS src, u AS dst FROM pairs
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg
    ), pr0 AS (
        SELECT src AS node,
               CAST(1000000000000000 // (SELECT n FROM nn) AS BIGINT)
                   AS rank_fp
        FROM deg
    ), pr1 AS ({_o_pr_iter('pr0')}
    ), pr2 AS ({_o_pr_iter('pr1')}
    )
    SELECT node AS part_key, rank_fp,
           CAST(CAST(rank_fp AS DOUBLE) / 1e15 AS DOUBLE) AS pagerank
    FROM pr2
    ORDER BY rank_fp DESC, part_key
    LIMIT 30
    """,
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: PageRank over the co-purchase multigraph (parts linked
    when they share an order; parallel edges = stronger ties, i.e. a
    weighted walk), top 30 — the node-importance ranking a corpus
    pipeline runs on its link/citation graph for crawl priority or
    quality weighting. The iterative operator (operators/graph.py)
    pre-partitions the edge cache once and moves only the |V|-row rank
    table per iteration; FIXED-POINT BIGINT ranks (units of 1e-15,
    integer messages and damping) make the trajectory bit-
    reproducible, so the oracle UNROLLS the same two iterations as
    CTEs and the full value hash must match — an iterative graph
    algorithm under the strict gate, not rows-only. (A float
    formulation genuinely diverged in the 12th digit between engines;
    see the operator docstring.)"""
    from ..operators.edgecache import copurchase_edges
    from ..operators.graph import pagerank

    # edge build served from the session-registered pair checkpoint
    # (operators/edgecache.py, VERDICT r7 #4) — shared with the other
    # ten graph queries instead of re-running the lineitem self-join
    edges = copurchase_edges(spark, sf_dir)
    pr = pagerank(edges, n_iter=2, damping_pct=85)
    return (
        pr.select(
            F.col("node").alias("part_key"),
            "rank_fp",
            (F.col("rank_fp").cast("double") / F.lit(1e15))
            .cast("double")
            .alias("pagerank"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("part_key"))
        .limit(30)
    )


@declared_query(
    "vocab_coverage_95",
    oracle=f"""
    WITH cnt AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest({_O_TOK}) AS word FROM documents) t
        GROUP BY word
    ), ranked AS (
        SELECT word, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS BIGINT)
                   AS rank,
               SUM(n) OVER (ORDER BY n DESC, word
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n) OVER () AS total
        FROM cnt
    )
    SELECT word, n, rank,
           CAST(ROUND(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
                AS DOUBLE) AS cum_share
    FROM ranked
    WHERE (cum - n) * 20 < total * 19
    ORDER BY rank
    """,
)
def vocab_coverage_95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104: tokenizer-style vocabulary truncation — the smallest
    count-ranked vocab covering 95% of all token occurrences (the rest
    become <unk>). The keep rule is EXACT integer arithmetic
    ((cum − n)·20 < total·19, i.e. previous coverage < 95%), so
    membership can never ride a float boundary; only the reported
    cum_share is a rounded double. The global window runs over the
    VOCAB relation — distinct words grow ~ corpus^0.5 (Heaps' law),
    so at 100 TB this is millions of rows on one task, not the token
    stream; the token-stream reduction happens in the count aggregate
    below it (whitelisted with this justification)."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ww = Window.orderBy(F.desc("n"), F.asc("word"))
    ranked = cnt.select(
        "word",
        "n",
        F.row_number().over(ww).cast("bigint").alias("rank"),
        F.sum("n").over(ww.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    return (
        ranked.filter(
            (F.col("cum") - F.col("n")) * 20 < F.col("total") * 19
        )
        .select(
            "word",
            "n",
            "rank",
            F.round(
                F.col("cum").cast("double") / F.col("total").cast("double"),
                6,
            ).cast("double").alias("cum_share"),
        )
        .orderBy("rank")
    )


_PMI_MIN_COUNT = 5


@declared_query(
    "pmi_collocations_top30",
    oracle=f"""
    WITH toks AS (SELECT {_O_TOK} AS t FROM documents),
    bg AS (
        SELECT t[i] AS a, t[i+1] AS b
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        WHERE len(t) >= 2
    ), bgc AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b
    ), uni AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c_w
        FROM (SELECT unnest({_O_TOK}) AS word FROM documents) t
        GROUP BY word
    ), nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bg FROM bg),
    nu AS (
        SELECT CAST(SUM(c_w) AS BIGINT) AS n_uni FROM uni
    )
    SELECT g.a, g.b, g.c_ab,
           CAST(ROUND(ln(
               (CAST(g.c_ab AS DOUBLE) / CAST(nb.n_bg AS DOUBLE))
               / ((CAST(ua.c_w AS DOUBLE) / CAST(nu.n_uni AS DOUBLE))
                  * (CAST(ub.c_w AS DOUBLE) / CAST(nu.n_uni AS DOUBLE)))
           ), 6) AS DOUBLE) AS pmi
    FROM bgc g
    JOIN uni ua ON g.a = ua.word
    JOIN uni ub ON g.b = ub.word
    CROSS JOIN nb CROSS JOIN nu
    WHERE g.c_ab >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, a, b
    LIMIT 30
    """,
)
def pmi_collocations_top30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105: PMI collocation mining — the strongest word pairs
    (ln P(ab) / (P(a)P(b)) with a count floor), the classic corpus
    statistic behind phrase detection and tokenizer merge rules. Two
    count aggregates (bigrams, unigrams) + two equi-joins of the
    bigram counts to the (small) unigram table; the grand totals
    broadcast as 1-row aggregates. The PMI is one shared IEEE
    expression over exact BIGINT counts, kept as a DIVISION CHAIN so
    no intermediate product can leave the exact-double range; rounded
    6. Count floor decided on exact integers."""
    from ..operators.textanalysis import ngrams

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(tokens("text").alias("__toks"))
    bg = toked.select(F.explode(ngrams(F.col("__toks"), 2)).alias("bigram"))
    bgc = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .select(
            F.split(F.col("bigram"), " ")[0].alias("a"),
            F.split(F.col("bigram"), " ")[1].alias("b"),
            "c_ab",
        )
    )
    uni = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    )
    nb = bg.agg(F.count(F.lit(1)).cast("bigint").alias("n_bg"))
    nu = uni.agg(F.sum("c_w").cast("bigint").alias("n_uni"))
    ua = uni.select(F.col("word").alias("a"), F.col("c_w").alias("ca"))
    ub = uni.select(F.col("word").alias("b"), F.col("c_w").alias("cb"))
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("n_bg").cast("double"))
        / (
            (F.col("ca").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("cb").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    return (
        bgc.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(pmi, 6).cast("double").alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(30)
    )


@declared_query(
    "event_type_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ), cnt AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(ROUND(CAST(n AS DOUBLE)
                      / CAST(SUM(n) OVER (PARTITION BY from_type)
                             AS DOUBLE), 6) AS DOUBLE) AS prob
    FROM cnt
    ORDER BY from_type, to_type
    """,
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: first-order Markov transition matrix of event types — the
    sequence model behind journey analysis and synthetic-session
    generation. One user_id window (total (ts, event_id) order makes
    simultaneous events deterministic) feeds a 25-cell count
    aggregate; row-normalized probabilities derive from exact BIGINT
    counts via a window over the 25-row matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("from_type")).cast("double"),
            6,
        ).cast("double").alias("prob"),
    ).orderBy("from_type", "to_type")


@declared_query(
    "asof_click_after_purchase",
    oracle="""
    SELECT event_id, user_id, ts, click_event_id, click_ts
    FROM (
        SELECT p.event_id, p.user_id, p.ts,
               c.event_id AS click_event_id, c.ts AS click_ts,
               row_number() OVER (PARTITION BY p.event_id
                                  ORDER BY c.ts ASC, c.event_id ASC) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND c.ts >= p.ts
    ) t
    WHERE rn = 1
    """,
)
def asof_click_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: FORWARD as-of join (completes J7's direction pair): for
    every purchase, the EARLIEST click by the same user at-or-after
    its timestamp (tie-break: earliest ts, then smallest event_id) —
    the "next action after conversion" lookup. Same scalable merge
    pattern as the backward variant (one user_id sort, first-non-null
    carried over a FORWARD frame), never the |purchases|x|clicks|
    inequality join. Purchases sort BEFORE clicks at an identical
    timestamp so a same-instant click is found, mirroring the
    oracle's c.ts >= p.ts."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.struct(
            F.col("ts").alias("ts"), F.col("event_id").alias("event_id")
        ).alias("click_info"),
        F.lit(0).alias("is_purchase"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None)
        .cast("struct<ts:timestamp,event_id:bigint>")
        .alias("click_info"),
        F.lit(1).alias("is_purchase"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_purchase"), "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    with_next = merged.withColumn(
        "next_click", F.first("click_info", ignorenulls=True).over(w)
    )
    return with_next.filter(F.col("is_purchase") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.col("next_click.event_id").alias("click_event_id"),
        F.col("next_click.ts").alias("click_ts"),
    )


# the oracle must hash exactly the prefix the stored index hashed
from ..operators.sigcache import FP_TOKENS as _FP_TOKENS  # noqa: E402


@declared_query(
    "incremental_dedup_ingest",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice({_O_TOK}, 1, {_FP_TOKENS}), ' ')) AS fp
        FROM documents
    ), corpus AS (
        SELECT DISTINCT fp FROM f WHERE doc_id % 10 != 0
    )
    SELECT i.doc_id, i.fp,
           (c.fp IS NOT NULL) AS is_dup
    FROM (SELECT * FROM f WHERE doc_id % 10 = 0) i
    LEFT JOIN corpus c ON i.fp = c.fp
    ORDER BY doc_id
    """,
)
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108: incremental-ingest dedup — the admission gate a LIVE corpus
    runs on every new batch: fingerprint the incoming docs (md5 of the
    first {_FP_TOKENS} tokens — the stored-index discipline; swap in
    the minhash signature for near-dup admission) and split them
    against the existing corpus' fingerprint index with ONE equi-join.
    At scale the corpus side is the persisted index table (X37's
    build/read pattern), bucketed on fp so the daily admission join is
    shuffle-free (X24); it is never the corpus text itself — and since
    r10 that is literally what runs: both sides read the registered
    (doc_id, fp) index (`operators/sigcache.py::document_fingerprints`),
    so the corpus is tokenized once per session, not once per run."""
    from ..operators.sigcache import document_fingerprints

    f = document_fingerprints(spark, sf_dir)
    corpus = (
        f.filter(F.col("doc_id") % 10 != 0).select("fp").distinct()
        .withColumn("__hit", F.lit(1))
    )
    incoming = f.filter(F.col("doc_id") % 10 == 0)
    return (
        incoming.join(corpus, "fp", "left")
        .select(
            "doc_id",
            "fp",
            F.col("__hit").isNotNull().alias("is_dup"),
        )
        .orderBy("doc_id")
    )


_BP_DF_FRAC = 0.05  # shingle is boilerplate if present in >= 5% of docs


@declared_query(
    "boilerplate_shingles",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_O_TOK} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1]) AS shingle
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - 1)) AS i) s
        WHERE len(t) >= 2
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    df AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh
        GROUP BY shingle
    )
    SELECT shingle, df,
           CAST(ROUND(CAST(df AS DOUBLE) / CAST(nd.n_docs AS DOUBLE), 6)
                AS DOUBLE) AS df_frac
    FROM df CROSS JOIN nd
    WHERE df * 100 >= n_docs * {int(_BP_DF_FRAC * 100)}
    ORDER BY df DESC, shingle
    """,
)
def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X109: boilerplate/template detection — shingles whose DOCUMENT
    frequency crosses a corpus-fraction threshold (headers, footers,
    nav text in a web corpus; the C4 'repeated across documents'
    cleaning signal, distinct from X44's within-document repetition
    and X50's unigram heavy hitters). distinct(doc, shingle) →
    map-side-combinable DF count (one shuffle on the shingle); the doc
    total broadcasts as a 1-row aggregate; threshold decided on EXACT
    integers (df·100 ≥ n_docs·5), only the reported fraction rounds."""
    from ..operators.textanalysis import ngrams

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id", tokens("text").alias("__toks")
        )
        .select(
            "doc_id", F.explode(ngrams(F.col("__toks"), 2)).alias("shingle")
        )
        .distinct()
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    df = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return (
        df.crossJoin(F.broadcast(nd))
        .filter(
            F.col("df") * 100 >= F.col("n_docs") * int(_BP_DF_FRAC * 100)
        )
        .select(
            "shingle",
            "df",
            F.round(
                F.col("df").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).cast("double").alias("df_frac"),
        )
        .orderBy(F.desc("df"), "shingle")
    )


@declared_query(
    "segment_balance_nth_values",
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment AS segment,
               row_number() OVER w AS rn,
               first_value(c_acctbal) OVER w AS top_bal,
               nth_value(c_acctbal, 2) OVER w AS second_bal,
               nth_value(c_acctbal, 3) OVER w AS third_bal,
               last_value(c_acctbal) OVER w AS bottom_bal
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    )
    SELECT segment, top_bal, second_bal, third_bal, bottom_bal
    FROM ranked WHERE rn = 1
    ORDER BY segment
    """,
)
def segment_balance_nth_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110: nth_value / first_value / last_value over an explicit
    full-partition frame (completes §2.7 W2's positional-window family
    beyond lag/lead): per market segment, the 1st/2nd/3rd-highest and
    lowest account balance in one window pass. The compound
    (c_acctbal DESC, c_custkey) order makes every position
    deterministic; all four functions plus the rn selector ride ONE
    segment partitioning. Balances are selections of existing doubles
    — no float arithmetic to diverge."""
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.row_number()
        .over(
            Window.partitionBy("c_mktsegment").orderBy(
                F.desc("c_acctbal"), F.asc("c_custkey")
            )
        )
        .alias("rn"),
        F.first("c_acctbal").over(w).alias("top_bal"),
        F.nth_value("c_acctbal", 2).over(w).alias("second_bal"),
        F.nth_value("c_acctbal", 3).over(w).alias("third_bal"),
        F.last("c_acctbal").over(w).alias("bottom_bal"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select("segment", "top_bal", "second_bal", "third_bal", "bottom_bal")
        .orderBy("segment")
    )
