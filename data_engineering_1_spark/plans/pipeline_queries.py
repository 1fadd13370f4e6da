"""Warehouse-pipeline declared queries (round 5): column profiling,
SCD2 state history, threshold heavy hitters, event-path mining, per-key
anomaly z-scores, snapshot diff (CDC classify), and PII redaction.

These are the data-engineering staples a training-data pipeline runs
around the analytics proper: profile what landed, version dimension
state, find dominant sequences/values, flag outliers, diff snapshots,
scrub identifiers. Each is one declarative plan with a DuckDB twin.

Scale notes:
  * ``profile_orders_columns`` profiles each column as a pure
    HashAggregate over its values plus a tiny aggregate over the
    distinct set; every branch's scan is pruned to its own column, so
    on a columnar store the union of branches costs the same I/O as
    one wide scan. At 100 TB swap the exact distinct for
    ``approx_count_distinct`` (X11's sketch) — the plan shape is
    unchanged.
  * ``scd2_user_state_history`` is two windows over ONE user_id
    partitioning — the change-point filter and the valid_to lead reuse
    the same shuffle (no self-join; the naive SCD2 build is a
    snapshot×snapshot join).
  * ``heavy_hitter_tokens`` is explode → map-side-combinable count +
    a broadcast 1-row total; no driver collect, no second scan of the
    corpus. Threshold semantics (support ≥ frac) rather than top-k:
    membership is data-defined, the classic stop-word/boilerplate
    detector in corpus cleaning.
  * ``daily_event_anomalies`` keeps mean/variance as exact BIGINT
    sums (s1, s2) inside the window and derives z from the SAME IEEE
    expression tree on both engines — deterministic without any
    stddev_samp implementation coupling.
  * ``snapshot_diff_orders`` is one full-outer join on the key —
    the CDC classify step of X35's MERGE, expressed as a query. At
    scale both snapshots would be bucketed on the key (X24) making
    the diff shuffle-free.
  * ``pii_redact_docs`` is pure in-row regex codegen (zero
    exchanges before the final output), the redaction pass every
    public-corpus pipeline runs before training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.textanalysis import tokens
from ._discipline import o_r6_exact, r6_exact
from .registry import declared_query
from .text_queries import _O_TOK

_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        if c in ("o_custkey",):
            mn = f"CAST(MIN({c}) AS VARCHAR)"
            mx = f"CAST(MAX({c}) AS VARCHAR)"
        elif c == "o_totalprice":
            mn = f"CAST(MIN(CAST({c} AS DECIMAL(18,2))) AS VARCHAR)"
            mx = f"CAST(MAX(CAST({c} AS DECIMAL(18,2))) AS VARCHAR)"
        else:
            mn = f"MIN({c})"
            mx = f"MAX({c})"
        parts.append(
            f"""
            SELECT '{c}' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
                   CAST(ROUND(CAST(COUNT(*) - COUNT({c}) AS DOUBLE)
                              / COUNT(*), 6) AS DOUBLE) AS null_frac,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                   {mn} AS min_val,
                   {mx} AS max_val
            FROM orders"""
        )
    return " UNION ALL ".join(parts)


@declared_query("profile_orders_columns", oracle=_profile_oracle())
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling / data-quality summary (X48): per column —
    row count, null count+fraction, exact distinct count, min/max
    (stringified so heterogenous column types share one report
    schema). Each column profiles as groupBy(value).count — a pure
    HashAggregate with map-side combine — then a tiny second-level
    aggregate over the DISTINCT set derives rows/nulls/distinct/
    min/max (n_rows = SUM(cnt), so the second pass touches only
    |distinct| rows). The naive alternative — one multi-DISTINCT
    aggregate — plans string min/max as a SortAggregate over the
    Expand-multiplied input (measured 3x slower at sf0.1 and a full
    width-x-rows sort at 100 TB); per-column branches also each read
    only their own column, which on a columnar store is the same
    total I/O as one wide scan."""
    orders = load_table(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        if c == "o_totalprice":
            v = F.col(c).cast("decimal(18,2)")
        else:
            v = F.col(c)
        g = (
            orders.select(v.alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        one = g.agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_null"),
            F.count("v").cast("bigint").alias("n_distinct"),
            F.min("v").cast("string").alias("min_val"),
            F.max("v").cast("string").alias("max_val"),
        )
        parts.append(one.select(F.lit(c).alias("column_name"), "*"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "column_name",
        "n_rows",
        "n_null",
        F.round(F.col("n_null").cast("double") / F.col("n_rows"), 6)
        .cast("double")
        .alias("null_frac"),
        "n_distinct",
        "min_val",
        "max_val",
    )


@declared_query(
    "scd2_user_state_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), changes AS (
        SELECT user_id, event_type AS state, ts AS valid_from, event_id
        FROM ordered
        WHERE prev_type IS DISTINCT FROM event_type
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id)
                AS BIGINT) AS version,
           CAST(CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                                 ORDER BY valid_from, event_id)
                          IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_current
    FROM changes
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build (X49): compress each user's event-type
    stream into versioned state intervals — a row per state CHANGE
    with [valid_from, valid_to) bounds, a version counter, and an
    is_current flag. Both windows (change-point lag; valid_to lead +
    version) ride one user_id partitioning: a single shuffle, no
    snapshot self-join. Total order inside a user is (ts, event_id)
    so simultaneous events can't make valid_to nondeterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.expr("prev_type IS DISTINCT FROM event_type"))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("bigint").alias("version"),
        F.lead("valid_from").over(w2).isNull().cast("int").alias("is_current"),
    )


@declared_query(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({_O_TOK}) AS word FROM documents
    ), counts AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY word
    ), total AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total_n FROM counts
    )
    SELECT word, n,
           CAST(ROUND(CAST(n AS DOUBLE) / total_n, 6) AS DOUBLE) AS support
    FROM counts, total
    WHERE CAST(n AS DOUBLE) / total_n >= 0.005
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold heavy hitters (X50): every token whose corpus
    frequency is >= 0.5% of ALL tokens — the stop-word/boilerplate
    detector (membership is support-defined, unlike X13/top-k whose
    membership shifts with corpus size). explode → one combinable
    count shuffle; the grand total is a 1-row aggregate broadcast
    back (never a driver collect). Zipfian text guarantees a small,
    stable result set at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("total_n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n").cast("double") / F.col("total_n") >= 0.005)
        .select(
            "word",
            "n",
            F.round(F.col("n").cast("double") / F.col("total_n"), 6)
            .cast("double")
            .alias("support"),
        )
    )


@declared_query(
    "user_event_paths_top30",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 30
    """,
)
def user_event_paths_top30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path mining (X51): each user's first-5-event journey as
    an ordered '>'-joined path string, then the 30 most common paths.
    The per-user ordering comes from sorting the collected (rn, type)
    structs INSIDE the row (``array_sort`` after ``collect_list``) —
    no reliance on collect_list ordering (which is
    partition-dependent) and no secondary sort shuffle. Top-30 is
    TakeOrderedAndProject with the unique path as tie-break."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 5)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(30)
    )


@declared_query(
    "daily_event_anomalies",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS event_day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), st AS (
        SELECT user_id, event_day, cnt,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_days,
               CAST(SUM(cnt) OVER w AS BIGINT) AS s1,
               CAST(SUM(cnt * cnt) OVER w AS BIGINT) AS s2
        FROM daily WINDOW w AS (PARTITION BY user_id)
    )
    SELECT user_id, event_day, cnt,
           CAST(ROUND((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / n_days)
                / sqrt((CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                       / (n_days - 1)), 6) AS DOUBLE) AS z
    FROM st
    WHERE n_days >= 3
      AND (CAST(s2 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days) / (n_days - 1) > 0
      AND abs(ROUND((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / n_days)
                / sqrt((CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                       / (n_days - 1)), 6)) >= 2
    """,
)
def daily_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key anomaly detection (X52): a user's daily event count is
    anomalous when its z-score vs that user's own history is >= 2.
    Mean/variance are derived from exact BIGINT window sums (s1, s2)
    — never a stddev_samp call, whose partial-merge order could
    differ between engines in the last ulp — and z is the SAME IEEE
    expression tree on both sides, so the rounded value (and the
    threshold decision made on the ROUNDED value) is deterministic.
    One groupBy shuffle + one unbounded user window."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("event_day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id")
    st = daily.select(
        "user_id",
        "event_day",
        "cnt",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_days"),
        F.sum("cnt").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("bigint").alias("s2"),
    )
    c = F.col("cnt").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    n = F.col("n_days")
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    z6 = F.round((c - s1 / n) / F.sqrt(var), 6)
    return (
        st.where((n >= 3) & (var > 0) & (F.abs(z6) >= 2))
        .select("user_id", "event_day", "cnt", z6.cast("double").alias("z"))
    )


@declared_query(
    "snapshot_diff_orders",
    oracle="""
    WITH snap_old AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM orders WHERE o_orderkey % 7 <> 0
    ), snap_new AS (
        SELECT o_orderkey,
               CAST(CASE WHEN o_orderkey % 3 = 0
                         THEN CAST(o_totalprice AS DECIMAL(18,2))
                              + CAST(10.00 AS DECIMAL(18,2))
                         ELSE CAST(o_totalprice AS DECIMAL(18,2))
                    END AS DOUBLE) AS price
        FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.price AS old_price,
           n.price AS new_price
    FROM snap_old o FULL OUTER JOIN snap_new n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.price <> n.price
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC classify (X53): full-outer join two table
    versions on the key and emit only the changed rows tagged
    insert / delete / update — the change-detection half of X35's
    MERGE and X42's CDC sink, as a standalone query. The two
    snapshots are deterministic derivations of the fixture (key mod
    filters; every 3rd key's price bumped by an exact DECIMAL 10.00).
    One shuffle on the join key; at scale both snapshots would be
    bucketed on it (X24) and the diff becomes shuffle-free."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    old = orders.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", price.cast("double").alias("price")
    )
    new = orders.where(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            price + F.lit(10.00).cast("decimal(18,2)"),
        )
        .otherwise(price)
        .cast("double")
        .alias("price"),
    )
    j = old.alias("o").join(
        new.alias("n"), on=F.col("o.o_orderkey") == F.col("n.o_orderkey"), how="full"
    )
    # change detection on JOIN-KEY nullness (matching the oracle
    # exactly): a key present in both snapshots with a NULL price on
    # both sides is UNCHANGED (NULL <> NULL is not true), not an update
    return j.where(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.price") != F.col("n.price"))
    ).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        F.col("o.price").alias("old_price"),
        F.col("n.price").alias("new_price"),
    )


_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"\+1-555-[0-9][0-9][0-9][0-9]"


@declared_query(
    "pii_redact_docs",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               substr(text, 1, 120) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or +1-555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(body, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(body, '{_PHONE_RE}')) AS INT) AS n_phones,
           substr(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                                 '{_PHONE_RE}', '[PHONE]', 'g'),
                  1, 200) AS redacted
    FROM aug
    """,
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (X54): the scrub-before-training pass — count and
    mask email/phone patterns. The fixture corpus carries no PII, so
    each doc is first augmented with a deterministic synthetic email +
    phone derived from its id (the regexes are then provably
    exercised: every row must report >=1 of each). Entirely in-row
    regex codegen — zero exchanges — and the patterns stay in the
    POSIX subset both engines' regex dialects share (no \\d, no
    {{n}} quantifier: DuckDB RE2 vs java.util.regex)."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.substring("text", 1, 120),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select("doc_id", body.alias("body"))
    redacted = F.regexp_replace(
        F.regexp_replace("body", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("body", F.lit(_EMAIL_RE), 0)).cast("int").alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("body", F.lit(_PHONE_RE), 0)).cast("int").alias(
            "n_phones"
        ),
        F.substring(redacted, 1, 200).alias("redacted"),
    )


@declared_query(
    "customer_percentile_ranks",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           CAST(ROUND(percent_rank() OVER (PARTITION BY c_mktsegment
                                           ORDER BY c_acctbal, c_custkey), 6)
                AS DOUBLE) AS pr,
           CAST(ROUND(cume_dist() OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal, c_custkey), 6)
                AS DOUBLE) AS cd
    FROM customer
    """,
)
def customer_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist (X56, completing the W1 ranking
    family): each customer's relative position within their market
    segment by balance. The (c_acctbal, c_custkey) compound ordering
    makes tie handling — where the two functions genuinely differ —
    deterministic and identical across engines. Both ranks ride one
    segment partitioning."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pr"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cd"),
    )


@declared_query(
    "ohlc_hourly_values",
    oracle="""
    WITH r AS (
        SELECT event_type, date_trunc('hour', ts) AS bar_hour, value,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, bar_hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_val,
           MAX(value) AS high_val,
           MIN(value) AS low_val,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_val,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r GROUP BY event_type, bar_hour
    """,
)
def ohlc_hourly_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (X57): the time-series downsampling rollup —
    per (event_type, hour): opening/closing value plus high/low/count.
    open/close are ``min_by``/``max_by`` keyed on (ts, event_id)
    packed into one DECIMAL(38,0) (ts_us * 1e10 + event_id): the
    packed key is totally ordered so ties are impossible, AND it is
    fixed-width — a struct ordering key demotes the whole aggregate
    to SortAggregate (full sort of the input), while the decimal key
    keeps it ONE HashAggregate with map-side combine (pinned). The
    oracle twin needs two full row_number windows to express the same
    thing — exactly the sort this shape avoids at scale. All outputs
    are selections of existing doubles (never sums), so values hash
    exactly."""
    ev = load_table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    # packing contract: event_id < 1e10 (fixture max ~1e5; at larger id
    # spaces raise the multiplier — ts_us(16 digits) x up to 1e21 still
    # fits DECIMAL(38,0))
    key = (
        F.unix_micros(F.col("ts").cast("timestamp")).cast(d38)
        * F.lit(10_000_000_000).cast(d38)
        + F.col("event_id").cast(d38)
    )
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bar_hour"))
        .agg(
            F.min_by("value", key).alias("open_val"),
            F.max("value").alias("high_val"),
            F.min("value").alias("low_val"),
            F.max_by("value", key).alias("close_val"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@declared_query(
    "time_weighted_avg_values",
    oracle="""
    WITH iv AS (
        SELECT user_id, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_us) AS BIGINT) AS total_dt_us,
           CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2)) * dt_us)
                           AS DOUBLE) / SUM(dt_us), 6) AS DOUBLE) AS twa
    FROM iv WHERE dt_us IS NOT NULL
    GROUP BY user_id
    HAVING SUM(dt_us) > 0
    """,
)
def time_weighted_avg_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (X58): the irregular-series mean that
    weights each observation by how long it was 'current' (until the
    user's next event). Weights are exact BIGINT microsecond deltas
    (epoch_us on both engines — never float seconds) and the weighted
    sum multiplies DECIMAL(18,2)-cast values by those integers, so
    the aggregate is exact and order-independent; only the final
    division is floating point, rounded on both sides. One user_id
    window + one groupBy on the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    iv = ev.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w).cast("timestamp")) - us("ts")).alias(
            "dt_us"
        ),
    ).where(F.col("dt_us").isNotNull())
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dt_us").cast("bigint").alias("total_dt_us"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)") * F.col("dt_us")).cast(
                    "double"
                )
                / F.sum("dt_us"),
                6,
            )
            .cast("double")
            .alias("twa"),
        )
        .where(F.col("total_dt_us") > 0)
    )


@declared_query(
    "benchmark_contamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_O_TOK} AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS s
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - 4)) AS i) g
        WHERE len(t) >= 5
    ), bench AS (
        SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0
    ), corpus AS (
        SELECT doc_id, s FROM sh WHERE doc_id % 25 <> 0
    ), tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM corpus GROUP BY doc_id
    ), hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM corpus JOIN bench USING (s) GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_shingles, h.n_hits,
           CAST(ROUND(CAST(h.n_hits AS DOUBLE) / t.n_shingles, 6)
                AS DOUBLE) AS contamination
    FROM tot t JOIN hits h USING (doc_id)
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination check (X59): the eval-hygiene pass every
    training pipeline needs — fraction of a document's 5-word shingles
    that appear anywhere in a held-out 'benchmark' set (here the
    deterministic doc_id %% 25 == 0 slice). The benchmark's DISTINCT
    shingle set is small (benchmarks are by definition tiny next to a
    corpus) and broadcasts into the hit join; corpus shingles stream
    through map-side — no shuffle of the corpus itself for the hit
    count. Only contaminated docs are emitted."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import shingles_from_tokens

    toks = docs.select("doc_id", tokens("text").alias("t"))
    sh = toks.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("t"), k=5)).alias("s")
    ).distinct()
    bench = sh.where(F.col("doc_id") % 25 == 0).select("s").distinct()
    corpus = sh.where(F.col("doc_id") % 25 != 0)
    tot = corpus.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    hits = (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return tot.join(hits, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("n_shingles"), 6)
        .cast("double")
        .alias("contamination"),
    )


@declared_query(
    "readability_scores_docs",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({_O_TOK}) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                    AS BIGINT) AS n_vowel_groups
        FROM documents
    )
    SELECT doc_id, n_words, n_vowel_groups,
           CAST(ROUND(CAST(n_vowel_groups AS DOUBLE) / n_words, 6)
                AS DOUBLE) AS syllables_per_word,
           CAST(ROUND(0.39 * n_words
                      + 11.8 * (CAST(n_vowel_groups AS DOUBLE) / n_words)
                      - 15.59, 6) AS DOUBLE) AS fk_grade
    FROM base WHERE n_words > 0
    """,
)
def readability_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (X60): the quality-gate heuristic — vowel
    runs approximate syllables, giving syllables-per-word and a
    Flesch-Kincaid-style grade per document (doc treated as one
    sentence; the corpus has no sentence punctuation). Entirely
    in-row: tokenizer size + regexp_extract_all count + arithmetic,
    zero exchanges — the same whole-stage-codegen shape as the X44
    repetition gate. The grade formula is evaluated with the
    IDENTICAL expression tree on both engines so the rounded doubles
    hash exactly."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiou]+"), 0))
        .cast("bigint")
        .alias("n_vowel_groups"),
    ).where(F.col("n_words") > 0)
    spw = F.col("n_vowel_groups").cast("double") / F.col("n_words")
    return base.select(
        "doc_id",
        "n_words",
        "n_vowel_groups",
        F.round(spw, 6).cast("double").alias("syllables_per_word"),
        F.round(F.lit(0.39) * F.col("n_words") + F.lit(11.8) * spw - F.lit(15.59), 6)
        .cast("double")
        .alias("fk_grade"),
    )


@declared_query(
    "pseudonymize_orders",
    oracle="""
    SELECT o_orderkey,
           substr(sha256(concat_ws('|', 'pepper-2026',
                                   CAST(o_custkey AS VARCHAR))), 1, 16)
               AS cust_token,
           CAST(floor(o_totalprice / 1000) * 1000 AS BIGINT) AS price_band,
           o_orderpriority
    FROM orders
    """,
)
def pseudonymize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymization (X61): the privacy pass before data leaves the
    warehouse — customer ids become peppered SHA-256 tokens (stable
    join keys, irreversible without the pepper) and exact prices
    generalize to 1000-wide bands. Entirely in-row crypto + arithmetic
    codegen, zero exchanges; the token truncation to 16 hex chars is
    the standard storage/collision trade (64 bits). Both engines'
    sha256-hex agree byte-for-byte."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.substring(
            F.sha2(
                F.concat_ws(
                    "|", F.lit("pepper-2026"), F.col("o_custkey").cast("string")
                ),
                256,
            ),
            1,
            16,
        ).alias("cust_token"),
        (F.floor(F.col("o_totalprice") / 1000) * 1000)
        .cast("bigint")
        .alias("price_band"),
        "o_orderpriority",
    )


@declared_query(
    "k_anonymity_audit",
    oracle="""
    SELECT CAST(floor(o_totalprice / 1000) * 1000 AS BIGINT) AS price_band,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CASE WHEN COUNT(*) >= 10 THEN 1 ELSE 0 END AS INT) AS k_ok
    FROM orders
    GROUP BY 1, 2
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (X62): after generalization, every
    quasi-identifier combination (price band x order priority) must
    describe at least k individuals or it re-identifies; this emits
    every equivalence class with its size and a k>=10 flag — the
    check a release pipeline runs on X61's output before publishing.
    One map-side-combinable count shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            (F.floor(F.col("o_totalprice") / 1000) * 1000)
            .cast("bigint")
            .alias("price_band"),
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "price_band",
            "o_orderpriority",
            "n",
            (F.col("n") >= 10).cast("int").alias("k_ok"),
        )
    )


@declared_query(
    "radius_pairs_customers",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               -30.0 + 60.0 * (('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 100000) / 100000.0
                   AS y,
               -60.0 + 120.0 * (('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 100000) / 100000.0
                   AS x
        FROM customer
    ), cells AS (
        SELECT id, x, y,
               CAST(floor(x / 0.3) AS BIGINT) AS cx,
               CAST(floor(y / 0.3) AS BIGINT) AS cy
        FROM pts
    ), offs(dx, dy) AS (
        VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
    ), lhs AS (
        SELECT id, x, y, cx + dx AS cx, cy + dy AS cy
        FROM cells CROSS JOIN offs
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(ROUND(sqrt((a.x - b.x) * (a.x - b.x)
                           + (a.y - b.y) * (a.y - b.y)), 6) AS DOUBLE) AS dist
    FROM lhs a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
    WHERE a.id < b.id
      AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 0.3
    """,
)
def radius_pairs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed radius join (X64): all point pairs within radius
    0.3 of each other, via the spatial-join discipline — bucket the
    plane into radius-sized cells, explode each LEFT point into its
    3x3 neighborhood, equi-join on the cell, verify exact distance.
    Every qualifying pair is found EXACTLY once (the right side stays
    in its unique home cell), so no distinct pass. Candidates scale
    with cell occupancy, never |points|^2 — the same blocking shape
    as the LSH family, applied to geometry. Coordinates are synthesized
    deterministically from customer keys (portable md5 scrambling —
    exact integers both engines); distance is planar sqrt (bit-exact —
    production geo swaps in haversine at the verify step only)."""
    cust = load_table(spark, sf_dir, "customer")
    def scramble(prefix: str) -> F.Column:
        # portable md5-hex -> int (same idiom as the minhash/simhash
        # oracles): identical values in Spark conv() and DuckDB ::BIGINT
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col("c_custkey").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 100000
        )

    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (F.lit(-30.0) + F.lit(60.0) * scramble("y") / 100000.0).alias("y"),
        (F.lit(-60.0) + F.lit(120.0) * scramble("x") / 100000.0).alias("x"),
    )
    cells = pts.select(
        "id", "x", "y",
        F.floor(F.col("x") / 0.3).cast("bigint").alias("cx"),
        F.floor(F.col("y") / 0.3).cast("bigint").alias("cy"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    lhs = cells.select(
        "id", "x", "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + F.lit(dx)).alias("cx"),
                        (F.col("cy") + F.lit(dy)).alias("cy"),
                    )
                    for dx, dy in offs
                ]
            )
        ).alias("c"),
    ).select("id", "x", "y", "c.cx", "c.cy")
    a, b = lhs.alias("a"), cells.alias("b")
    dx = F.col("a.x") - F.col("b.x")
    dy = F.col("a.y") - F.col("b.y")
    dist = F.sqrt(dx * dx + dy * dy)
    return (
        a.join(b, ["cx", "cy"])
        .where((F.col("a.id") < F.col("b.id")) & (dist <= 0.3))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dist, 6).cast("double").alias("dist"),
        )
    )


@declared_query(
    "embedding_covariance_8d",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding FROM embeddings
    ), cross_p AS (
        SELECT i.i, j.j,
               CAST(CAST(embedding[i.i] AS DOUBLE)
                    * CAST(embedding[j.j] AS DOUBLE)
                    AS DECIMAL(28,12)) AS p
        FROM e
        CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) i
        CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS j) j
        WHERE i.i <= j.j
    ), sums AS (
        SELECT i, j, SUM(p) AS sxy, CAST(COUNT(*) AS BIGINT) AS n
        FROM cross_p GROUP BY i, j
    ), m AS (
        SELECT i.i,
               SUM(CAST(CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(28,12)))
                   AS sx
        FROM e CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) i
        GROUP BY i.i
    )
    SELECT s.i AS dim_i, s.j AS dim_j,
           CAST(ROUND((CAST(s.sxy AS DOUBLE)
                       - CAST(mi.sx AS DOUBLE) * CAST(mj.sx AS DOUBLE) / s.n)
                      / (s.n - 1), 6) AS DOUBLE) AS cov
    FROM sums s
    JOIN m mi ON mi.i = s.i
    JOIN m mj ON mj.i = s.j
    """,
)
def embedding_covariance_8d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance (X65): the upper triangle of the 8x8
    covariance of the leading embedding dimensions — the PCA-prep /
    whitening statistic, computed relationally. Cross-products and
    per-dim sums are DECIMAL(28,12)-cast BEFORE summing (both engines
    round the identical double identically, then sum exactly), so the
    aggregates are order-independent; covariance derives from those
    exact sums through one shared IEEE expression. In-row index
    fan-out (8x9/2 pairs per row) -> ONE combinable aggregate; the
    per-dim mean join is 8 rows, broadcast. At the full 64 dims the
    same plan emits 2080 cells — still one shuffle of |dims^2| rows,
    never a second pass over the vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = [(i, j) for i in range(1, 9) for j in range(1, 9) if i <= j]
    ex = emb.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.lit(j).alias("j"),
                        (
                            F.element_at("embedding", i).cast("double")
                            * F.element_at("embedding", j).cast("double")
                        )
                        .cast("decimal(28,12)")
                        .alias("p"),
                    )
                    for i, j in pairs
                ]
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.p")
    sums = ex.groupBy("i", "j").agg(
        F.sum("p").alias("sxy"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = (
        emb.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            F.element_at("embedding", i)
                            .cast("double")
                            .cast("decimal(28,12)")
                            .alias("x"),
                        )
                        for i in range(1, 9)
                    ]
                )
            ).alias("c")
        )
        .select("c.i", "c.x")
        .groupBy("i")
        .agg(F.sum("x").alias("sx"))
    )
    mi = F.broadcast(m.select(F.col("i").alias("_mi"), F.col("sx").alias("sx_i")))
    mj = F.broadcast(m.select(F.col("i").alias("_mj"), F.col("sx").alias("sx_j")))
    joined = sums.join(mi, sums["i"] == mi["_mi"]).join(
        mj, sums["j"] == mj["_mj"]
    )
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx_i").cast("double") * F.col("sx_j").cast("double") / F.col("n")
    ) / (F.col("n") - F.lit(1))
    return joined.select(
        F.col("i").cast("bigint").alias("dim_i"),
        F.col("j").cast("bigint").alias("dim_j"),
        F.round(cov, 6).cast("double").alias("cov"),
    )


def _o_kmeans_round(i: int) -> str:
    """One unrolled Lloyd round as oracle CTEs: assignment distances
    under centroid table c{i-1} (exact integer sums of squares, argmin
    tie-broken by label), then the grid-mean centroid update c{i}
    (half-away-from-zero integer division — the r6_fp rounding)."""
    return f"""a{i} AS (
        SELECT q.vec_id, c.label,
               SUM((q.v - c.val) * (q.v - c.val)) AS dist
        FROM q JOIN c{i - 1} c ON q.pos = c.pos
        GROUP BY q.vec_id, c.label
    ), l{i} AS (
        SELECT vec_id, label FROM (
            SELECT vec_id, label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, label) AS rn
            FROM a{i}) WHERE rn = 1
    ), c{i} AS (
        SELECT l.label, q.pos,
               CASE WHEN SUM(q.v) >= 0
                    THEN (2 * SUM(q.v) + COUNT(*)) // (2 * COUNT(*))
                    ELSE -((-2 * SUM(q.v) + COUNT(*)) // (2 * COUNT(*)))
               END AS val
        FROM l{i} l JOIN q USING (vec_id)
        GROUP BY l.label, q.pos
    )"""


@declared_query(
    "kmeans_assignments",
    oracle=f"""
    WITH q AS (
        -- 1e6-grid quantization: one identical IEEE multiply + the
        -- half-away-from-zero round both engines share; everything
        -- after this is exact BIGINT arithmetic (VERDICT r11 #3)
        SELECT vec_id, d.d AS pos,
               CAST(ROUND(CAST(embedding[d.d] AS DOUBLE) * 1000000)
                    AS BIGINT) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) d
    ), seed AS (
        SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8
    ), c0 AS (
        SELECT CAST(DENSE_RANK() OVER (ORDER BY q.vec_id) - 1 AS INT)
                   AS label,
               q.pos, q.v AS val
        FROM seed s JOIN q USING (vec_id)
    ), {_o_kmeans_round(1)}, {_o_kmeans_round(2)}, af AS (
        SELECT q.vec_id, c.label,
               SUM((q.v - c.val) * (q.v - c.val)) AS dist
        FROM q JOIN c2 c ON q.pos = c.pos
        GROUP BY q.vec_id, c.label
    )
    SELECT vec_id, CAST(label AS INT) AS label FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, label) AS rn
        FROM af) WHERE rn = 1
    """,
)
def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (X67): two iterations from the deterministic
    lowest-id seed over the embeddings table, emitting (vec_id,
    label) — hash-matched against an unrolled DuckDB twin since r12.

    Rows-only until r11 because the float variant's in-row distance
    reductions could legitimately flip a boundary assignment in the
    last ulp between engines. The declared query now runs the GRID
    variant (operators/clustering.kmeans_lloyd_grid): inputs quantized
    once to the 1e6 integer grid, after which every distance and
    centroid update is exact BIGINT arithmetic with the r6_fp
    half-away-from-zero mean rounding — bit-identical labels on both
    engines, boundary vectors included, at any fixture scale. The
    full-float kmeans_lloyd stays the library operator (MBM quantizer,
    tests/test_clustering.py numpy pins); the grid twin is pinned
    against it by test (labels agree on the fixture) so the oracle
    upgrade did not change the clustering."""
    from ..operators.clustering import kmeans_lloyd_grid

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_lloyd_grid(emb, k=8, n_iter=2)
    return assigned.select("vec_id", "label")


@declared_query(
    "part_affinity_pairs",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 30
    """,
)
def part_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity (X70): the top co-purchased part pairs.
    The self-join is keyed on l_orderkey, so the pair fan-out is
    bounded by items-per-order squared (~7^2), NEVER corpus-squared,
    and both sides share one orderkey partitioning — the same shuffle
    serves the distinct, the join, and nothing else; the pair count
    then combines map-side. Top-30 with full deterministic tie-break."""
    # the registered pair counts (operators/edgecache.py, VERDICT r7
    # #4) — only the top-30 runs per query
    from ..operators.edgecache import copurchase_pair_counts

    return (
        copurchase_pair_counts(spark, sf_dir)
        .select(
            F.col("u").alias("part_a"),
            F.col("v").alias("part_b"),
            F.col("co").alias("n_orders"),
        )
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(30)
    )


@declared_query(
    "revenue_share_within_region",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nation_rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(nation_rev AS DOUBLE) AS nation_rev,
           CAST(ROUND(CAST(nation_rev AS DOUBLE)
                / CAST(SUM(nation_rev) OVER (PARTITION BY region)
                       AS DOUBLE), 6) AS DOUBLE) AS region_share
    FROM rev
    """,
)
def revenue_share_within_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report (X71): each nation's share of its region's
    revenue — the BI staple of a windowed percent-of-total. The
    aggregate rides one (region, nation) groupBy; the share window
    re-partitions only the ~25-row aggregate, not the fact table.
    Revenue sums are exact DECIMAL; the share divides the exact sums
    as doubles with the identical expression both engines."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "nation_rev_d"
            )
        )
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        F.col("nation_rev_d").cast("double").alias("nation_rev"),
        F.round(
            F.col("nation_rev_d").cast("double")
            / F.sum("nation_rev_d").over(w).cast("double"),
            6,
        )
        .cast("double")
        .alias("region_share"),
    )


@declared_query(
    "rolling_7d_distinct_users",
    oracle="""
    WITH daily AS (
        SELECT DISTINCT CAST(ts AS DATE) AS event_day, user_id FROM events
    )
    SELECT event_day,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST((
               SELECT COUNT(DISTINCT d2.user_id)
               FROM daily d2
               WHERE d2.event_day BETWEEN d.event_day - 6 AND d.event_day
           ) AS BIGINT) AS wau_7d
    FROM daily d
    GROUP BY event_day
    """,
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct counts / DAU-WAU (X72): per day, the distinct
    actives that day AND over the trailing 7 days. COUNT(DISTINCT)
    over a sliding window isn't a native window aggregate in either
    engine; Spark builds per-day distinct user SETS with one
    combinable collect_set shuffle (output = the daily grid, one row
    per day), then the trailing-7-day distinct is an in-row
    array_distinct(flatten(...)) over a RANGE frame on that grid —
    the only global window in the plan runs over |days| rows, bounded
    by the calendar, never by event volume. The oracle cross-checks
    with a correlated-subquery formulation — completely different
    machinery, same numbers."""
    ev = load_table(spark, sf_dir, "events")
    # ONE shuffle: per-day distinct user SETS (collect_set is the
    # distinct) — the output is the daily grid, one row per day
    day_sets = ev.groupBy(F.to_date("ts").alias("event_day")).agg(
        F.collect_set("user_id").alias("users")
    )
    keyed = day_sets.withColumn(
        "day_num", F.datediff("event_day", F.lit("1970-01-01"))
    )
    # the global window runs over THAT grid (|days| rows — tiny and
    # bounded by the calendar, never by event volume); the trailing
    # 7-day distinct count unions the per-day sets in-row
    w7 = Window.orderBy("day_num").rangeBetween(-6, 0)
    return keyed.select(
        "event_day",
        F.size("users").cast("bigint").alias("dau"),
        F.size(F.array_distinct(F.flatten(F.collect_list("users").over(w7))))
        .cast("bigint")
        .alias("wau_7d"),
    )


@declared_query(
    "group_by_all_order_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def group_by_all_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (X79): the modern SQL shorthand both
    engines adopted (group on every non-aggregate select item; order on
    every select item) — declared through spark.sql so the SQL surface
    itself is what's verified, with the DuckDB twin using the identical
    text. Same one-shuffle combinable aggregate as the explicit form."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "gba_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@declared_query(
    "sequence_regex_funnel",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS seq
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'c.*p') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_click_then_purchase,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'v.*s') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view_then_signup,
           CAST(SUM(CASE WHEN regexp_matches(seq, 'e') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_error_users
    FROM seqs
    """,
)
def sequence_regex_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (X85): MATCH_RECOGNIZE-style ordered
    funnels via regex over per-user event-initial strings — each user's
    whole history compresses to one row of a few hundred characters,
    then any ordered pattern ('click then eventually purchase') is a
    regex, evaluated in-row. One groupBy shuffle builds the sequences
    (in-row array_sort of collected (ts,event_id,letter) structs — no
    reliance on collect_list order); the pattern pass adds ZERO
    exchanges. The X26 funnel answers one fixed 3-stage question with
    joins; this shape answers ARBITRARY ordered patterns over the same
    partitioning. Scale note: this collects a user's FULL ordered
    history into one row (fixture histories are ~100s of events); at
    100 TB cap it — slice(collected, 1, N) after the in-row sort, or
    pre-filter to a time window — the pattern regex rarely needs
    unbounded history."""
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            "",
        ).alias("seq")
    )
    return seqs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("seq").rlike("c.*p").cast("int"))
        .cast("bigint")
        .alias("n_click_then_purchase"),
        F.sum(F.col("seq").rlike("v.*s").cast("int"))
        .cast("bigint")
        .alias("n_view_then_signup"),
        F.sum(F.col("seq").rlike("e").cast("int"))
        .cast("bigint")
        .alias("n_error_users"),
    )


@declared_query(
    "sql_pivot_unpivot_roundtrip",
    oracle="""
    SELECT user_id % 10 AS bucket, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE event_type IN ('view', 'click', 'purchase')
    GROUP BY 1, 2
    """,
)
def sql_pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT + UNPIVOT clauses (X88): the long->wide->long round
    trip through the dedicated SQL syntax (the DataFrame pivot/unpivot
    surface is X-declared elsewhere; this pins the SQL front door).
    UNPIVOT's default EXCLUDE NULLS drops the empty cells PIVOT
    minted, so the round trip equals the plain aggregate — which is
    exactly what the oracle computes, making the equivalence itself
    the verified claim."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "pvt_events"
    )
    return spark.sql(
        """
        WITH p AS (
            SELECT * FROM (
                SELECT user_id % 10 AS bucket, event_type FROM pvt_events
            )
            PIVOT (COUNT(*) AS n
                   FOR event_type IN ('view', 'click', 'purchase'))
        )
        SELECT bucket, event_type, CAST(n AS BIGINT) AS n
        FROM p UNPIVOT (n FOR event_type IN (`view`, `click`, `purchase`))
        """
    )


@declared_query(
    "winsorize_event_values",
    oracle=f"""
    WITH bounds AS (
        -- bounds rounded 6 BEFORE use: the two engines' interpolation
        -- formulas (a + f*(b-a) vs (1-f)*a + f*b) differ in the last
        -- ulp once 10x group sizes make f non-dyadic (r11 sweep, 97
        -- rows); identically-rounded bounds clip identically. Rounded
        -- via the tie-free integer path (o_r6_exact), not plain
        -- ROUND(x,6) — bounds 1 ulp apart pre-round could still round
        -- to different 6-decimal values when straddling a rounding
        -- boundary at large magnitudes (ADVICE r11)
        SELECT event_type,
               {o_r6_exact("quantile_cont(value, 0.01)")} AS p01,
               {o_r6_exact("quantile_cont(value, 0.99)")} AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.value < b.p01 THEN b.p01
                WHEN e.value > b.p99 THEN b.p99
                ELSE e.value END AS value_w,
           CAST(CASE WHEN e.value < b.p01 OR e.value > b.p99
                     THEN 1 ELSE 0 END AS INT) AS clipped
    FROM events e JOIN bounds b USING (event_type)
    WHERE e.event_id % 37 = 0
    """,
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization / outlier clipping (X91): the feature-cleaning
    staple — clamp each value into its group's [p1, p99] band. The
    per-group bounds are interpolated percentiles (the X18 surface)
    ROUNDED 6 before use — the engines' interpolation formulas skew by
    1 ulp at 10x group sizes, so raw bounds are NOT cross-engine-exact
    (r11 10x sweep) — computed once per group and broadcast back; the
    clip itself is an in-row least/greatest over identically-rounded
    operands. Emitted for a deterministic id slice to bound output
    volume."""
    ev = load_table(spark, sf_dir, "events")
    # round-6 the interpolated bounds before any use — see the oracle
    # comment (1-ulp interpolation skew at 10x group sizes); r6_exact,
    # not plain F.round, so the round itself can't re-introduce a
    # cross-engine tie at large magnitudes (ADVICE r11)
    bounds = ev.groupBy("event_type").agg(
        r6_exact(F.expr("percentile(value, 0.01)")).alias("p01"),
        r6_exact(F.expr("percentile(value, 0.99)")).alias("p99"),
    )
    e = ev.where(F.col("event_id") % 37 == 0)
    return e.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias(
            "value_w"
        ),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99")))
        .cast("int")
        .alias("clipped"),
    )


@declared_query(
    "max_concurrent_sessions_daily",
    oracle="""
    WITH iv AS (
        SELECT user_id, CAST(ts AS DATE) AS event_day,
               MIN(ts) AS s, MAX(ts) AS e
        FROM events GROUP BY 1, 2
    ), pts AS (
        SELECT event_day, user_id, s AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT event_day, user_id, e AS t, -1 AS delta FROM iv
    ), sweep AS (
        SELECT event_day,
               SUM(delta) OVER (PARTITION BY event_day
                                ORDER BY t, delta DESC, user_id
                                ROWS UNBOUNDED PRECEDING) AS live
        FROM pts
    )
    SELECT i.event_day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(m.max_live AS BIGINT) AS max_concurrent
    FROM iv i
    JOIN (SELECT event_day, MAX(live) AS max_live
          FROM sweep GROUP BY event_day) m USING (event_day)
    GROUP BY i.event_day, m.max_live
    """,
)
def max_concurrent_sessions_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency (X92): the classic
    max-simultaneous-sessions analytic — each user's per-day activity
    span becomes a (+1 at start, -1 at end) point pair; a running sum
    over the time-ordered points per day peaks at the maximum
    concurrency. Tie discipline makes it deterministic AND inclusive:
    at an identical instant, starts (+1) sort before ends (-1, via
    delta DESC) and user_id breaks the rest — both engines walk the
    identical sequence. Everything rides ONE event_day partitioning:
    the span aggregate, the sweep window, and the final max."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.to_date("ts").alias("event_day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    pts = iv.select(
        "event_day",
        "user_id",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("e").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("p"),
    ).select("event_day", "user_id", "p.t", "p.delta")
    w = (
        Window.partitionBy("event_day")
        .orderBy(F.col("t").asc(), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = pts.select("event_day", F.sum("delta").over(w).alias("live"))
    max_live = sweep.groupBy("event_day").agg(
        F.max("live").cast("bigint").alias("max_concurrent")
    )
    n_sessions = iv.groupBy("event_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    return n_sessions.join(max_live, "event_day").select(
        "event_day", "n_sessions", "max_concurrent"
    )
