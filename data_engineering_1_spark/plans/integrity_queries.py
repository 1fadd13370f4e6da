"""Corpus-integrity / adversarial-signal declared queries (round 6,
thirteenth batch — [north-star] scope): the audits that protect a
training corpus from itself — split leakage across near-dup clusters,
bot-generated traffic, burstiness anomalies, sampling-bias correction
— plus the dense-subgraph core and the bitext-style mutual-best-match
miner.

  * ``split_leakage_audit`` (X179) — do near-dup clusters span
    train/val/test? The eval-contamination check every LLM data
    pipeline must run: a cluster with members in two splits leaks
    training signal into eval. Composes X3's clusters with S4/X4's
    deterministic hash split — both production implementations called
    directly.
  * ``bot_user_audit`` (X180) — per-user behavioral rule ladder
    (event rate, single-type monotony, error share), every rule an
    integer cross-multiplication.
  * ``fano_burstiness_events`` (X181) — Fano factor (variance/mean) of
    daily counts per event type from exact power sums; bursty verdict
    decided by integer cross-multiplication, never the rounded ratio.
  * ``post_stratified_spend`` (X182) — segment-reweighted mean order
    value: the sampling-bias correction (inverse-propensity weighting
    with segment-share propensities == post-stratification).
  * ``kcore_copurchase`` (X183) — bounded k-core peeling
    (`operators/graph.py::kcore_degree_rounds`, the FIFTH iterative graph
    algorithm under the full value hash); per-round survivor counts +
    node checksums, oracle unrolls the identical rounds.
  * ``mutual_best_match`` (X184) — reciprocal top-1 nearest neighbors
    over exactly-quantized embedding dot products — the bitext-mining
    primitive (a pair is kept only when each is the other's best
    match, the classic precision filter).

Determinism: cluster labels, splits, rule verdicts, peeling rounds,
and quantized dot products are exact integers end to end; Fano and the
reweighted means are single divisions of exact operands (per-segment
terms round-9 DECIMAL-staged), rounded 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .dedup_queries import _O_SIGNATURES, _O_TOK
from .registry import declared_query
from .sampling_queries import _o_bucket

# ---- X179: split leakage across near-dup clusters ----------------------

# the dedup_clusters_lsh oracle's cluster CTEs (same constants, same
# semantics — LSH candidates -> Jaccard>=0.8 verify -> recursive-CTE
# transitive closure), composed here with the hash-split assignment
_O_CLUSTERS = f"""
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.minhash = b.minhash
        WHERE a.doc_id < b.doc_id
    ), dt AS (
        SELECT DISTINCT doc_id, unnest(list_distinct({_O_TOK})) AS tok
        FROM documents
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM dt GROUP BY doc_id
    ), shared AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM cand c
        JOIN dt ta ON ta.doc_id = c.doc_a
        JOIN dt tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
        GROUP BY c.doc_a, c.doc_b
    ), vpairs AS (
        SELECT s.doc_a, s.doc_b
        FROM shared s
        JOIN sizes x ON s.doc_a = x.doc_id
        JOIN sizes y ON s.doc_b = y.doc_id
        WHERE ROUND(CAST(s.n_shared AS DOUBLE)
                    / (x.n_tok + y.n_tok - s.n_shared), 6) >= 0.8
    ), e AS (
        SELECT doc_a AS u, doc_b AS v FROM vpairs
        UNION ALL
        SELECT doc_b, doc_a FROM vpairs
    ), cnodes AS (
        SELECT DISTINCT u AS node FROM e
    ), reach(node, r) AS (
        SELECT node, node FROM cnodes
        UNION
        SELECT reach.node, e.v FROM reach JOIN e ON reach.r = e.u
    ), comp AS (
        SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
        FROM reach GROUP BY node
    )
"""


@declared_query(
    "split_leakage_audit",
    oracle=f"""
    WITH RECURSIVE {_O_SIGNATURES},
    {_O_CLUSTERS},
    assigned AS (
        SELECT c.component, c.doc_id,
               CASE WHEN {_o_bucket('c.doc_id', 'split')} < 1000
                        THEN 'test'
                    WHEN {_o_bucket('c.doc_id', 'split')} < 2000
                        THEN 'val'
                    ELSE 'train' END AS split
        FROM comp c
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits_spanned,
           (COUNT(DISTINCT split) > 1) AS leaks
    FROM assigned
    GROUP BY component
    HAVING COUNT(*) >= 2
    ORDER BY component
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X179: eval-contamination audit — for every near-dup cluster
    (X3's LSH -> Jaccard -> connected components), how many train/val/
    test splits do its members land in under the deterministic hash
    split? A cluster spanning >1 split leaks training text into eval:
    the per-DOCUMENT split is stable by construction (S4's
    anti-leakage property), but stability is per-key, and near-dups
    have DIFFERENT keys — this query measures exactly that gap, which
    is why production pipelines split by cluster survivor, not by doc.

    Both inputs are the production implementations called directly
    (operators/dedup.py + operators/components.py for the clusters,
    operators/sampling.py for the split), so the audit can't drift
    from the pipeline. Scale: the cluster stage is the audited
    sub-quadratic E7 path; the audit itself is one groupBy(component)
    over |clustered docs| rows.

    r14 (VERDICT r13 #1): cluster labels come from the session-shared
    ``document_neardup_components`` relation (operators/sigcache.py) —
    still the production implementations (same thresholds 0.8 / 0.5,
    same star-contraction labels), built once per (app, sf_dir) for
    this query, dedup_clusters_lsh and dedup_survivor_quality."""
    from ..operators.sampling import train_test_split
    from ..operators.sigcache import document_neardup_components

    docs = load_table(spark, sf_dir, "documents")
    comp = document_neardup_components(spark, sf_dir)
    split = train_test_split(
        docs, "doc_id", test_fraction=0.1, val_fraction=0.1
    ).select("doc_id", "split")
    return (
        comp.join(split, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.countDistinct("split")
            .cast("bigint")
            .alias("n_splits_spanned"),
        )
        .where(F.col("cluster_size") >= 2)
        .select(
            "component",
            "cluster_size",
            "n_splits_spanned",
            (F.col("n_splits_spanned") > 1).alias("leaks"),
        )
        .orderBy("component")
    )


# ---- X180: bot-user behavioral audit -----------------------------------


@declared_query(
    "bot_user_audit",
    oracle="""
    WITH per_type AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), per_user AS (
        SELECT e.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
                   AS span_us,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(SUM(CAST(event_type = 'error' AS BIGINT))
                    AS BIGINT) AS n_errors
        FROM events e GROUP BY 1
    ), tops AS (
        SELECT user_id, CAST(MAX(n) AS BIGINT) AS top_type_n
        FROM per_type GROUP BY user_id
    )
    SELECT u.user_id, u.n_events, u.n_types, u.n_errors, t.top_type_n,
           CASE WHEN u.n_events * 3600000000 >
                     GREATEST(u.span_us, 1000000) * 600
                    THEN 'rate_anomaly'
                WHEN u.n_types = 1 AND u.n_events >= 20
                    THEN 'single_type'
                WHEN 5 * u.n_errors > u.n_events
                    THEN 'error_heavy'
                WHEN 3 * t.top_type_n > 2 * u.n_events
                    THEN 'type_dominated'
                ELSE 'ok' END AS verdict
    FROM per_user u JOIN tops t ON u.user_id = t.user_id
    ORDER BY u.user_id
    """,
)
def bot_user_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X180: per-user bot/abuse rule ladder — sustained event rate over
    600/hour, single-event-type monotony, error share over 20%, or one
    type over 2/3 of all traffic. The traffic-hygiene gate a corpus
    pipeline runs before user-generated text enters training data (bot
    content is the highest-volume spam class), and the rule shapes are
    the ones a real abuse system ships: rates and shares, not models.

    Exactness: every rule is an integer cross-multiplication
    (n·3600e6 > span_us·600; 5·errors > n; 3·top > 2·n) — the rounded
    ratios are never compared. Scale: one (user, type) aggregate and
    one user aggregate, both combinable and on the same key family."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tops = per_type.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("top_type_n")
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        )
        .cast("bigint")
        .alias("span_us"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.sum((F.col("event_type") == "error").cast("bigint"))
        .cast("bigint")
        .alias("n_errors"),
    )
    j = per_user.join(tops, "user_id")
    verdict = (
        F.when(
            F.col("n_events") * F.lit(3600000000).cast("bigint")
            > F.greatest(F.col("span_us"), F.lit(1000000).cast("bigint"))
            * 600,
            "rate_anomaly",
        )
        .when(
            (F.col("n_types") == 1) & (F.col("n_events") >= 20),
            "single_type",
        )
        .when(5 * F.col("n_errors") > F.col("n_events"), "error_heavy")
        .when(
            3 * F.col("top_type_n") > 2 * F.col("n_events"),
            "type_dominated",
        )
        .otherwise("ok")
    )
    return j.select(
        "user_id",
        "n_events",
        "n_types",
        "n_errors",
        "top_type_n",
        verdict.alias("verdict"),
    ).orderBy("user_id")


# ---- X181: Fano-factor burstiness ---------------------------------------


@declared_query(
    "fano_burstiness_events",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(cnt) AS BIGINT) AS s1,
               CAST(SUM(cnt * cnt) AS BIGINT) AS s2
        FROM daily GROUP BY 1
    )
    SELECT event_type, n_days, s1 AS n_events,
           CAST(ROUND(CAST(n_days * s2 - s1 * s1 AS DOUBLE)
                      / (1.0 * n_days * s1), 6) AS DOUBLE) AS fano,
           (n_days * s2 - s1 * s1 > n_days * s1) AS bursty
    FROM s ORDER BY event_type
    """,
)
def fano_burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181: Fano factor (index of dispersion, variance/mean of the
    daily count series) per event type — the burstiness gauge: a
    Poisson-arrival stream has Fano = 1; crawler/incident/bot traffic
    shows Fano >> 1. The series-level cousin of X180's per-user rules
    and the statistic that tells a pipeline whether daily volume is
    schedulable or spiky.

    Exactness: population variance/mean reduces to
    (n*S2 - S1^2)/(n*S1) — exact BIGINT power sums, ONE division
    rounded 6 — and the bursty verdict is the integer
    cross-multiplication n*S2 - S1^2 > n*S1, never the rounded ratio.
    Scale: events reduce to one row per (type, day) in a combinable
    aggregate; everything after runs on |types| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s2"),
    )
    num = F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")
    return s.select(
        "event_type",
        "n_days",
        F.col("s1").alias("n_events"),
        F.round(
            num.cast("double") / (F.col("n_days") * F.col("s1")), 6
        ).alias("fano"),
        (num > F.col("n_days") * F.col("s1")).alias("bursty"),
    ).orderBy("event_type")


# ---- X182: post-stratified (IPW) spend estimate --------------------------


@declared_query(
    "post_stratified_spend",
    oracle="""
    WITH pop AS (
        SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS pop_n
        FROM customer GROUP BY 1
    ), pop_tot AS (
        SELECT CAST(SUM(pop_n) AS BIGINT) AS pop_total FROM pop
    ), samp AS (
        SELECT c.c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS samp_n,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ), terms AS (
        SELECT s.seg, s.samp_n, s.cents, p.pop_n,
               CAST(ROUND(CAST(p.pop_n AS DOUBLE) * s.cents / s.samp_n,
                          9) AS DECIMAL(28,9)) AS t9
        FROM samp s JOIN pop p ON s.seg = p.seg
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(samp_n) AS BIGINT) AS n_orders,
           CAST(ROUND(CAST(SUM(cents) AS DOUBLE) / SUM(samp_n) / 100,
                      6) AS DOUBLE) AS naive_mean_spend,
           CAST(ROUND(CAST(SUM(t9) AS DOUBLE)
                      / (SELECT pop_total FROM pop_tot) / 100, 6)
                AS DOUBLE) AS post_stratified_mean_spend
    FROM terms
    """,
)
def post_stratified_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182: post-stratified mean order value — reweight the per-segment
    sample means by the segment's share of the customer POPULATION
    (equivalently: inverse-propensity weighting with propensity =
    segment sampling share). The bias correction every measurement
    over a non-representative sample needs: ordering customers are not
    population customers, and the naive mean inherits that skew.

    Exactness: the estimator is sum_seg pop_n * (cents_seg/samp_n_seg)
    / pop_total — each per-segment term is ONE division of exact
    BIGINTs rounded 9 and staged DECIMAL(28,9) (order-free sum), then
    ONE final division rounded 6 (the X158 jackknife discipline).
    Scale: two combinable aggregates (population strata, sample
    strata) joined on the |segments|-row key; the 1-row population
    total broadcasts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pop = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).cast("bigint").alias("pop_n")
    )
    pop_tot = pop.agg(F.sum("pop_n").cast("bigint").alias("pop_total"))
    samp = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("samp_n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("cents"),
        )
    )
    terms = samp.join(pop, "seg").select(
        "seg",
        "samp_n",
        "cents",
        "pop_n",
        F.round(
            F.col("pop_n").cast("double")
            * F.col("cents")
            / F.col("samp_n"),
            9,
        )
        .cast("decimal(28,9)")
        .alias("t9"),
    )
    return (
        terms.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("samp_n").cast("bigint").alias("n_orders"),
            F.round(
                F.sum("cents").cast("double") / F.sum("samp_n") / 100, 6
            ).alias("naive_mean_spend"),
            F.sum("t9").alias("_t_sum"),
        )
        .crossJoin(F.broadcast(pop_tot))
        .select(
            "n_segments",
            "n_orders",
            "naive_mean_spend",
            F.round(
                F.col("_t_sum").cast("double")
                / F.col("pop_total")
                / 100,
                6,
            ).alias("post_stratified_mean_spend"),
        )
    )


# ---- X183: bounded k-core peeling ----------------------------------------

_KCORE_K = 100
_KCORE_ROUNDS = 3

_O_KC_EDGES = """
    items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
        SELECT u AS src, v AS dst FROM und
        UNION ALL
        SELECT v AS src, u AS dst FROM und
    )
"""


def _o_peel(prev: str, nxt: str, k: int) -> str:
    return f"""
    keep_{nxt} AS (
        SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {k}
    ), {nxt} AS (
        SELECT e.src, e.dst FROM {prev} e
        JOIN keep_{nxt} a ON e.src = a.src
        JOIN keep_{nxt} b ON e.dst = b.src
    )
    """


def _o_round_stats(rnd: int, rel: str) -> str:
    return f"""
        SELECT CAST({rnd} AS BIGINT) AS round,
               CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
               CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
               CAST(COALESCE(SUM(DISTINCT src), 0) AS BIGINT)
                   AS node_checksum
        FROM {rel}
    """


@declared_query(
    "kcore_copurchase",
    oracle=f"""
    WITH {_O_KC_EDGES},
    {_o_peel('e0', 'e1', _KCORE_K)},
    {_o_peel('e1', 'e2', _KCORE_K)},
    {_o_peel('e2', 'e3', _KCORE_K)}
    {_o_round_stats(1, 'e1')}
    UNION ALL
    {_o_round_stats(2, 'e2')}
    UNION ALL
    {_o_round_stats(3, 'e3')}
    ORDER BY round
    """,
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X183: bounded k-core peeling of the co-purchase graph (k=100,
    3 synchronous rounds via operators/graph.py::kcore_degree_rounds): each
    round removes every part with fewer than 100 DISTINCT co-purchase
    partners, then re-checks — survivors of repeated peeling form the
    dense core (the bundle/spam-farm/community-nucleus signal; on a
    web graph, k-core membership is a classic crawl-quality feature).
    Per-round (node count, edge count, node checksum) pins every
    round's entire survivor set — the FIFTH iterative graph algorithm
    under the full value hash.

    Exactness: degrees and survivor sets are exact integer
    computations; the oracle unrolls the identical peels as CTEs.
    Scale (r9, aggregate-fused): each round is ONE single-pass
    combinable degree aggregate over the cached edge relation plus two
    joins against the <= |V|-row survivor set — and the per-round
    checkpointed degree table serves double duty as the stats source
    (n_nodes = COUNT(*), edges = SUM(deg), checksum = SUM(node)), so
    the final action sweeps only vertex-sized tables instead of
    re-scanning |E| rows per round. SUM(DISTINCT src) in the oracle
    equals the node checksum because groupBy deduplicates first."""
    from ..operators.edgecache import copurchase_edges_distinct
    from ..operators.graph import kcore_degree_rounds

    # symmetrized simple graph from the session-scoped persisted pair
    # cache (VERDICT r7 #4) — the lineitem self-join never reruns here
    edges = copurchase_edges_distinct(spark, sf_dir)
    degs = kcore_degree_rounds(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    stats = None
    for i, deg in enumerate(degs, start=1):
        st = deg.agg(
            F.lit(i).cast("bigint").alias("round"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.coalesce(F.sum("deg"), F.lit(0))
            .cast("bigint")
            .alias("n_directed_edges"),
            F.coalesce(F.sum("src"), F.lit(0))
            .cast("bigint")
            .alias("node_checksum"),
        )
        stats = st if stats is None else stats.unionByName(st)
    return stats.orderBy("round")


# ---- X184: mutual best match ----------------------------------------------

_MBM_Q = 1_000_000
_MBM_B = 8  # anchor pair-join blocks; the grid has B*(B+1)/2 = 36 keys


def _mbm_anchor_qvecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anchor subset (vec_id % 5 = 0) with its exactly-quantized
    BIGINT vector (round(v * 1e6), the X173 grid)."""
    return load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 5 == 0
    ).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * _MBM_Q, 0).cast("bigint"),
        ).alias("qvec"),
    )


def _mbm_pair_dot() -> F.Column:
    """Exact in-row quantized dot over (qa, qb) — one codegen'd fold per
    pair. coalesce(product, 0) skips zip_with's null padding exactly the
    way the oracle's SUM skips null products (ADVICE r9)."""
    return F.aggregate(
        F.zip_with(
            "qa", "qb",
            lambda x, y: F.coalesce(x * y, F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    ).alias("dot")


def _mbm_mutual_top1(dots: DataFrame) -> DataFrame:
    """Per-va top-1 (dot DESC, vb ASC — total
    under exact integers) over a DIRECTED (va, vb, dot) candidate
    relation, then the reciprocity self-join keeps a pair only when
    each side is the other's best."""
    w = Window.partitionBy("va").orderBy(F.desc("dot"), F.asc("vb"))
    best = dots.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    x = best.select(
        F.col("va").alias("vec_a"),
        F.col("vb").alias("vec_b"),
        F.col("dot").alias("dot_q"),
    )
    y = best.select(
        F.col("va").alias("vec_b2"), F.col("vb").alias("vec_a2")
    )
    return (
        x.join(
            y,
            (F.col("vec_a") == F.col("vec_a2"))
            & (F.col("vec_b") == F.col("vec_b2")),
        )
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "dot_q")
        .orderBy("vec_a")
    )


def _mbm_exact_dots(spark: SparkSession, qv: DataFrame) -> DataFrame:
    """Exact pair enumeration: anchors hash into _MBM_B blocks and the
    (b1 <= b2) literal pair-block grid (36 broadcast rows) emits every
    unordered pair exactly once, evenly spread over the grid keys; the
    mirror union restores both directions for the per-va argmax."""
    qb = qv.select(
        "vec_id",
        "qvec",
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_MBM_B))
        .cast("int")
        .alias("blk"),
    )
    grid = spark.range(_MBM_B * _MBM_B, numPartitions=1).selectExpr(
        f"CAST(id DIV {_MBM_B} AS INT) AS b1",
        f"CAST(id % {_MBM_B} AS INT) AS b2",
    ).where("b1 <= b2")
    left = qb.select(
        F.col("vec_id").alias("va"),
        F.col("qvec").alias("qa"),
        F.col("blk").alias("b1"),
    ).join(F.broadcast(grid), "b1")
    right = qb.select(
        F.col("vec_id").alias("vb"),
        F.col("qvec").alias("qb"),
        F.col("blk").alias("b2"),
    ).join(F.broadcast(grid), "b2")
    # SHUFFLE_HASH, explicitly: the whole point of the (b1, b2) grid is
    # to SPREAD the quadratic pair work over 36 shuffle keys. Left to
    # itself, AQE can estimate the right side under the broadcast
    # threshold and broadcast it — which keeps LEFT's partitioning, and
    # a single-file parquet fixture arrives as ONE partition, so the
    # entire O(N^2) dot computation serializes into one task (found
    # r12: the 30x fixture's 72M-pair exact leg sat 35+ min in a
    # 1-task stage; 36-way shuffled it finishes in minutes).
    half = (
        left.join(right.hint("SHUFFLE_HASH"), ["b1", "b2"])
        .where((F.col("b1") != F.col("b2")) | (F.col("va") < F.col("vb")))
        .select("va", "vb", _mbm_pair_dot())
    )
    return half.unionByName(
        half.select(F.col("vb").alias("va"), F.col("va").alias("vb"), "dot")
    )


@declared_query(
    "mutual_best_match",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
    ), qd AS (
        SELECT vec_id, d.d,
               CAST(ROUND(CAST(embedding[d.d] AS DOUBLE) * {_MBM_Q})
                    AS BIGINT) AS q
        FROM anchors
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) d
    ), dots AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        FROM qd a JOIN qd b ON a.d = b.d AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    ), best AS (
        SELECT va, vb, dot,
               row_number() OVER (PARTITION BY va
                                  ORDER BY dot DESC, vb) AS rn
        FROM dots
    )
    SELECT x.va AS vec_a, x.vb AS vec_b, x.dot AS dot_q
    FROM best x JOIN best y
      ON x.vb = y.va AND y.vb = x.va AND x.rn = 1 AND y.rn = 1
    WHERE x.va < x.vb
    ORDER BY vec_a
    """,
)
def mutual_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184: reciprocal top-1 nearest neighbors over the anchor subset
    (vec_id % 5 = 0) — a pair survives only when each vector is the
    other's single best match by dot product. The bitext-mining /
    entity-alignment precision filter (Artetxe-Schwenk margin mining's
    strictest special case): mutual-best pairs are overwhelmingly true
    matches even when absolute similarity is uncalibrated.

    Exactness: components quantize to exact BIGINTs (round(v*1e6), the
    X173 grid), so every dot product is an exact integer and the
    top-1 argmax (dot DESC, vec_id ASC) is total.

    Scale shape: every unordered anchor pair is enumerated through the
    literal (b1 <= b2) pair-block grid (_mbm_exact_dots — 36 broadcast
    grid rows, one codegen'd in-row dot per pair); exact but quadratic
    in anchors (the 30x probe measured 346 s). Approximate IVF
    candidate legs were measured at 0.2-0.5 pair recall on
    decorrelated corpora and are not offered."""
    qv = _mbm_anchor_qvecs(spark, sf_dir)
    return _mbm_mutual_top1(_mbm_exact_dots(spark, qv))
