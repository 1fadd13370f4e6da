"""ML-prep declared queries (round 6, third batch — [north-star]
scope): the signal-engineering and split-discipline operators that sit
between a cleaned corpus and a training run.

  * ``ewma_halflife_daily`` (X121) — exponential moving average with
    alpha = 1/2 over per-type daily sums, computed as an ORDERED FOLD
    over a bounded trailing frame (higher-order functions inside a
    window): powers of two are exact in binary floating point, and the
    51-row frame truncates only mass below 2^-50 — invisible at the
    round-6 emission.
  * ``stratified_exact_split`` (X122) — per-stratum 80/10/10
    train/val/test allocation with largest-remainder rounding in PURE
    INTEGER arithmetic: every stratum's splits sum exactly to its doc
    count, no floats anywhere.
  * ``bigram_xentropy_docs`` (X123) — per-doc bigram language-model
    cross-entropy with add-one smoothing (the CCNet-style LM
    perplexity quality filter, one order up from X96's unigram model).
  * ``prefix_filter_jaccard_join`` (X124) — EXACT set-similarity join
    via prefix filtering + length filtering (PPJoin-style): unlike the
    LSH family this has NO false negatives — two sets with Jaccard >= t MUST share a
    token in their (rarest-first) prefixes of length
    |s| - ceil(t|s|) + 1 — while candidate generation still runs as an
    equi-join on (rare) prefix tokens, never an O(n^2) scan.

Determinism: EWMA folds run in explicit frame order with exact
halving; split allocation is all-integer; LM terms are staged to
DECIMAL(28,12) before the order-free sum (the X96 discipline); the
prefix ordering ties break on raw token bytes (binary collation both
engines) and the Jaccard keep-decision compares the ROUNDED value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.textanalysis import tokens
from .registry import declared_query
from .text_queries import _O_TOK

# ---- X121: EWMA via ordered fold -------------------------------------

_EWMA_FRAME = 50  # trailing days; tail weight < 2^-50, below round-6


@declared_query(
    "ewma_halflife_daily",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val
        FROM events GROUP BY 1, 2
    ), framed AS (
        SELECT event_type, day, val,
               list(val) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_EWMA_FRAME} PRECEDING AND CURRENT ROW)
                   AS xs
        FROM daily
    )
    SELECT event_type, day,
           CAST(ROUND(val, 6) AS DOUBLE) AS val,
           CAST(ROUND(list_reduce(xs, (acc, x) -> acc * 0.5 + x * 0.5), 6)
                AS DOUBLE) AS ewma
    FROM framed
    ORDER BY event_type, day
    """,
)
def ewma_halflife_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121: half-life EWMA of daily per-type value sums — the
    smoothing pass a metrics/anomaly pipeline runs before thresholding.
    alpha = 1/2 on purpose: every weight is a power of two, exact in
    IEEE doubles, so the fold's value is engine-identical given
    identical inputs (an arbitrary alpha would accumulate cross-engine
    ulp drift through the recursion).

    Implemented as an ORDERED FOLD over the window frame — collect the
    trailing 51-day list (both engines build frame-ordered lists),
    then reduce with acc/2 + x/2 seeded at the oldest element. The
    recursion is inherently sequential, but over the TIME dimension
    only: each series is |days| rows regardless of event volume, the
    heavy event pass is one combinable daily aggregate, and the frame
    caps the per-row fold at 51 elements (truncated tail weight
    < 2^-50, far below the round-6 emission)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("val")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_EWMA_FRAME, Window.currentRow)
    )
    framed = daily.select(
        "event_type", "day", "val", F.collect_list("val").over(w).alias("xs")
    )
    ewma = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs") - 1),
        F.element_at("xs", 1),
        lambda acc, x: acc * 0.5 + x * 0.5,
    )
    return framed.select(
        "event_type",
        "day",
        F.round("val", 6).alias("val"),
        F.round(ewma, 6).alias("ewma"),
    ).orderBy("event_type", "day")


# ---- X122: stratified exact split ------------------------------------


@declared_query(
    "stratified_exact_split",
    oracle="""
    WITH strata AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ), splits AS (
        SELECT lang, n, s.split, s.ord,
               CASE s.split WHEN 'train' THEN (8 * n) // 10
                    ELSE n // 10 END AS alloc_floor,
               CASE s.split WHEN 'train' THEN (8 * n) % 10
                    ELSE n % 10 END AS frac_num
        FROM strata
        CROSS JOIN (VALUES ('train', 1), ('val', 2), ('test', 3))
             AS s(split, ord)
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY frac_num DESC, ord) AS rr,
               n - SUM(alloc_floor) OVER (PARTITION BY lang) AS leftover
        FROM splits
    )
    SELECT lang, split,
           CAST(alloc_floor + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS n_docs
    FROM ranked
    ORDER BY lang, CASE split WHEN 'train' THEN 1 WHEN 'val' THEN 2
                   ELSE 3 END
    """,
)
def stratified_exact_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122: per-stratum EXACT 80/10/10 train/val/test allocation —
    the split-size contract an ML pipeline must honor before assigning
    rows (X4's deterministic hash split assigns ~80% in expectation;
    this computes the exact integer quota per stratum). Largest-
    remainder rounding in PURE INTEGER arithmetic — (8n) DIV 10 floors,
    (8n) MOD 10 remainders, fixed train<val<test tie order — so both
    engines agree bit-for-bit and each stratum's three splits sum exactly
    to its count. Scale: one combinable count per stratum; everything
    after runs on |strata| x 3 rows."""
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    splits = strata.crossJoin(
        F.broadcast(
            docs.sparkSession.createDataFrame(
                [("train", 1), ("val", 2), ("test", 3)], "split string, ord int"
            )
        )
    ).select(
        "lang",
        "n",
        "split",
        "ord",
        F.when(F.col("split") == "train", F.expr("(8 * n) DIV 10"))
        .otherwise(F.expr("n DIV 10"))
        .alias("alloc_floor"),
        F.when(F.col("split") == "train", (F.col("n") * 8) % 10)
        .otherwise(F.col("n") % 10)
        .alias("frac_num"),
    )
    w_rank = Window.partitionBy("lang").orderBy(
        F.desc("frac_num"), F.asc("ord")
    )
    w_sum = Window.partitionBy("lang")
    return (
        splits.withColumn("rr", F.row_number().over(w_rank))
        .withColumn(
            "leftover", F.col("n") - F.sum("alloc_floor").over(w_sum)
        )
        .select(
            "lang",
            "split",
            (
                F.col("alloc_floor")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            ).cast("bigint").alias("n_docs"),
            "ord",
        )
        .orderBy("lang", "ord")
        .drop("ord")
    )


# ---- X123: bigram LM cross-entropy -----------------------------------


@declared_query(
    "bigram_xentropy_docs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_O_TOK} AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[CAST(i AS INTEGER)] AS w1,
               t[CAST(i AS INTEGER) + 1] AS w2
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2)
    ), c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
        FROM bg GROUP BY 1, 2
    ), c1 AS (
        SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1 FROM bg GROUP BY 1
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(ROUND(CAST(SUM(CAST(
                    -ln((CAST(n12 + 1 AS DOUBLE))
                        / (CAST(n1 + (SELECT v FROM vocab) AS DOUBLE)))
                    AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
                AS DOUBLE) AS xent
    FROM bg b
    JOIN c12 USING (w1, w2)
    JOIN c1 USING (w1)
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def bigram_xentropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123: per-doc bigram language-model cross-entropy with add-one
    smoothing — the LM-perplexity quality filter (CCNet-style) one
    order above X96's unigram model: p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V),
    xent = -mean ln p. Low = fluent/templated, high = noisy — the
    standard keep/bucket signal for pretraining corpora.

    Same discipline and shape as X96: the corpus pass is two combinable
    counts (bigram, prefix) plus a 1-row vocab aggregate broadcast in;
    each -ln term is staged to DECIMAL(28,12) so the per-doc sum is
    order-free; the count-joins run on bigram keys where AQE's skew
    split covers hot function-word pairs."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("t"))
    bg = t.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS w1, "
                "element_at(t, i + 1) AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n12")
    )
    c1 = bg.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1")
    )
    vocab = t.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("bigint").alias("v")
    )
    contr = (
        -F.log(
            (F.col("n12") + 1).cast("double")
            / (F.col("n1") + F.col("v")).cast("double")
        )
    ).cast("decimal(28,12)")
    return (
        bg.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(contr).cast("double") / F.count(F.lit(1)), 6
            ).alias("xent"),
        )
        .orderBy("doc_id")
    )


# ---- X124: exact set-similarity join via prefix filtering ------------

_JACC_T_NUM, _JACC_T_DEN = 8, 10  # threshold 0.8


@declared_query(
    "prefix_filter_jaccard_join",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id,
               concat_ws(' ', t[CAST(i AS INTEGER)],
                         t[CAST(i AS INTEGER) + 1],
                         t[CAST(i AS INTEGER) + 2]) AS tok
        FROM (SELECT doc_id, {_O_TOK} AS t,
                     unnest(generate_series(1, len({_O_TOK}) - 2)) AS i
              FROM documents
              WHERE len({_O_TOK}) >= 3)
    ), dfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok
    ), ordered AS (
        SELECT t.doc_id,
               list(t.tok ORDER BY f.df, t.tok) AS arr
        FROM dt t JOIN dfreq f USING (tok)
        GROUP BY t.doc_id
    ), sized AS (
        SELECT doc_id, arr, len(arr) AS n,
               len(arr) - (({_JACC_T_NUM} * len(arr) + {_JACC_T_DEN} - 1)
                           // {_JACC_T_DEN}) + 1 AS plen
        FROM ordered
    ), pref AS (
        SELECT doc_id, n, unnest(arr[1:CAST(plen AS INTEGER)]) AS tok
        FROM sized
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
         AND {_JACC_T_DEN} * a.n >= {_JACC_T_NUM} * b.n
         AND {_JACC_T_DEN} * b.n >= {_JACC_T_NUM} * a.n
    )
    SELECT doc_a, doc_b,
           CAST(ROUND(CAST(len(list_intersect(x.arr, y.arr)) AS DOUBLE)
                / (x.n + y.n - len(list_intersect(x.arr, y.arr))), 6)
                AS DOUBLE) AS jaccard
    FROM cand
    JOIN sized x ON x.doc_id = doc_a
    JOIN sized y ON y.doc_id = doc_b
    WHERE ROUND(CAST(len(list_intersect(x.arr, y.arr)) AS DOUBLE)
          / (x.n + y.n - len(list_intersect(x.arr, y.arr))), 6) >= 0.8
    ORDER BY doc_a, doc_b
    """,
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124: EXACT set-similarity self-join at Jaccard >= 0.8 over
    3-word SHINGLE sets via prefix + length filtering (PPJoin's core) —
    the exact counterpart of the MinHash-LSH family (E7 approximates
    Jaccard over exactly these shingle sets; this query computes the
    true answer): order each doc's distinct shingles rarest-first
    (global doc-frequency, ties on shingle bytes), keep the first
    |s| - ceil(t|s|) + 1 as the PREFIX, generate candidates by
    equi-joining prefixes with the integer length filter
    (t <= |a|/|b| <= 1/t), verify with an in-row intersection.
    Completeness is a theorem, not a probability: Jaccard >= t forces
    a shared prefix shingle — ZERO false negatives, unlike LSH's
    banded-candidate recall (E7's verify stage measures token-set
    Jaccard over LSH candidates; this computes the true shingle-set
    answer). ceil is exact integer arithmetic ((8n+9) DIV 10) on both
    engines.

    Representation matters at scale: SHINGLES, not unigram tokens —
    the shingle vocabulary is combinatorially large, so per-shingle
    doc-frequencies are tiny and prefix join groups stay bounded
    (the unigram variant was measured 3x slower at sf0.1 purely from
    hot-token join groups). One distinct (doc, shingle) pass, one
    combinable df count, one |doc|-keyed aggregate for the ordered
    arrays; the keep-decision compares the ROUNDED Jaccard on both
    engines.

    The ordered-array relation is the plan
    ``document_shingle_arrays`` (operators/sigcache.py), shared in
    code with lsh_quality_eval's ground-truth leg — identical arrays
    (same shingles, same rarest-first order). It is recomputed per run,
    not registered: a registered checkpoint of it measured slower (see
    its docstring)."""
    from ..operators.sigcache import document_shingle_arrays

    ordered = document_shingle_arrays(spark, sf_dir)
    n = F.size("arr")
    plen = n - F.expr(
        f"({_JACC_T_NUM} * size(arr) + {_JACC_T_DEN} - 1) "
        f"DIV {_JACC_T_DEN}"
    ).cast("int") + 1
    # NOT materialized (tried r13, reverted): the doc-grain array
    # relation is consumed 4x, but checkpointing the shingle arrays as
    # deserialized blocks measured ~1 s slower than recomputing from
    # the fused scan pipeline at sf0.1
    sized = ordered.select(
        "doc_id", "arr", n.cast("int").alias("n"), plen.alias("plen")
    )
    pref = sized.select(
        "doc_id",
        "n",
        F.explode(F.slice("arr", 1, F.col("plen"))).alias("tok"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin length filter: J >= t forces t <= |a|/|b| <= 1/t —
            # exact integer bounds, prunes size-mismatched pairs before
            # the distinct (no false negatives: a theorem, like the
            # prefix rule itself)
            & (_JACC_T_DEN * F.col("a.n") >= _JACC_T_NUM * F.col("b.n"))
            & (_JACC_T_DEN * F.col("b.n") >= _JACC_T_NUM * F.col("a.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    x = sized.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("n_a"),
    )
    y = sized.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = F.round(
        inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter), 6
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


# ---- X125: reciprocal-rank fusion ------------------------------------

_RRF_K = 60
_RRF_LIST = 100
_RRF_OUT = 20


def _rrf_oracle() -> str:
    from ..functions.vector import o_cosine
    from .mining_queries import _CODE

    return f"""
    WITH q AS (
        SELECT embedding AS qvec,
               list_transform(embedding,
                   x -> CAST({_CODE.format(x='x')} AS BIGINT)) AS qcode
        FROM embeddings WHERE vec_id = 0
    ), exact_l AS (
        SELECT vec_id, CAST(row_number() OVER (
                   ORDER BY ROUND({o_cosine('embedding', 'qvec')}, 6) DESC,
                            vec_id) AS BIGINT) AS rank_e
        FROM embeddings CROSS JOIN q WHERE vec_id <> 0
        QUALIFY rank_e <= {_RRF_LIST}
    ), coarse_l AS (
        SELECT vec_id, CAST(row_number() OVER (
                   ORDER BY list_sum(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST({_CODE.format(x='embedding[i]')} AS BIGINT)
                            * qcode[i])) DESC, vec_id) AS BIGINT) AS rank_c
        FROM embeddings CROSS JOIN q WHERE vec_id <> 0
        QUALIFY rank_c <= {_RRF_LIST}
    )
    SELECT vec_id, rank_e, rank_c,
           CAST(ROUND(COALESCE(1.0 / ({_RRF_K} + rank_e), 0)
                    + COALESCE(1.0 / ({_RRF_K} + rank_c), 0), 6)
                AS DOUBLE) AS rrf
    FROM exact_l FULL OUTER JOIN coarse_l USING (vec_id)
    ORDER BY rrf DESC, vec_id
    LIMIT {_RRF_OUT}
    """


@declared_query("rrf_fusion_topk", oracle=_rrf_oracle())
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125: reciprocal-rank fusion of two retrieval lists for query
    vec 0 — the exact-cosine top-100 and the int8-coarse top-100
    (X112's stage 1) — scored 1/(60+rank) per list, missing-from-list
    contributing zero: the standard hybrid-retrieval combiner (the same
    shape fuses BM25 + dense lists in production RAG).

    Scale shape: each list is a TakeOrdered top-100 (per-partition
    heap); the rank windows then run over 100 rows each, the fusion is
    a full outer join of two 100-row tables, and the final top-20 is a
    TakeOrdered again. Ranks are integers, 1/(60+r) is computed on
    identical doubles, and the two-term sum is order-fixed — fully
    engine-stable."""
    from ..functions.vector import vec_dot, vec_norm

    emb = load_table(spark, sf_dir, "embeddings")
    icode = F.transform(
        "embedding",
        lambda x: F.floor(
            F.greatest(F.lit(-4.0), F.least(F.lit(4.0), x.cast("double")))
            * 31.75
        ).cast("bigint"),
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), icode.alias("qcode")
    )
    base = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    exact_scored = base.select(
        "vec_id",
        F.round(
            vec_dot("embedding", "qvec")
            / (vec_norm("embedding") * vec_norm("qvec")),
            6,
        ).alias("s"),
    ).orderBy(F.desc("s"), F.asc("vec_id")).limit(_RRF_LIST)
    coarse_scored = base.select(
        "vec_id",
        F.aggregate(
            # null-skip, matching the oracle's SUM (ADVICE r9)
            F.zip_with(
                icode,
                F.col("qcode"),
                lambda a, b: F.coalesce(a * b, F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("s"),
    ).orderBy(F.desc("s"), F.asc("vec_id")).limit(_RRF_LIST)
    w = Window.orderBy(F.desc("s"), F.asc("vec_id"))
    exact_l = exact_scored.select(
        "vec_id", F.row_number().over(w).cast("bigint").alias("rank_e")
    )
    coarse_l = coarse_scored.select(
        "vec_id", F.row_number().over(w).cast("bigint").alias("rank_c")
    )
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("rank_e")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("rank_c")), F.lit(0.0)),
        6,
    )
    return (
        exact_l.join(coarse_l, "vec_id", "full_outer")
        .select("vec_id", "rank_e", "rank_c", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("vec_id"))
        .limit(_RRF_OUT)
    )


# ---- X126: MAD robust outliers ---------------------------------------


@declared_query(
    "mad_outlier_events",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), absdev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               abs(e.value - m.med) AS ad
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS mad
        FROM absdev GROUP BY event_type
    )
    SELECT a.event_id, a.event_type,
           CAST(ROUND(a.value, 6) AS DOUBLE) AS value,
           CAST(ROUND(0.6745 * (a.value - a.med) / m.mad, 6) AS DOUBLE)
               AS robust_z
    FROM absdev a JOIN mad m USING (event_type)
    WHERE m.mad <> 0
    ORDER BY abs(ROUND(0.6745 * (a.value - a.med) / m.mad, 6)) DESC,
             a.event_id
    LIMIT 30
    """,
)
def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126: robust outlier detection via median absolute deviation —
    the X52 z-score pipeline's robust twin: mean/stddev move with the
    outliers they hunt, median/MAD do not (50% breakdown point). Both
    medians are EXACT interpolated percentiles per group (the X18
    surface, engine-identical on identical doubles); robust_z =
    0.6745 (v - med)/MAD, top-30 by magnitude with id tie-break
    through TakeOrderedAndProject.

    Scale: two grouped exact-median aggregates over the event stream
    (each one shuffle on event_type) with the per-type medians
    joined back broadcast-size; no window over the fact table."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    absdev = events.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = absdev.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad")
    )
    rz = F.round(
        0.6745 * (F.col("value") - F.col("med")) / F.col("mad"), 6
    )
    return (
        absdev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") != 0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            rz.alias("robust_z"),
        )
        .orderBy(F.abs(F.col("robust_z")).desc(), F.asc("event_id"))
        .limit(30)
    )


# ---- X127: per-language nucleus vocabulary ---------------------------


@declared_query(
    "nucleus_vocab_per_lang",
    oracle=f"""
    WITH cnt AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT lang, unnest({_O_TOK}) AS word FROM documents) t
        GROUP BY lang, word
    ), ranked AS (
        SELECT lang, word, n,
               SUM(n) OVER (PARTITION BY lang ORDER BY n DESC, word
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n) OVER (PARTITION BY lang) AS total
        FROM cnt
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n) AS BIGINT) AS kept_occ,
           CAST(MAX(total) AS BIGINT) AS total_occ,
           CAST(ROUND(CAST(SUM(n) AS DOUBLE) / MAX(total), 6) AS DOUBLE)
               AS coverage
    FROM ranked
    WHERE (cum - n) * 10 < total * 9
    GROUP BY lang
    ORDER BY lang
    """,
)
def nucleus_vocab_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X127: per-language nucleus (top-p) vocabulary — X104's global
    95% cutoff, partitioned: for EACH language, the smallest
    count-ranked vocab covering 90% of that language's token
    occurrences (per-language tokenizer budgets for a multilingual
    corpus). The keep rule is the same exact integer arithmetic
    ((cum − n)·10 < total·9) so membership can never ride a float
    boundary; only the reported coverage is a rounded double. The
    windows are PARTITIONED by lang over the per-language vocab
    relation (Heaps-bounded), unlike X104's whitelisted global one."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.explode(tokens("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n"), F.asc("word"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("lang")
    ranked = cnt.select(
        "lang",
        "word",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("total"),
    )
    return (
        ranked.filter(
            (F.col("cum") - F.col("n")) * 10 < F.col("total") * 9
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n").cast("bigint").alias("kept_occ"),
            F.max("total").cast("bigint").alias("total_occ"),
            F.round(
                F.sum("n").cast("double") / F.max("total"), 6
            ).alias("coverage"),
        )
        .orderBy("lang")
    )


# ---- X128: grouped weighted median -----------------------------------


@declared_query(
    "weighted_median_price",
    oracle="""
    WITH per_price AS (
        SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT flag, price, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY price
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS total
        FROM per_price
    )
    SELECT flag,
           CAST(MIN(price) AS DOUBLE) AS wmedian,
           CAST(MAX(total) AS DOUBLE) AS total_weight
    FROM cum
    WHERE 2 * cw >= total
    GROUP BY flag
    ORDER BY flag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128: grouped WEIGHTED median — the order statistic percentile()
    cannot express: the smallest price p per return flag such that
    lineitems priced <= p carry at least half the total quantity
    (lower weighted median). Weights and the crossing rule are exact
    decimals (2·cum >= total — no float boundary), and grouping by
    price BEFORE the cumulative window makes tie order irrelevant: the
    cumulative weight is per distinct price, so the crossing price is
    unique by construction. One shuffle for the per-price pre-aggregate
    (combinable), a flag-partitioned window over distinct prices, and a
    per-flag argmin."""
    li = load_table(spark, sf_dir, "lineitem")
    per_price = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("w"))
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    cum = per_price.select(
        "flag",
        "price",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("total"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("total"))
        .groupBy("flag")
        .agg(
            F.min("price").cast("double").alias("wmedian"),
            F.max("total").cast("double").alias("total_weight"),
        )
        .orderBy("flag")
    )


# ---- X129: A/B two-proportion z-test ---------------------------------


@declared_query(
    "ab_proportion_ztest",
    oracle="""
    WITH assigned AS (
        SELECT event_type, user_id % 2 AS variant,
               CASE WHEN value >= 5.0 THEN 1 ELSE 0 END AS success
        FROM events
    ), agg AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN variant = 0 THEN success ELSE 0 END)
                    AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN variant = 1 THEN success ELSE 0 END)
                    AS BIGINT) AS s1
        FROM assigned GROUP BY event_type
    )
    SELECT event_type, n0, n1, s0, s1,
           CAST(ROUND(
               (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
               / sqrt((CAST(s0 + s1 AS DOUBLE) / (n0 + n1))
                      * (1 - CAST(s0 + s1 AS DOUBLE) / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1)), 6) + 0.0 AS DOUBLE) AS z,
           abs(ROUND(
               (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
               / sqrt((CAST(s0 + s1 AS DOUBLE) / (n0 + n1))
                      * (1 - CAST(s0 + s1 AS DOUBLE) / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1)), 6)) > 1.96 AS significant
    FROM agg
    ORDER BY event_type
    """,
)
def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X129: A/B experiment readout — pooled two-proportion z-test per
    event type (variant = user_id parity, success = value >= 5): the
    statistical-significance gate an experimentation pipeline computes
    over event logs. All counts are exact BIGINTs, the z statistic is
    closed-form arithmetic + one IEEE-exact sqrt on identical doubles,
    and the significance flag compares the ROUNDED z so the boolean
    can never ride a last-ulp boundary. One map-side-combinable
    aggregate over the stream; |event_type| result rows."""
    events = load_table(spark, sf_dir, "events")
    assigned = events.select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("value") >= 5.0, 1).otherwise(0).alias("success"),
    )
    agg = assigned.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint").alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint").alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("success")).otherwise(0))
        .cast("bigint").alias("s0"),
        F.sum(F.when(F.col("variant") == 1, F.col("success")).otherwise(0))
        .cast("bigint").alias("s1"),
    )
    p0 = F.col("s0").cast("double") / F.col("n0")
    p1 = F.col("s1").cast("double") / F.col("n1")
    pp = (F.col("s0") + F.col("s1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    # + 0.0 canonicalizes a rounded-to-zero z's sign (the fleet-wide
    # signed-zero contract; see tests/test_negative_zero.py)
    z = F.round(
        (p1 - p0)
        / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
        6,
    ) + F.lit(0.0)
    return agg.select(
        "event_type",
        "n0",
        "n1",
        "s0",
        "s1",
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    ).orderBy("event_type")


# ---- X130: triangle counting with degree orientation ------------------


@declared_query(
    "triangle_count_copurchase",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), und AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM und
              UNION ALL SELECT v AS node FROM und)
        GROUP BY node
    ), oriented AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
                   AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
                   AS dst,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END
                   AS ddeg
        FROM und e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ), tri AS (
        SELECT w.src AS x, w.a AS y, w.b AS z
        FROM (
            SELECT o1.src, o1.dst AS a, o2.dst AS b
            FROM oriented o1 JOIN oriented o2
              ON o1.src = o2.src
             AND (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)
        ) w
        JOIN oriented o3 ON o3.src = w.a AND o3.dst = w.b
    )
    SELECT node AS part_key,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y AS node FROM tri
          UNION ALL SELECT z AS node FROM tri)
    GROUP BY node
    ORDER BY n_triangles DESC, part_key
    LIMIT 30
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X130: per-node triangle counts over the co-purchase graph (top
    30) — the clustering/community-density signal (a part in many
    triangles sits inside a dense substitute/bundle cluster; on a web
    graph the same count feeds spam detection).

    The scale story is the DEGREE ORIENTATION (the classic
    Schank-Wagner / "rage against the wedges" trick): orient every
    undirected edge from its (degree, id)-smaller endpoint to the
    larger, so triangle enumeration fans out only over OUT-edges —
    every node's out-degree is bounded by O(sqrt(m)) regardless of how
    hot the hottest node is, and each triangle is generated exactly
    once (no /6 dedup): for each oriented edge (u,v), the closing
    nodes are N+(u) ∩ N+(v), and a triangle's unique 2-out-edge source
    guarantees single emission. Everything is exact integers. At
    100 TB the oriented adjacency is the persisted artifact; work is
    bounded by arboricity, not by the max degree.

    Plan hygiene (measured at sf0.1, 1.2M edges): the naive
    wedge-materializing formulation shuffles 41M wedge rows (8.4 s
    even with the adjacency checkpointed); this edge-intersection
    formulation ships each out-neighborhood as ONE sorted array
    (max 97 elements under the orientation bound) and intersects
    per edge — output-bound at 3x|triangles| rows. Degrees and
    per-node counts use a single ``explode`` pass, NOT ``unionAll``
    of the same subtree (self-union recomputes the branch's whole
    lineage: the first cut compiled to 90 parquet scans / 229
    exchanges, 12.6 s). ``oriented`` is materialized once via
    ``localCheckpoint`` (the "persisted adjacency" of the scale
    story, same discipline as ``operators/graph.py``)."""
    from ..operators.edgecache import (
        copurchase_oriented,
        copurchase_oriented_adj,
    )

    # r13: the oriented edge relation and its out-neighborhood arrays
    # moved into the session-scoped persisted edge cache (the X37
    # stored-index discipline this docstring's scale story already
    # promised) — shared with clustering_coefficient_copurchase instead
    # of each query re-deriving degrees + orientation + adjacency from
    # the pair cache and re-running the adj aggregate for both join legs.
    oriented = copurchase_oriented(spark, sf_dir)
    adj = copurchase_oriented_adj(spark, sf_dir)
    tri = (
        oriented.select("src", "dst")
        .join(
            adj.select(F.col("src").alias("s_"), F.col("nbrs").alias("src_nbrs")),
            F.col("src") == F.col("s_"),
        )
        .join(
            adj.select(F.col("src").alias("d_"), F.col("nbrs").alias("dst_nbrs")),
            F.col("dst") == F.col("d_"),
        )
        .select(
            F.col("src").alias("x"),
            F.col("dst").alias("y"),
            F.explode(F.array_intersect("src_nbrs", "dst_nbrs")).alias("z"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        per_node.select(
            F.col("node").alias("part_key"), "n_triangles"
        )
        .orderBy(F.desc("n_triangles"), F.asc("part_key"))
        .limit(30)
    )


# ---- X131: inter-event gap statistics ---------------------------------


@declared_query(
    "interevent_gap_stats",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap_us
        FROM events
    ), gaps AS (SELECT event_type, gap_us FROM seq WHERE gap_us IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(ROUND(CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1e6, 6)
                AS DOUBLE) AS mean_gap_s,
           CAST(ROUND(quantile_cont(gap_us, 0.5) / 1e6, 6) AS DOUBLE)
               AS median_gap_s,
           CAST(ROUND(quantile_cont(gap_us, 0.9) / 1e6, 6) AS DOUBLE)
               AS p90_gap_s
    FROM gaps
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def interevent_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131: inter-event time distribution per event type — the
    activity-cadence profile (bot detection, session-gap calibration,
    watermark sizing all start from this table): per (user, type)
    sequence, the gap to the previous event; per type, gap count,
    mean, median and p90 in seconds.

    Gaps are EXACT integer microseconds (epoch_us on both engines) from
    one lag window partitioned by (user_id, event_type) — high-
    cardinality, well-spread, never a global sort. Mean divides the
    exact BIGINT sum; median/p90 are exact interpolated percentiles
    over integers (the X18-proven surface); everything rounds to 6 on
    the way out."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    # ts is TIMESTAMP_NTZ; the session tz is pinned UTC so the cast is
    # deterministic, and gaps are differences so any offset cancels
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        events.select(
            "event_type", (us - F.lag(us).over(w)).alias("gap_us")
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(
                F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("mean_gap_s"),
            F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 6)
            .alias("median_gap_s"),
            F.round(F.expr("percentile(gap_us, 0.9)") / 1e6, 6)
            .alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


# ---- X132: categorical column entropy ---------------------------------


@declared_query(
    "column_entropy_orders",
    oracle="""
    WITH vals AS (
        SELECT 'o_orderstatus' AS col_name,
               CAST(o_orderstatus AS VARCHAR) AS val FROM orders
        UNION ALL
        SELECT 'o_orderpriority' AS col_name,
               CAST(o_orderpriority AS VARCHAR) AS val FROM orders
    ), cnt AS (
        SELECT col_name, val, CAST(COUNT(*) AS BIGINT) AS c
        FROM vals GROUP BY col_name, val
    ), tot AS (
        SELECT col_name, SUM(c) AS n FROM cnt GROUP BY col_name
    )
    SELECT c.col_name,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(t.n) AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(SUM(CAST(
                -(CAST(c.c AS DOUBLE) / t.n)
                 * ln(CAST(c.c AS DOUBLE) / t.n) AS DECIMAL(28,12)))
                AS DOUBLE), 6) AS DOUBLE) AS entropy
    FROM cnt c JOIN tot t USING (col_name)
    GROUP BY c.col_name
    ORDER BY c.col_name
    """,
)
def column_entropy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132: Shannon entropy of categorical columns — the column-
    profiling signal X48 doesn't compute: near-zero entropy flags
    constant/degenerate columns, maximal entropy flags key-like ones;
    data-quality monitors track its drift release-over-release.

    One stack pass (col_name, value) -> combinable counts -> per-column
    -p·ln p terms staged to DECIMAL(28,12) so the category sum is
    order-free (the X96 discipline); categories per column are bounded
    so everything after the count aggregate is tiny."""
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.expr(
            "stack(2, 'o_orderstatus', CAST(o_orderstatus AS STRING), "
            "'o_orderpriority', CAST(o_orderpriority AS STRING)) "
            "AS (col_name, val)"
        )
    )
    cnt = vals.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("col_name").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = (-p * F.log(p)).cast("decimal(28,12)")
    return (
        cnt.join(tot, "col_name")
        .groupBy("col_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.max("n").cast("bigint").alias("n_rows"),
            F.round(F.sum(term).cast("double"), 6).alias("entropy"),
        )
        .orderBy("col_name")
    )
