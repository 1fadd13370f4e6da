"""Training-data mining declared queries (round 6 batch, [north-star]
scope — the reference has no mining surface; these are the operators a
100 TB pretraining-corpus pipeline runs between ingest and packing):

  * ``hard_negative_mining`` (X111) — contrastive-training hard
    negatives: per anchor, the most-similar vectors with a DIFFERENT
    label. Same physical shape as the k-NN join (anchors broadcast,
    vectors never shuffle, one window on the anchor id).
  * ``int8_rerank_topk`` (X112) — two-stage retrieval: an integer int8
    code scan prunes to 100 candidates, exact cosine rescores them.
    The 100 TB pattern: the cheap pass touches every vector with 4x
    less memory traffic and integer arithmetic; the exact kernel runs
    on a constant-sized candidate set.
  * ``bpe_first_merges`` (X113) — the first BPE merge table: adjacent
    char-pair frequencies weighted by word frequency. Pair counting
    runs over the DISTINCT-word vocabulary (zipf-bounded), not the
    corpus token stream — the trick that makes corpus-scale BPE cheap.
  * ``url_canonical_dedup`` (X114) — canonical-URL dedup: lowercase
    host, strip tracking params and fragments, then one hash-groupBy
    on the canonical form. Per-row JVM string ops + one shuffle.
  * ``repeated_substring_spans`` (X115) — exact repeated-substring
    candidates (the memorization-risk pass from large-corpus dedup):
    strided 20-char shingles grouped by value; emitted spans are the
    inputs to an exact substring-removal rewrite. The stride bounds
    fan-out at len/stride rows per doc.
  * ``mixture_temperature_alloc`` (X116) — temperature-based mixture
    weights across sources (w_d = n_d^(1/2), the multilingual-sampling
    shape) with largest-remainder rounding to an integer example
    budget. One aggregate over the corpus; the allocation arithmetic
    runs on |sources| rows.

Determinism discipline (registry header): sqrt/floor are IEEE
correctly-rounded (bit-identical across engines), integer code dots
are exact BIGINT sums, decimal staging makes the one cross-source sum
order-free, and every emitted double is ROUND(.., 6)-ed on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import o_cosine, vec_dot, vec_norm
from ..io import load_table
from ..operators.textanalysis import tokens
from .registry import declared_query
from .text_queries import _O_TOK

# ---- X111: hard negative mining -------------------------------------

_ANCHOR_MOD = 200
_N_NEG = 5


@declared_query(
    "hard_negative_mining",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS anchor_id, label AS anchor_label,
               embedding AS anchor_vec
        FROM embeddings WHERE vec_id % {_ANCHOR_MOD} = 0
    ), scored AS (
        SELECT a.anchor_id, e.vec_id AS negative_id, e.label,
               CAST(ROUND({o_cosine('e.embedding', 'a.anchor_vec')}, 6)
                    AS DOUBLE) AS cosine_sim
        FROM embeddings e CROSS JOIN anchors a
        WHERE e.label <> a.anchor_label
    )
    SELECT anchor_id, negative_id, label, cosine_sim, rn
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
                       ORDER BY cosine_sim DESC, negative_id)
                  AS INTEGER) AS rn
        FROM scored
    ) t
    WHERE rn <= {_N_NEG}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: per anchor (vec_id % 200 = 0), the 5 highest-cosine vectors
    whose label DIFFERS — the hard negatives a contrastive embedding
    trainer pairs with each anchor. Physical shape mirrors the k-NN
    join (E5): the anchor table broadcasts, the vector table is scanned
    in place (never shuffled to meet the anchors), and the only shuffle
    is the |anchors|-keyed ranking window, which WindowGroupLimit
    prunes to the per-anchor top-5 before the sort completes."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % _ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("anchor_vec"),
    )
    # Spread the vector side on vec_id before the broadcast join: the
    # small-file fixture scans as ~1 partition, which would run every
    # |vectors| x |anchors| cosine on ONE task (40x wall at the 10x
    # probe). The exchange is |vectors|-sized, dominated by the
    # |pairs|-sized ranking shuffle below; a real cluster's scan
    # parallelism gives the spread for free.
    scored = (
        emb.repartition(F.col("vec_id"))
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            "label",
            F.round(
                vec_dot("embedding", "anchor_vec")
                / (vec_norm("embedding") * vec_norm("anchor_vec")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _N_NEG)
    )


# ---- X112: int8 coarse scan + exact rerank ---------------------------

# global symmetric code scale: x in [-4, 4] -> floor(x * 31.75) in
# [-127, 127]. floor() on identical doubles is bit-deterministic; the
# clamp makes out-of-range components safe instead of silently wrong.
_CODE = "floor(greatest(-4.0, least(4.0, CAST({x} AS DOUBLE))) * 31.75)"
_COARSE_K = 100
_FINAL_K = 10


@declared_query(
    "int8_rerank_topk",
    oracle=f"""
    WITH q AS (
        SELECT embedding AS qvec,
               list_transform(embedding,
                   x -> CAST({_CODE.format(x='x')} AS BIGINT)) AS qcode
        FROM embeddings WHERE vec_id = 1
    ), coarse AS (
        SELECT e.vec_id, e.label, e.embedding, q.qvec,
               CAST(list_sum(list_transform(
                   generate_series(1, len(e.embedding)),
                   i -> CAST({_CODE.format(x='e.embedding[i]')} AS BIGINT)
                        * q.qcode[i])) AS BIGINT) AS coarse_score
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 1
    ), cand AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                ORDER BY coarse_score DESC, vec_id) AS crn
            FROM coarse
        ) t WHERE crn <= {_COARSE_K}
    )
    SELECT vec_id, label, coarse_score,
           CAST(ROUND({o_cosine('embedding', 'qvec')}, 6) AS DOUBLE)
               AS cosine_sim,
           CAST(row_number() OVER (
               ORDER BY ROUND({o_cosine('embedding', 'qvec')}, 6) DESC,
                        vec_id) AS INTEGER) AS rn
    FROM cand
    QUALIFY rn <= {_FINAL_K}
    ORDER BY rn
    """,
)
def int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112: two-stage ANN for query vec_id=1 — an int8 CODE scan
    (global scale, exact BIGINT dot) takes the top-100 candidates, then
    the exact cosine kernel reranks only those 100 and emits the top-10.

    This is the production retrieval cost model: stage 1 touches every
    vector but moves 4x fewer bytes and does integer math (at cluster
    scale: SIMD-friendly, cache-resident codes, e.g. 100 TB of float32
    becomes 25 TB of codes); stage 2's expensive exact kernel runs on a
    CONSTANT 100 rows regardless of corpus size. Both top-ks compile to
    TakeOrderedAndProject (per-partition heap, no global sort), and the
    integer coarse scores are engine-exact so the candidate set —
    membership AND order — is reproducible everywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    code = lambda c: F.expr(_CODE.format(x=c)).cast("bigint")  # noqa: E731
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("embedding").alias("qvec"),
        F.transform(
            "embedding", lambda x: F.floor(
                F.greatest(F.lit(-4.0), F.least(F.lit(4.0), x.cast("double")))
                * 31.75
            ).cast("bigint")
        ).alias("qcode"),
    )
    coarse = (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "embedding",
            "qvec",
            F.aggregate(
                F.zip_with(
                    F.transform(
                        "embedding",
                        lambda x: F.floor(
                            F.greatest(
                                F.lit(-4.0), F.least(F.lit(4.0), x.cast("double"))
                            )
                            * 31.75
                        ).cast("bigint"),
                    ),
                    F.col("qcode"),
                    # null-skip, matching the oracle's SUM (ADVICE r9)
                    lambda a, b: F.coalesce(
                        a * b, F.lit(0).cast("bigint")
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("coarse_score"),
        )
    )
    cand = coarse.orderBy(
        F.desc("coarse_score"), F.asc("vec_id")
    ).limit(_COARSE_K)
    rescored = cand.select(
        "vec_id",
        "label",
        "coarse_score",
        F.round(
            vec_dot("embedding", "qvec")
            / (vec_norm("embedding") * vec_norm("qvec")),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        rescored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _FINAL_K)
        .orderBy("rn")
    )


# ---- X113: BPE first-merge pair table --------------------------------

_N_MERGES = 30


@declared_query(
    "bpe_first_merges",
    oracle=f"""
    WITH vocab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_O_TOK}) AS word FROM documents)
        WHERE len(word) >= 2
        GROUP BY word
    ), positions AS (
        SELECT word, freq,
               unnest(generate_series(1, len(word) - 1)) AS i
        FROM vocab
    ), pairs AS (
        SELECT substr(word, CAST(i AS INTEGER), 2) AS pair,
               CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM positions
        GROUP BY 1
    )
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair)
                AS INTEGER) AS merge_rank
    FROM pairs
    QUALIFY merge_rank <= {_N_MERGES}
    ORDER BY merge_rank
    """,
)
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113: the first BPE merge table — adjacent character-pair
    frequencies over the corpus, weighted by word frequency; the top
    pair is the tokenizer's first merge, the ranked list its first 30.

    The scalable shape: pair counting explodes the DISTINCT-word
    vocabulary (zipf-bounded — tens of millions of rows at 100 TB, a
    rounding error next to the token stream), carrying each word's
    corpus frequency as a weight, so the heavy corpus pass is ONE
    word-count aggregate (map-side combinable) and everything after is
    vocabulary-sized. Pairs are 2-char substrings (binary collation on
    both engines); merge_rank ties break on the pair bytes."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    pairs = (
        vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1), "
                    "i -> substring(word, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (
        pairs.withColumn("merge_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("merge_rank") <= _N_MERGES)
        .orderBy("merge_rank")
    )


# ---- X114: canonical-URL dedup ---------------------------------------


@declared_query(
    "url_canonical_dedup",
    oracle="""
    WITH canon AS (
        SELECT doc_id,
               'https://' || lower('WWW.' || source || '.Example.COM')
                   || '/page/' || CAST(doc_id % 25 AS VARCHAR)
                   || '?id=' || CAST(doc_id % 4 AS VARCHAR) AS canonical_url
        FROM documents
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(*) >= 2
    ORDER BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114: canonical-URL deduplication — the crawl-side dedup that
    runs BEFORE content hashing: lowercase the host, drop the fragment,
    strip tracking params (utm_*), keep identity params, then group on
    the canonical form and keep the smallest doc_id.

    URLs are synthesized from the fixture (host from ``source``, path
    and id from ``doc_id`` — so the oracle derives identical strings),
    but the Spark side canonicalizes the REAL way: ``parse_url`` for
    HOST/PATH and the QUERY-key extraction for the kept param — the
    per-row JVM surface a crawler actually uses — not string
    concatenation. One hash-groupBy on the canonical key is the only
    shuffle; at 100 TB the group key is short and uniformly spread."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example.COM/page/"),
        (F.col("doc_id") % 25).cast("string"),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("&utm_medium=rss#frag"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    canonical = with_url.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.lower(F.parse_url(F.col("url"), F.lit("HOST"))),
            F.parse_url(F.col("url"), F.lit("PATH")),
            F.lit("?id="),
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("id")),
        ).alias("canonical_url"),
    )
    return (
        canonical.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_dups") >= 2)
        .orderBy("canonical_url")
    )


# ---- X115: repeated-substring spans ----------------------------------

_SHINGLE_LEN = 20
_SHINGLE_STRIDE = 10
_MIN_DOCS = 3
_TOP_SPANS = 50


@declared_query(
    "repeated_substring_spans",
    oracle=f"""
    WITH positions AS (
        SELECT doc_id, text,
               unnest(generate_series(
                   1, len(text) - {_SHINGLE_LEN - 1}, {_SHINGLE_STRIDE}))
                   AS p
        FROM documents
        WHERE len(text) >= {_SHINGLE_LEN}
    ), shingles AS (
        SELECT doc_id, substr(text, CAST(p AS INTEGER), {_SHINGLE_LEN})
                   AS span
        FROM positions
    )
    SELECT span,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM shingles
    GROUP BY span
    HAVING COUNT(DISTINCT doc_id) >= {_MIN_DOCS}
    QUALIFY row_number() OVER (
        ORDER BY n_docs DESC, n_occurrences DESC, span) <= {_TOP_SPANS}
    ORDER BY n_docs DESC, n_occurrences DESC, span
    """,
)
def repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X115: exact repeated-substring candidates — strided 20-char
    shingles that appear in >= 3 distinct documents: the memorization /
    boilerplate-risk pass large-corpus pipelines run before exact
    substring removal (the suffix-array approach's distributed
    approximation: a strided shingle index finds every repeat of
    length >= len + stride - 1, here >= 29 chars, at len/stride rows
    per doc instead of len).

    Scale shape: the fan-out is bounded (~len/10 rows per doc, each a
    20-char string), the groupBy key is the shingle itself (uniformly
    spread — hot boilerplate keys are exactly the signal), and the
    top-50 is a TakeOrdered over the surviving groups. The distinct
    doc-count and raw occurrence count are both exact."""
    # spread docs before the shingle explode (the minhash_signatures
    # discipline): the small-file fixture scans as ~1 partition, which
    # would run the whole explode + partial aggregation on ONE task; a
    # real cluster's scan parallelism gives this for free (r10,
    # measured 11% at sf0.1 and removes the serial stage at scale).
    parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    docs = load_table(spark, sf_dir, "documents").repartition(
        parts, "doc_id"
    )
    shingles = (
        docs.filter(F.length("text") >= _SHINGLE_LEN)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(text) - {_SHINGLE_LEN - 1}, "
                    f"{_SHINGLE_STRIDE}), p -> substring(text, p, {_SHINGLE_LEN}))"
                )
            ).alias("span"),
        )
    )
    agg = (
        shingles.groupBy("span")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= _MIN_DOCS)
    )
    return agg.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span")
    ).limit(_TOP_SPANS)


# ---- X116: temperature-based mixture allocation ----------------------

_MIX_BUDGET = 100_000


@declared_query(
    "mixture_temperature_alloc",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(28,12))
                   AS w_dec
        FROM documents GROUP BY source
    ), shares AS (
        SELECT source, n_docs,
               CAST(w_dec AS DOUBLE) * {_MIX_BUDGET}
                   / CAST((SELECT SUM(w_dec) FROM counts) AS DOUBLE)
                   AS share
        FROM counts
    ), floors AS (
        SELECT source, n_docs, share,
               CAST(floor(share) AS BIGINT) AS alloc_floor,
               share - floor(share) AS frac
        FROM shares
    )
    SELECT source, n_docs,
           CAST(ROUND(share, 6) AS DOUBLE) AS share,
           CAST(alloc_floor
                + CASE WHEN row_number() OVER (ORDER BY frac DESC, source)
                       <= {_MIX_BUDGET}
                          - (SELECT SUM(alloc_floor) FROM floors)
                  THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM floors
    ORDER BY source
    """,
)
def mixture_temperature_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: temperature-based mixture weights across sources — the
    data-mixing step that decides how many examples each domain
    contributes to a training epoch: w_d = n_d^(1/2) (temperature 2
    flattening, the multilingual-sampling shape), normalized, scaled to
    a 100k-example budget, with largest-remainder rounding so the
    integer allocations sum EXACTLY to the budget.

    Determinism: sqrt is IEEE correctly-rounded (bit-identical across
    engines, unlike pow with arbitrary exponents — why the temperature
    is expressed as a square root), the per-source weight is staged to
    DECIMAL(28,12) so the cross-source total is an exact order-free
    decimal sum, and the share division then runs on identical doubles
    everywhere. Scale: one map-side-combinable count over the corpus;
    the allocation arithmetic runs on |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).select(
        "source",
        "n_docs",
        F.sqrt(F.col("n_docs").cast("double"))
        .cast("decimal(28,12)")
        .alias("w_dec"),
    )
    total = counts.agg(F.sum("w_dec").alias("w_total"))
    shares = counts.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        (
            F.col("w_dec").cast("double")
            * _MIX_BUDGET
            / F.col("w_total").cast("double")
        ).alias("share"),
    )
    floors = shares.select(
        "source",
        "n_docs",
        "share",
        F.floor("share").cast("bigint").alias("alloc_floor"),
        (F.col("share") - F.floor("share")).alias("frac"),
    )
    leftover = floors.agg(
        (F.lit(_MIX_BUDGET) - F.sum("alloc_floor")).alias("n_extra")
    )
    w = Window.orderBy(F.desc("frac"), F.asc("source"))
    return (
        floors.crossJoin(F.broadcast(leftover))
        .withColumn("rr", F.row_number().over(w))
        .select(
            "source",
            "n_docs",
            F.round("share", 6).alias("share"),
            (
                F.col("alloc_floor")
                + F.when(F.col("rr") <= F.col("n_extra"), 1).otherwise(0)
            ).cast("bigint").alias("alloc"),
        )
        .orderBy("source")
    )


# ---- X117: grouped time-series linear interpolation ------------------

_OBS_MOD = 3  # a (type, day) cell is OBSERVED iff md5-mask % 3 == 0


@declared_query(
    "linear_interpolate_daily",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS raw_val
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
        FROM events
    ), grid AS (
        SELECT t.event_type, CAST(g.day AS DATE) AS day
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (
            SELECT unnest(generate_series(
                (SELECT d0 FROM span), (SELECT d1 FROM span),
                INTERVAL 1 DAY)) AS day) g
    ), masked AS (
        SELECT g.event_type, g.day,
               CASE WHEN ('0x' || substr(md5('obs|' || g.event_type || '|'
                        || strftime(g.day, '%Y-%m-%d')), 1, 8))::BIGINT
                        % {_OBS_MOD} = 0
                    THEN d.raw_val END AS obs_val
        FROM grid g LEFT JOIN daily d
          ON d.event_type = g.event_type AND d.day = g.day
    ), nbrs AS (
        SELECT event_type, day, obs_val,
               last_value(obs_val IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN obs_val IS NOT NULL THEN day END
                          IGNORE NULLS) OVER w_prev AS pd,
               first_value(obs_val IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN obs_val IS NOT NULL THEN day END
                           IGNORE NULLS) OVER w_next AS nd
        FROM masked
        WINDOW w_prev AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           CAST(ROUND(CASE WHEN obs_val IS NOT NULL THEN obs_val
                ELSE pv + (nv - pv) * (day - pd) / (nd - pd) END, 6)
                AS DOUBLE) AS val,
           CASE WHEN obs_val IS NOT NULL THEN 'observed'
                ELSE 'interp' END AS src
    FROM nbrs
    WHERE obs_val IS NOT NULL OR (pv IS NOT NULL AND nv IS NOT NULL)
    ORDER BY event_type, day
    """,
)
def linear_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: grouped time-series LINEAR interpolation — the resample
    step a metrics/feature pipeline runs on gappy daily series: known
    points anchor; each missing day gets pv + (nv-pv) * elapsed/gap. This
    completes the gap-fill family: X5 forward-fills (step function),
    X32 is IGNORE NULLS carry — this one reconstructs the straight
    line between neighbors, and edge days with only one neighbor are
    dropped (no extrapolation).

    Observation gaps are synthesized deterministically (md5 mask over
    (type, day), ~1/3 observed) so the op exercises real interpolation
    at every SF; the daily values themselves are exact decimal sums.
    Scale shape: the heavy pass is ONE map-side-combinable daily
    aggregate over the event stream; the interpolation windows run on
    the (types x days) grid — time-dimension-sized, thousands of rows
    per series regardless of event volume. Determinism: both engines
    interpolate the same doubles (decimal-staged sums, integer day
    gaps), ROUND(.., 6) on the way out."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("raw_val")
    )
    span = events.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    grid = (
        events.select("event_type").distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    mask = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("obs"),
                        F.col("event_type"),
                        F.date_format("day", "yyyy-MM-dd"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _OBS_MOD
        == 0
    )
    masked = (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.when(mask, F.col("raw_val")).alias("obs_val"),
        )
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("obs_val").isNotNull(), F.col("day"))
    nbrs = masked.select(
        "event_type",
        "day",
        "obs_val",
        F.last("obs_val", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("obs_val", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        "day", "pd"
    ) / F.datediff("nd", "pd")
    return (
        nbrs.filter(
            F.col("obs_val").isNotNull()
            | (F.col("pv").isNotNull() & F.col("nv").isNotNull())
        )
        .select(
            "event_type",
            "day",
            F.round(
                F.when(F.col("obs_val").isNotNull(), F.col("obs_val"))
                .otherwise(lerp),
                6,
            ).alias("val"),
            F.when(F.col("obs_val").isNotNull(), F.lit("observed"))
            .otherwise(F.lit("interp"))
            .alias("src"),
        )
        .orderBy("event_type", "day")
    )


# ---- X118: ensemble near-dup vote ------------------------------------


def _ensemble_oracle() -> str:
    from .dedup_queries import _O_SIGNATURES, _O_SIMHASH

    return f"""
    WITH {_O_SIGNATURES},
    mh AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.band = b.band AND a.minhash = b.minhash
        WHERE a.doc_id < b.doc_id
    ),
    {_O_SIMHASH},
    sbanded AS (
        SELECT doc_id, simhash, band,
               (simhash >> (band * 8)) & 255 AS val
        FROM sfp, LATERAL (
            SELECT unnest(generate_series(0, 3)) AS band) b
    ), shp AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sbanded a JOIN sbanded b
          ON a.band = b.band AND a.val = b.val
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.simhash, b.simhash)) <= 3
    ), unioned AS (
        SELECT doc_a, doc_b, 'minhash' AS method FROM mh
        UNION ALL
        SELECT doc_a, doc_b, 'simhash' AS method FROM shp
    )
    SELECT doc_a, doc_b,
           CAST(COUNT(*) AS INTEGER) AS n_methods,
           string_agg(method, ',' ORDER BY method) AS methods
    FROM unioned
    GROUP BY doc_a, doc_b
    ORDER BY doc_a, doc_b
    """


@declared_query("ensemble_neardup_vote", oracle=_ensemble_oracle())
def ensemble_neardup_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118: ensemble near-dup governance — the union of two
    independent detectors (MinHash-LSH candidates, token-level; SimHash
    hamming<=3, bit-level) voted per pair: ``n_methods = 2`` is the
    high-precision kill set, ``1`` the review queue. Real corpus
    pipelines run exactly this vote because each family has disjoint
    blind spots (LSH misses short docs, SimHash misses reorderings).

    Scale: both emitters are the already-audited sub-quadratic banded
    shapes; the vote itself is one groupBy on the pair key (combinable
    count + sorted string_agg of a <=2-element set). No new quadratic
    surface."""
    from ..operators.dedup import (
        lsh_candidate_pairs,
        simhash,
        simhash_neardup_pairs,
    )

    from ..operators.sigcache import document_signatures

    docs = load_table(spark, sf_dir, "documents")
    mh = lsh_candidate_pairs(document_signatures(spark, sf_dir)).select(
        "doc_a", "doc_b", F.lit("minhash").alias("method")
    )
    sh = simhash_neardup_pairs(simhash(docs), max_hamming=3).select(
        "doc_a", "doc_b", F.lit("simhash").alias("method")
    )
    return (
        mh.unionByName(sh)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_methods"),
            F.array_join(F.array_sort(F.collect_list("method")), ",")
            .alias("methods"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---- X119: incremental LSH index admission ---------------------------

_NEW_MOD = 10  # docs with doc_id % 10 == 0 play the incoming batch


def _lsh_admission_oracle() -> str:
    from .dedup_queries import _O_SIGNATURES

    return f"""
    WITH {_O_SIGNATURES}
    SELECT a.doc_id AS new_doc, b.doc_id AS corpus_doc,
           CAST(COUNT(*) AS INTEGER) AS n_shared_bands
    FROM sig a JOIN sig b
      ON a.band = b.band AND a.minhash = b.minhash
    WHERE a.doc_id % {_NEW_MOD} = 0 AND b.doc_id % {_NEW_MOD} <> 0
    GROUP BY a.doc_id, b.doc_id
    ORDER BY new_doc, corpus_doc
    """


@declared_query("lsh_index_admission", oracle=_lsh_admission_oracle())
def lsh_index_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X119: incremental LSH-index admission — the near-dup twin of
    X108's exact-fingerprint gate: an incoming batch (doc_id % 10 = 0
    plays the role) is minhash-banded and equi-joined against the
    CORPUS's banded signature index; each (new, corpus) candidate
    carries how many bands matched (2+ shared bands ~ higher Jaccard
    floor — the admission policy knob).

    The live-corpus discipline (X24/X37): at scale the corpus side IS
    the persisted, (band, minhash)-bucketed signature table — corpus
    text is never re-read and never reshuffled; only the new batch is
    signed per ingest, and the join lands on the index's bucketing.
    Since r10 that is literally what runs: both sides filter the
    registered signature index
    (`operators/sigcache.py::document_signatures`) — the corpus is
    signed once per session, not once per run; the values are
    identical by construction, since the banded minhash is
    deterministic."""
    from ..operators.sigcache import document_signatures

    sig = document_signatures(spark, sf_dir)
    new = sig.filter(F.col("doc_id") % _NEW_MOD == 0).select(
        F.col("doc_id").alias("new_doc"),
        "band",
        "minhash",
    )
    corpus = sig.filter(F.col("doc_id") % _NEW_MOD != 0).select(
        F.col("doc_id").alias("corpus_doc"),
        "band",
        "minhash",
    )
    return (
        new.join(corpus, ["band", "minhash"])
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_bands"))
        .orderBy("new_doc", "corpus_doc")
    )


# ---- X120: curriculum stages by exact token-count quartiles ----------


@declared_query(
    "curriculum_stages",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, CAST(len({_O_TOK}) AS BIGINT) AS n_tok
        FROM documents
    ), bounds AS (
        SELECT quantile_cont(n_tok, 0.25) AS q1,
               quantile_cont(n_tok, 0.50) AS q2,
               quantile_cont(n_tok, 0.75) AS q3
        FROM toks
    ), staged AS (
        SELECT doc_id, n_tok,
               1 + CAST(n_tok > (SELECT q1 FROM bounds) AS INTEGER)
                 + CAST(n_tok > (SELECT q2 FROM bounds) AS INTEGER)
                 + CAST(n_tok > (SELECT q3 FROM bounds) AS INTEGER)
                   AS stage
        FROM toks
    )
    SELECT CAST(stage AS INTEGER) AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok
    FROM staged
    GROUP BY stage
    ORDER BY stage
    """,
)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: curriculum-learning stage assignment — docs bucketed into 4
    difficulty stages by token count, with stage boundaries at the EXACT
    interpolated quartiles.

    Deliberately NOT an NTILE over the corpus: a global ntile window
    funnels the whole fact table through one task. Instead the quartile
    boundaries come from ONE aggregate (percentile — interpolation
    already proven engine-identical in X18), broadcast back as a 1-row
    table, and the stage is a per-row comparison count — fully
    distributed, no global sort, and semantically better than ntile
    (equal-VALUE docs always share a stage; ntile splits ties by
    position). One shuffle for the boundary aggregate, one for the
    per-stage rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    bounds = toks.agg(
        F.expr("percentile(n_tok, 0.25)").alias("q1"),
        F.expr("percentile(n_tok, 0.50)").alias("q2"),
        F.expr("percentile(n_tok, 0.75)").alias("q3"),
    )
    staged = toks.crossJoin(F.broadcast(bounds)).select(
        "n_tok",
        (
            F.lit(1)
            + (F.col("n_tok") > F.col("q1")).cast("int")
            + (F.col("n_tok") > F.col("q2")).cast("int")
            + (F.col("n_tok") > F.col("q3")).cast("int")
        ).cast("int").alias("stage"),
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_tok").cast("bigint").alias("min_tok"),
            F.max("n_tok").cast("bigint").alias("max_tok"),
        )
        .orderBy("stage")
    )
