"""Session-scoped document indexes for the dedup family (VERDICT r9 #4).

Nine declared queries (minhash_lsh_pairs, jaccard_neardup_pairs,
dedup_clusters_lsh, dedup_survivor_quality, containment_pairs_docs,
lsh_quality_eval, split_leakage_audit, ensemble_neardup_vote,
lsh_index_admission) all start from the SAME banded minhash signature
relation over the documents table — and each used to re-tokenize,
re-shingle and re-hash the corpus from the parquet scan up.
``incremental_dedup_ingest`` likewise re-fingerprinted the corpus per
run. This module builds each relation ONCE per (application, sf_dir)
and registers it through ``edgecache.session_cached`` as an eager
local checkpoint, so every consumer after the first reads the stored
blocks instead of re-signing the corpus.

At 100 TB this is the live-corpus discipline the X119/X108 docstrings
describe: the corpus side of every admission join IS the maintained,
(band, minhash)-bucketed signature table; corpus TEXT is never re-read
per ingest — only the new batch is signed. Signature values are
deterministic (md5 minhash over distinct shingles, min is
order-independent), so a registered index is value-identical to
re-deriving it — the oracle twins are unaffected.

The three registered documents-derived relations (signatures,
fingerprints, and the winnowing fingerprints in
``plans/control_queries.py``) land on :func:`artifact_parts` partitions,
scaled to the source size rather than to spark.sql.shuffle.partitions.
The rarest-first shingle arrays are NOT registered
(:func:`document_shingle_arrays` says why).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .edgecache import session_cached

FP_TOKENS = 8  # first-k-token exact fingerprint (X108's constant)

# The production near-dup thresholds every pipeline consumer shares
# (LSH candidates -> token-set Jaccard verify): verify threshold and
# the hot-token skew-valve fraction (operators/dedup.py docstrings).
NEARDUP_JACCARD = 0.8
NEARDUP_MAX_DF_FRAC = 0.5


def artifact_parts(sf_dir: str) -> int:
    """Partition count of a documents-derived registry relation,
    scaled to the documents table's size (~32 MB per partition, so one
    partition at fixture size) instead of spark.sql.shuffle.partitions
    (ADVICE r10). The expensive signing work stays spread at full
    parallelism; only the final exchange before the checkpoint lands
    on this count, which keeps the small relation's consumers from
    scheduling a task per near-empty shuffle partition."""
    path = os.path.join(os.path.realpath(sf_dir), "documents.parquet")
    total = 0
    if os.path.isfile(path):
        total = os.stat(path).st_size
    else:
        for droot, _, files in os.walk(path):
            total += sum(
                os.stat(os.path.join(droot, f)).st_size for f in files
            )
    return max(1, min(2048, total // (32 << 20) + 1))


def _signatures_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw (doc_id, band, minhash) banded-signature plan — the
    expensive relation (tokenize -> shingle -> 8 md5 minhashes)
    :func:`document_signatures` registers, spread on the (band, minhash)
    bucket key so the index's layout matches the join it serves."""
    from ..io import load_table
    from .dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs).repartition(
        artifact_parts(sf_dir), "band", "minhash"
    )


def _fingerprints_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw (doc_id, fp) exact-fingerprint plan (md5 of the first
    FP_TOKENS tokens — X108's admission key)."""
    from ..io import load_table
    from .textanalysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(tokens("text"), 1, FP_TOKENS))
        ).alias("fp"),
    ).repartition(artifact_parts(sf_dir), "fp")


def document_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, minhash) banded minhash signatures of the WHOLE
    documents table (default parameters) — registered once per
    (app, sf_dir). Consumers filter this relation (e.g. the X119
    batch/corpus split) instead of calling minhash_signatures on their
    own scan."""
    return session_cached(
        spark, sf_dir, "doc_sigs", lambda: _signatures_plan(spark, sf_dir)
    )


def document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) exact first-FP_TOKENS fingerprints of the whole
    documents table — the X108 admission index, registered like
    :func:`document_signatures`."""
    return session_cached(
        spark, sf_dir, "doc_fps", lambda: _fingerprints_plan(spark, sf_dir)
    )


SHINGLE_K = 3  # the X124/E7 3-word shingle grain


def document_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, arr): each document's DISTINCT 3-word shingles ordered
    rarest-first (global doc-frequency asc, shingle bytes asc) — the
    prefix-filter posting layout of X124, shared by
    prefix_filter_jaccard_join and lsh_quality_eval's ground-truth leg.
    Everything the consumers need (set size, prefix length) is derived
    from the array in-row, and ordering is baked into the array, so
    consumers are value-identical.

    NOT registered: this is a plan, recomputed by each consumer. At
    sf0.1, r13 found a checkpoint of the doc-grain shingle ARRAYS ~1 s
    slower than recomputing them and reverted it; r14's
    session-persisted read of a parquet copy regressed
    prefix_filter_jaccard_join 2.26 -> 3.27 s (VERDICT r14 #2); a
    registered eager checkpoint doubled the cold first run of
    prefix_filter_jaccard_join (3.9 -> 7.9 s, 4 cores) and raised
    lsh_quality_eval's from 5.2 to 8.5 s."""
    from ..io import load_table
    from .dedup import shingles_from_tokens
    from .textanalysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                shingles_from_tokens(F.col("__toks"), SHINGLE_K)
            )
        ).alias("tok"),
    )
    dfreq = dt.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return (
        dt.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("arr")
        )
    )


def document_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) VERIFIED near-dup pairs at the production
    thresholds (LSH candidates over :func:`document_signatures` ->
    token-set Jaccard >= ``NEARDUP_JACCARD`` with the
    ``NEARDUP_MAX_DF_FRAC`` hot-token valve) — registered once per
    (app, sf_dir). Four declared queries (jaccard_neardup_pairs,
    dedup_clusters_lsh, dedup_survivor_quality, split_leakage_audit)
    each re-ran the whole candidate+verify pipeline per query — and the
    three cluster consumers re-ran it once per bench repetition on top
    of the CC loop (VERDICT r13 #1). At 100 TB this relation is the
    maintained near-dup pair table a production dedup pipeline keeps
    next to the signature index; the session checkpoint is the
    local-mode equivalent, and the cold bench arm
    (``SPARK_GRAFT_BENCH_COLD=1``) prices its build per query."""
    from ..io import load_table
    from .dedup import jaccard_pairs, lsh_candidate_pairs

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return jaccard_pairs(
            docs,
            lsh_candidate_pairs(document_signatures(spark, sf_dir)),
            max_token_df_frac=NEARDUP_MAX_DF_FRAC,
        ).filter(F.col("jaccard") >= NEARDUP_JACCARD)

    return session_cached(spark, sf_dir, "neardup_pairs", build)


def document_neardup_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, component) deterministic min-reachable cluster labels
    over :func:`document_neardup_pairs` — the ONE labeled relation the
    dedup/ER family shares (VERDICT r13 #1): dedup_clusters_lsh,
    dedup_survivor_quality and split_leakage_audit each previously ran
    their own LSH + verify + star-contraction loop for identical
    labels. connected_components returns an eagerly materialized
    |V|-row checkpoint; registering it makes it shareable
    across consumers (and across a bench's repeated runs — the cold
    arm resets it per query so the build cost stays on the record)."""
    from .components import connected_components

    def build() -> DataFrame:
        return connected_components(
            document_neardup_pairs(spark, sf_dir),
            src="doc_a",
            dst="doc_b",
            node_out="doc_id",
        )

    return session_cached(spark, sf_dir, "neardup_components", build)
