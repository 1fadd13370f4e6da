"""Session-registered document signature/fingerprint indexes
(operators/sigcache.py, VERDICT r9 #4).

Mirrors tests/test_edgecache.py for the dedup family: (1) the X119/X108
consumers read the registered index instead of re-signing the corpus
(no md5 over the documents TEXT in their plans), and (2) the
documents-derived relations land on the source-scaled partition count,
not on spark.sql.shuffle.partitions. Value equality of every registered
relation with its uncached plan is pinned in tests/test_edgecache.py.
"""

from __future__ import annotations

import pytest

from data_engineering_1_spark.operators import edgecache, sigcache


@pytest.fixture(autouse=True)
def _clean_cache():
    edgecache.clear_cache()
    yield
    edgecache.clear_cache()


def test_consumers_skip_corpus_rescan_cold(spark, sf_dir):
    """The VERDICT r9 #4 done-bar: within one session,
    lsh_index_admission / incremental_dedup_ingest read the registered
    index checkpoint — their plans hold no tokenizer/shingle/md5 stage
    over the documents TEXT (admission scans nothing of the corpus but
    the index)."""
    from data_engineering_1_spark.plans.corpus_queries import (
        incremental_dedup_ingest,
    )
    from data_engineering_1_spark.plans.mining_queries import (
        lsh_index_admission,
    )

    adm = lsh_index_admission(spark, sf_dir)
    plan = adm._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "md5" not in plan and "text" not in plan
    assert adm.count() > 0

    ing = incremental_dedup_ingest(spark, sf_dir)
    plan = ing._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "md5" not in plan and "text" not in plan
    assert ing.count() > 0


def test_documents_artifacts_are_source_scaled_not_shuffle_partitions(
    spark, sf_dir
):
    """ADVICE r10: a fixture-sized corpus must not land on one
    partition per shuffle partition — the three registered
    documents-derived relations take the source-scaled count (~32 MB of source per
    partition), so at fixture size each is one partition."""
    from data_engineering_1_spark.plans.control_queries import (
        _winnow_fps_cached,
    )

    parts = sigcache.artifact_parts(sf_dir)
    assert parts == 1
    for registered in (
        sigcache.document_signatures,
        sigcache.document_fingerprints,
        _winnow_fps_cached,
    ):
        df = registered(spark, sf_dir)
        assert df.rdd.getNumPartitions() == parts, registered.__name__
