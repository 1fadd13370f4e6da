"""The session registry of shared relations (operators/edgecache.py).

VERDICT r7 #4: the graph family shares ONE registered pair relation per
(application, sf_dir) instead of re-running the lineitem scan +
items self-join per query. These tests pin (1) the registry reuses the
same checkpointed DataFrame, (2) consumers read the checkpoint (Scan
ExistingRDD) instead of the source scan, (3) entries key on sf_dir,
(4) every registered relation equals its uncached plan, (5)
clear_cache releases every entry's blocks and a rebuild equals the
first build, and (6) entries plan with their measured size and row
count.
"""

from __future__ import annotations

import pytest

from data_engineering_1_spark.operators import edgecache, sigcache
from data_engineering_1_spark.plans import control_queries


@pytest.fixture(autouse=True)
def _clean_cache():
    edgecache.clear_cache()
    yield
    edgecache.clear_cache()


def test_pairs_cached_and_reused(spark, sf_dir):
    p1 = edgecache.copurchase_pairs(spark, sf_dir)
    p2 = edgecache.copurchase_pairs(spark, sf_dir)
    assert p1 is p2
    # und derives from the SAME cached pairs and is itself cached
    u1 = edgecache.copurchase_und(spark, sf_dir)
    u2 = edgecache.copurchase_und(spark, sf_dir)
    assert u1 is u2
    assert u1 is not p1


def test_consumers_read_inmemory_scan(spark, sf_dir):
    edgecache.copurchase_pairs(spark, sf_dir)
    edges = edgecache.copurchase_edges(spark, sf_dir)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    # the consumer reads the registered checkpoint, with the build
    # lineage cut: no lineitem FileScan, and the symmetrized view is a
    # narrow explode with no shuffle on top of the stored blocks
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan and "lineitem" not in plan
    assert "Exchange" not in plan


def test_edges_match_uncached_build(spark, sf_dir):
    from data_engineering_1_spark.io import load_table
    from pyspark.sql import functions as F

    got = sorted(
        (r.src, r.dst)
        for r in edgecache.copurchase_edges_distinct(spark, sf_dir).collect()
    )
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .collect()
    )
    want = sorted(
        pair for r in und for pair in ((r.u, r.v), (r.v, r.u))
    )
    assert got == want


def test_cache_keys_on_sf_dir(spark, sf_dir, tmp_path):
    import shutil
    import os

    alt = tmp_path / "sfalt"
    alt.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"),
        alt / "lineitem.parquet",
    )
    p1 = edgecache.copurchase_pairs(spark, sf_dir)
    p2 = edgecache.copurchase_pairs(spark, str(alt))
    assert p1 is not p2


def test_clear_cache_rebuilds(spark, sf_dir):
    p1 = edgecache.copurchase_pairs(spark, sf_dir)
    edgecache.clear_cache()
    p2 = edgecache.copurchase_pairs(spark, sf_dir)
    assert p1 is not p2
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_clear_cache_releases_blocks_and_rebuild_equals_first(spark, sf_dir):
    """clear_cache() frees what every entry's localCheckpoint stored
    (the memo-cold reset really starts empty), and a rebuilt entry is
    row-for-row the first one (warm equals cold)."""
    before = _persistent_rdds(spark)
    first = sorted(
        tuple(r) for r in edgecache.copurchase_edges_distinct(
            spark, sf_dir
        ).collect()
    )
    sigcache.document_signatures(spark, sf_dir)
    assert _persistent_rdds(spark) > before
    edgecache.clear_cache()
    assert _persistent_rdds(spark) == before
    again = sorted(
        tuple(r) for r in edgecache.copurchase_edges_distinct(
            spark, sf_dir
        ).collect()
    )
    assert again == first


@pytest.mark.parametrize(
    "registered, uncached",
    [
        (edgecache.copurchase_pairs, edgecache._pairs_plan),
        (sigcache.document_signatures, sigcache._signatures_plan),
        (sigcache.document_fingerprints, sigcache._fingerprints_plan),
        (
            control_queries._winnow_fps_cached,
            control_queries._winnow_fps_plan,
        ),
    ],
    ids=["pairs", "doc_sigs", "doc_fps", "winnow_fps"],
)
def test_registered_relation_equals_uncached_plan(
    spark, sf_dir, registered, uncached
):
    got = registered(spark, sf_dir)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "FileScan" not in plan
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in uncached(spark, sf_dir).collect()
    )


def test_entries_plan_with_measured_stats(spark, sf_dir):
    """A bare checkpoint carries its build plan's estimate (tens of GB
    for the degree table of a fixture-sized graph), which rules out a
    broadcast of it; a registered entry reports its true row count and
    a size under the broadcast threshold."""
    deg = edgecache.copurchase_deg(spark, sf_dir)
    stats = deg._jdf.queryExecution().optimizedPlan().stats()
    assert stats.rowCount().isDefined()
    assert int(str(stats.rowCount().get())) == deg.count()
    threshold = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert int(str(stats.sizeInBytes())) <= threshold
