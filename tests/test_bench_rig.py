"""bench.py, the per-query timing rig: stage totals read from Spark's
status store, query-name validation, and how a failing query is
reported. Every run writes to a temporary directory, never to the
committed bench_full.json."""

from __future__ import annotations

import json

import pytest

import bench
from data_engineering_1_spark.plans import registry


@pytest.fixture
def rig(sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_COLD", raising=False)
    return tmp_path / "bench_full.json"


def test_stage_totals_agree_with_status_tracker(spark, rig):
    bench.main(["q3_shipping_priority"])
    rec = json.loads(rig.read_text())["stages"]["q3_shipping_priority"]

    tracker = spark.sparkContext.statusTracker()
    stage_ids = set()
    for job in tracker.getJobIdsForGroup("bench:q3_shipping_priority"):
        stage_ids.update(tracker.getJobInfo(job).stageIds)
    # a skipped stage (reused shuffle output) completes none of its tasks
    ran = [
        info
        for info in map(tracker.getStageInfo, stage_ids)
        if info.numTasks > 0 and info.numCompletedTasks == info.numTasks
    ]
    assert rec["n_stages"] == len(ran) > 1
    assert rec["tasks"] == sum(info.numTasks for info in ran)
    assert rec["shuffle_write_bytes"] > 0
    assert rec["shuffle_read_bytes"] > 0
    assert rec["input_bytes"] > 0
    assert rec["one_task_stages"] == []
    assert spark.conf.get("spark.ui.enabled") == "false"
    assert spark.sparkContext.uiWebUrl is None


def test_unknown_name_fails_before_session_with_near_misses(
    rig, monkeypatch, capsys
):
    monkeypatch.setattr(
        bench, "get_spark", lambda *a, **k: pytest.fail("session started")
    )
    with pytest.raises(SystemExit) as exit_info:
        bench.main(["q3_shiping_priority"])
    assert exit_info.value.code == 2
    err = capsys.readouterr().err
    assert "unknown queries: q3_shiping_priority" in err
    assert "q3_shipping_priority" in err
    assert not rig.exists()


def test_failing_query_is_recorded_and_run_exits_without_result(
    spark, sf_dir, rig, monkeypatch, capsys
):
    def boom(spark, sf_dir):
        raise ValueError("boom")

    queries = registry.get_queries()
    queries["a_failing_query"] = boom
    monkeypatch.setattr(bench.registry, "get_queries", lambda: queries)
    with pytest.raises(SystemExit) as exit_info:
        bench.main(["a_failing_query", "nation_segment_listagg"])
    assert exit_info.value.code not in (0, None)
    assert "declared_query_suite_total_sec" not in capsys.readouterr().out

    full = json.loads(rig.read_text())
    assert full["errors"] == {
        "a_failing_query": {"at": sf_dir, "error": "ValueError: boom"}
    }
    # the sweep went on past the failure
    assert list(full["queries"]) == ["nation_segment_listagg"]


def test_cold_arm_clears_the_registry_once_per_suite(spark, rig, monkeypatch):
    """The cold arm starts the suite from an empty registry, as a fresh
    deployment does, instead of emptying it before every query."""
    from data_engineering_1_spark.operators import edgecache

    calls = []
    monkeypatch.setattr(edgecache, "clear_cache", lambda: calls.append(1))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_COLD", "1")
    bench.main(["nation_segment_listagg", "q3_shipping_priority"])
    assert calls == [1]
    full = json.loads(rig.read_text())
    assert full["cold_arm"] is True
    assert set(full["cold_first_run"]) == {
        "nation_segment_listagg",
        "q3_shipping_priority",
    }
