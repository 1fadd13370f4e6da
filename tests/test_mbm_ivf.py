"""mutual_best_match IVF scale path (VERDICT r9 #2).

The exact leg enumerates every anchor pair (honest quadratic); the IVF
leg feeds the SAME mutual-rank filter from X37-style candidates
(learned k-means cells -> per-anchor nprobe-best probe list ->
candidate join on the cell key; label centroids until the r11 recall
measurement showed they degenerate off-label — see _MBM_IVF_K). These
tests pin:

1. the X23 degeneracy — at nprobe = _MBM_IVF_K (every surviving cell
   probed) the IVF leg is
   bit-equal to the exact leg (all ordered pairs survive the probe
   cut, so only the enumeration route differs);
2. the default-nprobe leg still produces structurally-valid output
   (mutual within its own candidate set, vec_a < vec_b, exact dots);
3. leg selection — auto mode is ALWAYS exact (warning past the
   anchor threshold — the r11 measured-recall policy), and the env
   override forces each leg.
"""

from __future__ import annotations

import pytest

from data_engineering_1_spark.plans import integrity_queries as iq


@pytest.fixture()
def qv(spark, sf_dir):
    return iq._mbm_anchor_qvecs(spark, sf_dir)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_ivf_degenerates_to_exact_at_full_probe(spark, sf_dir, qv):
    exact = _rows(iq._mbm_mutual_top1(iq._mbm_exact_dots(spark, qv)))
    ivf = _rows(
        iq._mbm_mutual_top1(iq._mbm_ivf_dots(qv, nprobe=iq._MBM_IVF_K))
    )
    assert exact == ivf
    assert len(exact) > 0  # the pin is vacuous on an empty result


def test_default_nprobe_output_is_valid_mutual_set(spark, sf_dir, qv):
    dots = iq._mbm_ivf_dots(qv)  # default nprobe < _MBM_IVF_K
    out = iq._mbm_mutual_top1(dots).collect()
    assert len(out) > 0
    seen = set()
    for r in out:
        assert r.vec_a < r.vec_b
        assert (r.vec_a, r.vec_b) not in seen
        seen.add((r.vec_a, r.vec_b))
    # reciprocity against the leg's own candidate dots: each reported
    # pair must be each side's argmax over ITS candidates
    best = {}
    for d in dots.collect():
        cur = best.get(d.va)
        key = (-d.dot, d.vb)
        if cur is None or key < cur[0]:
            best[d.va] = (key, d.vb, d.dot)
    for r in out:
        assert best[r.vec_a][1] == r.vec_b
        assert best[r.vec_b][1] == r.vec_a
        assert best[r.vec_a][2] == r.dot_q


def test_leg_selection_auto_and_overrides(spark, sf_dir, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MBM_MODE", raising=False)
    # fixture anchors are far below the threshold -> exact in auto mode
    assert iq._mbm_leg(spark, sf_dir) == "exact"
    monkeypatch.setenv("SPARK_GRAFT_MBM_MODE", "ivf")
    assert iq._mbm_leg(spark, sf_dir) == "ivf"
    monkeypatch.setenv("SPARK_GRAFT_MBM_MODE", "exact")
    assert iq._mbm_leg(spark, sf_dir) == "exact"


def test_declared_query_matches_forced_ivf_at_full_probe(
    spark, sf_dir, monkeypatch
):
    """End-to-end: the DECLARED QUERY itself under the forced-IVF env
    (with nprobe widened to _MBM_IVF_K via the module global, which
    _mbm_ivf_dots now reads at call time — ADVICE r10) equals its
    default exact run. This pins the env-forced leg selection AND the
    X23 degeneracy through the public entry point, not the internals."""
    monkeypatch.delenv("SPARK_GRAFT_MBM_MODE", raising=False)
    exact = _rows(iq.mutual_best_match(spark, sf_dir))
    monkeypatch.setenv("SPARK_GRAFT_MBM_MODE", "ivf")
    monkeypatch.setattr(iq, "_MBM_IVF_NPROBE", iq._MBM_IVF_K)
    forced = _rows(iq.mutual_best_match(spark, sf_dir))
    assert exact == forced
    assert len(exact) > 0


def test_auto_stays_exact_at_scale_warns_and_memoizes(
    spark, sf_dir, monkeypatch
):
    """r11 policy (measurement-driven reversal of r10's auto swap):
    auto mode NEVER silently serves the approximate leg — above the
    anchor threshold it stays exact and warns, pointing at the
    measured opt-in (tools/mbm_recall.py). The anchor-count job stays
    memoized per (application, sf_dir)."""
    import os

    monkeypatch.delenv("SPARK_GRAFT_MBM_MODE", raising=False)
    iq._MBM_COUNT_CACHE.clear()
    monkeypatch.setattr(iq, "_MBM_IVF_MIN_ANCHORS", 1)
    with pytest.warns(UserWarning, match="EXACT quadratic leg"):
        assert iq._mbm_leg(spark, sf_dir) == "exact"
    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir))
    assert key in iq._MBM_COUNT_CACHE
    cached = iq._MBM_COUNT_CACHE[key]
    # second call reuses the memo (poison the cache and observe reuse)
    iq._MBM_COUNT_CACHE[key] = cached + 1_000_000
    with pytest.warns(UserWarning, match="EXACT quadratic leg"):
        iq._mbm_leg(spark, sf_dir)
    assert iq._MBM_COUNT_CACHE[key] == cached + 1_000_000
    iq._MBM_COUNT_CACHE.clear()


def test_pair_recall_evaluation_query(spark, sf_dir):
    """VERDICT r10 #4: the recall of the IVF leg is MEASURED, not
    asserted — mbm_ivf_pair_recall prices IVF pairs against the exact
    leg's. Pins: at nprobe = _MBM_IVF_K recall is exactly 1 (the X23
    degeneracy through the evaluation query), and at nprobe=1 the
    result is a valid (n_common <= n_ivf/n_exact, recall in [0,1])
    measurement."""
    from data_engineering_1_spark.plans import integrity_queries as iq

    full = iq.mbm_ivf_pair_recall(
        spark, sf_dir, nprobe=iq._MBM_IVF_K
    ).first()
    assert full.n_exact > 0
    assert full.n_ivf == full.n_exact == full.n_common
    assert full.recall == 1.0

    one = iq.mbm_ivf_pair_recall(spark, sf_dir, nprobe=1).first()
    assert one.nprobe == 1
    assert 0 <= one.n_common <= min(one.n_ivf, one.n_exact)
    assert 0.0 <= one.recall <= 1.0


def test_rescore_degenerates_to_exact_at_full_probe(spark, sf_dir, qv):
    """The r12 multi-probe rescore leg inherits the X23 degeneracy: at
    nprobe = _MBM_IVF_K both probe lists cover every surviving cell,
    every ordered pair is a candidate, and the exact rescore makes the
    result bit-equal to the exact leg (duplicate candidates carry the
    identical exact dot, so the argmax is unchanged)."""
    exact = _rows(iq._mbm_mutual_top1(iq._mbm_exact_dots(spark, qv)))
    rescore = _rows(
        iq._mbm_mutual_top1(
            iq._mbm_ivf_rescore_dots(qv, nprobe=iq._MBM_IVF_K)
        )
    )
    assert exact == rescore
    assert len(exact) > 0


def test_rescore_recall_dominates_one_sided_probe(spark, sf_dir, qv):
    """The rescore leg's candidate set is a SUPERSET of the one-sided
    leg's at the same nprobe (vb's assigned cell is its rank-1 probe),
    so its pair recall can only be >= — the structural fact behind the
    r12 measurement. Verified on the fixture's directed candidate
    sets."""
    nprobe = 2
    one = {(r.va, r.vb) for r in iq._mbm_ivf_dots(qv, nprobe).collect()}
    multi = {
        (r.va, r.vb)
        for r in iq._mbm_ivf_rescore_dots(qv, nprobe).collect()
    }
    assert one <= multi
    assert len(multi) >= len(one) > 0


def test_leg_selection_ivf_rescore_mode(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MBM_MODE", "ivf-rescore")
    assert iq._mbm_leg(spark, sf_dir) == "ivf-rescore"
    assert iq._mbm_leg(spark, sf_dir) != "ivf"  # rescore != ivf
    monkeypatch.setenv("SPARK_GRAFT_MBM_MODE", "ivf_rescore")
    assert iq._mbm_leg(spark, sf_dir) == "ivf-rescore"


def test_declared_query_matches_forced_rescore_at_full_probe(
    spark, sf_dir, monkeypatch
):
    """End-to-end through the declared query: forced ivf-rescore at
    full probe width equals the default exact run."""
    monkeypatch.delenv("SPARK_GRAFT_MBM_MODE", raising=False)
    exact = _rows(iq.mutual_best_match(spark, sf_dir))
    monkeypatch.setenv("SPARK_GRAFT_MBM_MODE", "ivf-rescore")
    monkeypatch.setattr(iq, "_MBM_IVF_NPROBE", iq._MBM_IVF_K)
    forced = _rows(iq.mutual_best_match(spark, sf_dir))
    assert exact == forced
    assert len(exact) > 0
