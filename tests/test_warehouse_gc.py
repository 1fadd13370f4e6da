"""tools/warehouse_gc.py (VERDICT r10 #5): stored IVF index tags whose
source fixture is gone are mechanically removable, live and unmarked
tags are kept, and a dry run only reports. Pure-filesystem tests (no
Spark session)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
import warehouse_gc  # noqa: E402


def _mk_tag(root, tag, source):
    """One ``ivf_index/<tag>`` directory as _ivf_index_dir leaves it."""
    path = root / tag
    path.mkdir(parents=True)
    if source is not None:
        (path / "_SOURCE").write_text(str(source))
    (path / "fingerprint.txt").write_text("1:2")
    return path


def test_orphan_subtrees_removed_live_kept(tmp_path):
    root = tmp_path / "ivf_index"
    live_src = tmp_path / "live_fixture"
    live_src.mkdir()
    _mk_tag(root, "live", live_src)
    _mk_tag(root, "orphan", tmp_path / "deleted_fixture")
    _mk_tag(root, "unmarked", None)

    log = warehouse_gc.gc(str(root))
    assert set(os.listdir(root)) == {"live", "unmarked"}
    assert any("orphan" in line for line in log)


def test_dry_run_touches_nothing(tmp_path):
    root = tmp_path / "ivf_index"
    _mk_tag(root, "gone_tag", tmp_path / "gone")
    log = warehouse_gc.gc(str(root), dry=True)
    assert log and log[0].startswith("would remove")
    assert set(os.listdir(root / "gone_tag")) == {
        "_SOURCE", "fingerprint.txt"
    }
    assert warehouse_gc.main(["--ivf-root", str(root), "--dry-run"]) == 0
    assert (root / "gone_tag").is_dir()


def test_ivf_index_tags_are_own_subtrees(tmp_path):
    """spark-warehouse/ivf_index/<tag> carries _SOURCE directly under
    the root — the GC must treat the tag dir as the unit it removes."""
    root = tmp_path / "ivf_index"
    live_src = tmp_path / "sf_live"
    live_src.mkdir()
    live = root / "sf_live"
    live.mkdir(parents=True)
    (live / "_SOURCE").write_text(str(live_src))
    (live / "fingerprint.txt").write_text("1:2")
    dead = root / "sf_dead"
    dead.mkdir()
    (dead / "_SOURCE").write_text(str(tmp_path / "gone"))

    warehouse_gc.gc(str(root))
    assert os.path.isdir(live)
    assert (live / "fingerprint.txt").exists()
    assert not dead.exists()
