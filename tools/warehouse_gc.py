"""Garbage-collect stored IVF index tags (VERDICT r10 #5).

``plans/similarity_queries.py::_ivf_index_dir`` stores one index per
fixture under ``spark-warehouse/ivf_index/<tag>`` and rewrites the
tag's ``_SOURCE`` breadcrumb (the realpath of the fixture that built
it) on every call. Nothing removes a tag whose fixture is gone — every
pytest tmp fixture leaves one behind. A breadcrumb pointing at a
missing directory marks the tag orphaned, and this tool removes it;
tags without a breadcrumb are kept.

Usage:
    python tools/warehouse_gc.py [--ivf-root DIR] [--dry-run]

``--dry-run`` prints what would go without touching anything.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source_of(tag_dir: str) -> str | None:
    try:
        with open(os.path.join(tag_dir, "_SOURCE")) as fh:
            return fh.read().strip()
    except OSError:
        return None


def gc(root: str, *, dry: bool = False) -> list[str]:
    """Remove every tag under ``root`` whose source fixture is gone.
    Returns the action log (one line per removal)."""
    log: list[str] = []
    if not os.path.isdir(root):
        return log
    for tag in sorted(os.listdir(root)):
        path = os.path.join(root, tag)
        src = _source_of(path)
        if src is None or os.path.isdir(src):
            continue
        log.append(
            f"{'would remove' if dry else 'removed'} [orphan of {src}] {path}"
        )
        if not dry:
            shutil.rmtree(path, ignore_errors=True)
    return log


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--ivf-root",
        default=os.path.join(REPO, "spark-warehouse", "ivf_index"),
        help="stored IVF index root",
    )
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args(argv)

    log = gc(args.ivf_root, dry=args.dry_run)
    for line in log:
        print(line)
    print(f"{len(log)} removal(s){' (dry run)' if args.dry_run else ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
