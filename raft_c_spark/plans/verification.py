"""Shared constants/parsers for the external correctness-driver
contract — the single source of truth for "how big is the driver's
hash window" and "what counts as a green driver row", imported by
``tests/test_window_policy.py``, ``scripts/gen_driver_green.py`` and
``scripts/driver_sim.py`` so the window guard over
``registry.ORDER`` and the generated COVERAGE audit can never
silently disagree.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

#: number of registry-ordered queries the external driver hash-checks
WINDOW = 50

#: freshness bound (judge r8 ask #5): an out-of-window query whose
#: NEWEST driver row is more than this many rounds behind the newest
#: artifact must rotate back into the window — demoted-green claims
#: decay as the code under them keeps changing. In-window queries are
#: exempt (the upcoming driver run refreshes them by definition).
STALE_AFTER = 4


def newest_driver_round(repo_root: str | Path) -> int:
    """Round number of the newest CORRECTNESS artifact (0 if none)."""
    arts = correctness_artifacts(repo_root)
    return max(
        (int(re.search(r"r0*(\d+)", p.stem).group(1)) for p in arts),
        default=0,
    )


def stale_out_of_window(
    repo_root: str | Path, ordering: list[str]
) -> list[tuple[int, str]]:
    """(newest_row_round, query) for every query OUTSIDE the current
    window whose newest driver row is more than ``STALE_AFTER`` rounds
    behind the newest artifact — queries to move into the window by
    editing ``registry.ORDER``."""
    rows = driver_rows(repo_root)
    cutoff = newest_driver_round(repo_root) - STALE_AFTER
    out = []
    for q in ordering[WINDOW:]:
        newest = max(rows.get(q, {}), default=0)
        if newest < cutoff:
            out.append((newest, q))
    return sorted(out)


def correctness_artifacts(repo_root: str | Path) -> list[Path]:
    return sorted(
        p
        for p in Path(repo_root).glob("CORRECTNESS_r*.json")
        if re.fullmatch(r"CORRECTNESS_r\d+\.json", p.name)
    )


def row_is_green(row: dict) -> bool:
    """All-green driver row: rows + schema + hash all match (an err
    row has these unset/false)."""
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
    )


def driver_green_rounds(repo_root: str | Path) -> dict[str, list[int]]:
    """Per query: the rounds with an all-green driver row."""
    out: dict[str, list[int]] = {}
    for f in correctness_artifacts(repo_root):
        rnd = int(re.search(r"r0*(\d+)", f.stem).group(1))
        for q, row in json.loads(f.read_text()).items():
            if row_is_green(row):
                out.setdefault(q, []).append(rnd)
    return out


def driver_rows(repo_root: str | Path) -> dict[str, dict[int, str]]:
    """Per query: round → 'green' | 'red' | 'err' for every driver row."""
    out: dict[str, dict[int, str]] = {}
    for f in correctness_artifacts(repo_root):
        rnd = int(re.search(r"r0*(\d+)", f.stem).group(1))
        for q, row in json.loads(f.read_text()).items():
            if row.get("err"):
                st = "err"
            elif row_is_green(row):
                st = "green"
            else:
                st = "red"
            out.setdefault(q, {})[rnd] = st
    return out
