#!/usr/bin/env python
"""Regenerate COVERAGE.md's per-query driver-verification table from
the CORRECTNESS_r*.json artifacts: "which round was this query last
driver-green" is computed from the actual driver rows, and "is it in
the window" from ``registry.ORDER``, so the audit is mechanical. The
window size and green-row parse come from
``raft_c_spark.plans.verification``, the same module
``tests/test_window_policy.py`` guards with.

Usage: python scripts/gen_driver_green.py   (rewrites COVERAGE.md
between the GENERATED markers; exits non-zero if either marker is
missing or malformed — it never appends a second table)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

BEGIN = "<!-- BEGIN GENERATED driver-green table (scripts/gen_driver_green.py) -->"
END = "<!-- END GENERATED driver-green table -->"


def build_table() -> str:
    from raft_c_spark.plans.registry import all_queries
    from raft_c_spark.plans.verification import (
        STALE_AFTER,
        WINDOW,
        correctness_artifacts,
        driver_rows,
        stale_out_of_window,
    )

    ordering = list(all_queries())
    rounds = driver_rows(REPO)
    arts = correctness_artifacts(REPO)
    max_round = max(
        int(p.stem.split("_r")[1]) for p in arts
    ) if arts else 0
    stale = {q for _, q in stale_out_of_window(REPO, ordering)}

    lines = [
        BEGIN,
        "",
        "## Per-query driver verification (generated — do not edit)",
        "",
        f"Computed from `CORRECTNESS_r1..r{max_round}.json`. "
        "**Last green** = most recent round with an all-green driver row "
        "(rows+schema+hash). **Window** = inside the driver's "
        f"{WINDOW}-query hash window for the NEXT round under the current "
        "`registry.ORDER`. Queries with last green `—` and Window `no` "
        "would violate the window policy "
        "(`tests/test_window_policy.py` fails the build).",
        "",
        "| # | Query | Last green | Driver rows (round:status) | Window |",
        "|---|---|---|---|---|",
    ]
    for i, q in enumerate(ordering):
        hist = rounds.get(q, {})
        greens = [r for r, st in hist.items() if st == "green"]
        last = f"r{max(greens)}" if greens else "—"
        cells = " ".join(
            f"r{r}:{st}" for r, st in sorted(hist.items())
        ) or "(never windowed)"
        win = "yes" if i < WINDOW else "no"
        if q in stale:
            win = "no **(STALE)**"
        lines.append(f"| {i} | `{q}` | {last} | {cells} | {win} |")
    never = [
        q
        for q in ordering
        if not any(st == "green" for st in rounds.get(q, {}).values())
    ]
    lines += [
        "",
        f"Never-driver-green queries: {len(never)} "
        f"({', '.join('`' + q + '`' for q in never) if never else 'none'}) "
        "— all must show Window `yes` above.",
        "",
        f"Stale out-of-window queries (newest driver row more than "
        f"{STALE_AFTER} rounds behind r{max_round}): {len(stale)} "
        f"({', '.join('`' + q + '`' for q in sorted(stale)) if stale else 'none'}) "
        "— `tests/test_window_policy.py::test_no_stale_demoted_green_claims` "
        "fails the build while any exist.",
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> int:
    path = os.path.join(REPO, "COVERAGE.md")
    text = open(path).read()
    has_begin, has_end = BEGIN in text, END in text
    if not (has_begin and has_end) or text.index(BEGIN) > text.index(END):
        sys.stderr.write(
            "COVERAGE.md generated-table markers missing or malformed "
            f"(BEGIN present: {has_begin}, END present: {has_end}) — "
            "restore both markers before regenerating; refusing to "
            "append a second table.\n"
        )
        return 1
    pre = text.split(BEGIN)[0]
    post = text.split(END, 1)[1]
    open(path, "w").write(pre + build_table() + post)
    print("COVERAGE.md driver-green table regenerated")
    return 0


if __name__ == "__main__":
    sys.exit(main())
