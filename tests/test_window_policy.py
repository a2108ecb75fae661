"""Driver-window policy guard.

The external correctness driver hash-checks the first ``WINDOW``
queries of ``registry.ORDER``. These tests read the actual driver
artifacts (``CORRECTNESS_r*.json`` at the repo root) and assert that
the literal order keeps every never-driver-green query inside the
window — including brand-new queries that have no driver row at all —
and that no out-of-window query's newest driver row goes stale.

The window size and the green-row parse come from
``raft_c_spark.plans.verification`` — the same module
``scripts/gen_driver_green.py`` uses, so the guard and the generated
COVERAGE audit cannot silently disagree.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from raft_c_spark.plans.verification import (
    WINDOW,
    correctness_artifacts,
    driver_green_rounds,
)

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def ordering() -> list[str]:
    from raft_c_spark.plans.registry import all_queries

    return list(all_queries())


def test_artifacts_present():
    # If the driver artifacts ever move, the policy tests below would
    # vacuously pass (everything looks never-green ... but then the
    # in-window assertion would fire). Guard the precondition.
    assert correctness_artifacts(REPO), (
        "no CORRECTNESS_r*.json artifacts at repo root"
    )


def test_never_driver_green_queries_are_in_window(ordering):
    """Every registered query lacking an all-green driver row in ANY
    round's artifact must sit inside the first-WINDOW slots of the
    current ``registry.ORDER``. New queries (no driver row yet) are
    covered too: they must enter the window immediately.
    """
    green = driver_green_rounds(REPO)
    window = set(ordering[:WINDOW])
    never_green = [q for q in ordering if not green.get(q)]
    out_of_window = [q for q in never_green if q not in window]
    assert not out_of_window, (
        "never-driver-green queries outside the verification window: "
        f"{out_of_window}"
    )


def test_no_stale_demoted_green_claims(ordering):
    """Freshness bound (judge r8 ask #5): a demoted-green claim decays
    as the code under it keeps changing, so no OUT-of-window query's
    newest driver row may be more than ``STALE_AFTER`` rounds behind
    the newest artifact — the aging tail must rotate back through the
    window by editing ``registry.ORDER``."""
    from raft_c_spark.plans.verification import stale_out_of_window

    stale = stale_out_of_window(REPO, ordering)
    assert not stale, (
        "out-of-window queries whose newest driver row is stale "
        f"(> STALE_AFTER rounds old): {stale} — rotate them back into "
        "the window by editing registry.ORDER"
    )

