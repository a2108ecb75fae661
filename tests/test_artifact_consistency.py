"""Committed-prose guards: round notes are append-edited prose, so
structural mistakes in them (duplicated sections) fail CI here."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_round_notes_have_no_duplicate_sections():
    """Judge r11 'what's wrong' #2: ROUND11.md carried four sections
    twice, and the two Bench copies disagreed on the committed
    artifact. Round notes are append-edited prose — this guard makes
    the duplication class itself a CI failure."""
    for path in sorted(REPO.glob("ROUND*.md")):
        text = path.read_text()
        heads = re.findall(r"^## .+$", text, re.M)
        dups = {h for h in heads if heads.count(h) > 1}
        assert not dups, f"{path.name}: duplicated sections {sorted(dups)}"
