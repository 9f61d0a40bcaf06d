"""A pytest marker must sit directly on the test it marks.

A decorator followed by a blank line still applies to the next ``def``,
so a marker left below one test's body silently marks the test after
it (and drops the test it was written for from its lane)."""

from __future__ import annotations

import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent
MARK = re.compile(r"^\s*@pytest\.mark\.")


def test_no_marker_followed_by_blank_line():
    bad = []
    for path in sorted(TESTS.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines[:-1]):
            if MARK.match(line) and not lines[i + 1].strip():
                bad.append(f"{path.name}:{i + 1}")
    assert not bad, f"marker followed by a blank line: {bad}"
