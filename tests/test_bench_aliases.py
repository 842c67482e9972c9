"""bench.py's timing-name aliases: short, unique and deterministic."""

from __future__ import annotations

import bench


def test_build_aliases_settles_fallback_name_collision():
    """``abcd`` and ``abcd_`` share a candidate at every width, so both
    fall back to their full names — but ``ab_cd`` already took
    ``abcd`` as its width-2 alias. The fallback takes a numeric suffix
    instead of aborting the run, and the result does not depend on
    input order."""
    names = ["abcd", "abcd_", "ab_cd", "kt_append"]
    out = bench._build_aliases(names)
    assert out == {
        "ab_cd": "abcd", "abcd": "abcd_2", "abcd_": "abcd_",
        "kt_append": "ktap",
    }
    assert bench._build_aliases(list(reversed(names))) == out
