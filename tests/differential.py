"""Shared differential helper: one result built two ways must come out
the same after ``tools.verify_oracle.normalize`` (the comparator the
oracle harness uses, so a dtype-level disagreement fails here too)."""

from __future__ import annotations

from tools.verify_oracle import normalize


def _normalized(df):
    return normalize([tuple(r) for r in df.collect()], df.columns)


def assert_same_result(build_a, build_b):
    """Assert two builds of one result agree. A build is a zero-argument
    callable returning a DataFrame; each is built and collected before
    the next starts, so a build that sets session state (runtime confs)
    for itself runs its whole query under that state."""
    got_a = _normalized(build_a())
    got_b = _normalized(build_b())
    assert got_a[1] == got_b[1], f"columns {got_a[1]} vs {got_b[1]}"
    assert len(got_a[0]) == len(got_b[0]), (len(got_a[0]), len(got_b[0]))
    diff = [(a, b) for a, b in zip(got_a[0], got_b[0]) if a != b][:3]
    assert not diff, f"rows differ: {diff}"
