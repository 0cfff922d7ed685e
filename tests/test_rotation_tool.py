"""Pin tools/rotation.py's ranking semantics — the window generator is
now the canonical source for the driver correctness window, so its
ordering rules (no-row first, FORCE_FRONT == no-row, latest round
ascending, stable module order within a rank) must not drift."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent.parent / "tools"))

import rotation


def test_compute_window_ranking_rules(monkeypatch):
    order = [f"q{i:02d}" for i in range(60)]
    latest = {}
    # q00-q09: no driver row (rank 0). q10-q29: round 1. q30-q59: round 2.
    for i in range(10, 30):
        latest[f"q{i:02d}"] = (1, {})
    for i in range(30, 60):
        latest[f"q{i:02d}"] = (2, {})
    monkeypatch.setattr(rotation, "FORCE_FRONT", {"q45"})
    win = rotation.compute_window(order, latest)
    assert len(win) == rotation.WINDOW_SIZE == 50
    # the no-row entries and the force-fronted q45 fill rank 0, in
    # stable module order
    assert win[:11] == [f"q{i:02d}" for i in range(10)] + ["q45"]
    # then every round-1 entry, stable order
    assert win[11:31] == [f"q{i:02d}" for i in range(10, 30)]
    # the tail takes round-2 entries in module order, minus the
    # force-fronted one already placed
    expect_tail = [f"q{i:02d}" for i in range(30, 60) if i != 45][:19]
    assert win[31:] == expect_tail


def test_live_window_fronts_every_no_row_entry():
    """Every registry entry without a driver CORRECTNESS row must sit
    inside the LIVE window (the first 50 of the _PRIORITY-ordered
    registry) — the invariant that makes each round's driver run close
    the evidence gap instead of re-checking old rows."""
    from etl_power_bi_dashboard_spark.plans import REGISTRY

    latest = rotation._load_rows()
    order = list(REGISTRY)
    no_row = [n for n in order if n not in latest]
    front = set(order[:50])
    missing = [n for n in no_row if n not in front]
    assert missing == []


def test_priority_window_is_the_rotation_output():
    """The first 50 registry entries equal the tool's ranking over the
    evidence the ``_PRIORITY`` window was cut from: the rounds its
    header names ("from CORRECTNESS_r01-rNN"), not every round file
    present — the tool's live output moves as soon as a newer round
    lands. Hand-paste drift between the tool and ``_PRIORITY`` is what
    the generated-window discipline exists to prevent."""
    import inspect
    import re

    from etl_power_bi_dashboard_spark import plans

    src = inspect.getsource(plans)
    header = src[src.index("_PRIORITY = ["):]
    cutoff = re.search(r"from CORRECTNESS_r01-r(\d+)", header)
    assert cutoff, "_PRIORITY header must name its evidence cutoff round"
    latest = rotation._load_rows(max_round=int(cutoff.group(1)))
    want = rotation.compute_window(rotation._module_order(), latest)
    got = list(plans.all_queries())[: len(want)]
    assert got == want and len(want) == 50
