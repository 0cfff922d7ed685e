"""bench.py's row table and stdout/detail records, checked without Spark:
a typo, a duplicate or a broken session order fails here before a bench
run does."""

from __future__ import annotations

import json

import bench


def test_row_table_names_resolve_once():
    names = [name for name, _, _ in bench.ROWS]
    assert len(names) == 144
    assert len(set(names)) == len(names)
    for name in names:
        # registry names and the bench-only variants; a typo raises KeyError
        assert callable(bench._tail_plan(name))
    sessions = {bench.SHARED, bench.FRESH, bench.D3_SHINGLES, bench.D6_LABELS}
    assert all(session in sessions for _, _, session in bench.ROWS)
    assert all(n >= 2 for _, n, _ in bench.ROWS)


def test_shared_state_rows_follow_their_producer():
    sessions = [session for _, _, session in bench.ROWS]
    names = [name for name, _, _ in bench.ROWS]
    # d15/p15 consume d6's labels, so they run right after d6 in its
    # fresh session, with no session change in between
    d6 = names.index("d6_dup_clusters")
    assert sessions[d6] == bench.FRESH
    labels = [i for i, s in enumerate(sessions) if s == bench.D6_LABELS]
    assert labels == list(range(d6 + 1, d6 + 1 + len(labels)))
    assert {names[i] for i in labels} == {
        "d15_keep_longest", "p15_leakage_safe_split"
    }
    # the d3 hasher pair shares one session and one shingle table
    shingles = [i for i, s in enumerate(sessions) if s == bench.D3_SHINGLES]
    assert shingles == list(range(shingles[0], shingles[0] + len(shingles)))
    assert {names[i] for i in shingles} == set(bench._D3_HASHER)


def test_detail_file_holds_reps(tmp_path):
    """Rep times go to BENCH_DETAIL.json only: neither stdout line
    carries them, and the last one keeps exactly the compact keys a tail
    parser reads."""
    timings = {"q1": 1.0, "q2": 2.0}
    reps = {"q1": [1.0, 1.1, 1.0], "q2": [2.0, 2.5]}
    out = tmp_path / "BENCH_DETAIL.json"
    lines = bench.emit_records(
        timings, sf=0.1, reps=reps, write_detail=True, detail_path=str(out)
    )
    assert len(lines) == 2
    assert set(json.loads(lines[0])) == {
        "metric", "value", "unit", "queries", "sf"
    }
    assert set(json.loads(lines[-1])) == {
        "metric", "value", "unit", "n_queries", "sf"
    }
    detail = json.loads(out.read_text())
    assert set(detail) == {"metric", "value", "unit", "queries", "sf", "reps"}
    assert detail["reps"] == reps and detail["queries"] == timings
    assert detail["value"] == 3.0
