"""The streaming progress-log listener must capture per-batch health
metrics (input rows, durations, state rows) without touching the data
path, and `parse_progress_log` must lift them into a queryable frame."""

from __future__ import annotations

import json

import pytest

from etl_power_bi_dashboard_spark.plans.base import load_events
from etl_power_bi_dashboard_spark.streaming import events as se
from etl_power_bi_dashboard_spark.streaming import monitor

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_mon"))
    load_events(spark, SF_DIR).repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_progress_log_captures_batches_and_state(spark, event_dir, tmp_path):
    log_path = str(tmp_path / "progress" / "run.jsonl")
    listener = monitor.attach_progress_log(spark, log_path)
    try:
        stream = se.tumbling_counts(se.read_event_stream(spark, event_dir))
        q = se.run_to_memory(stream, "t_mon_tumbling")
        q.awaitTermination(120)
        q.stop()
        # the listener bus delivers asynchronously; progress for the
        # final batch can trail the query's own termination
        import time

        for _ in range(60):
            try:
                with open(log_path, encoding="utf-8") as fh:
                    lines = [json.loads(line) for line in fh]
            except FileNotFoundError:
                lines = []
            if any(r.get("event") == "progress" and r.get("numInputRows", 0) > 0
                   for r in lines):
                break
            time.sleep(0.5)
    finally:
        monitor.detach(spark, listener)

    events = {r.get("event") for r in lines}
    assert "started" in events and "progress" in events

    df = monitor.parse_progress_log(spark, log_path)
    rows = df.collect()
    assert rows, "no progress rows parsed"
    total_in = sum(r.input_rows or 0 for r in rows)
    assert total_in == load_events(spark, SF_DIR).count()
    # a watermarked windowed agg must report its state store
    assert any((r.state_rows or 0) > 0 for r in rows)
    assert all(r.batch_ms is None or r.batch_ms >= 0 for r in rows)


def test_progress_log_listener_never_raises(spark, tmp_path):
    """A broken log destination must not propagate out of the
    callbacks (observability never kills the stream)."""
    listener = monitor.ProgressLogListener("/dev/null/not/a/dir/x.jsonl")

    class _E:
        id = "x"
        name = "y"
        exception = None

    listener.onQueryStarted(_E())
    listener.onQueryTerminated(_E())  # no raise == pass


def test_progress_log_accepts_relative_path(spark, tmp_path, monkeypatch):
    """A bare relative log filename must still record events —
    os.makedirs('') raises and the listener's swallow-everything guard
    used to silently drop every event."""
    import json
    import os

    from etl_power_bi_dashboard_spark.streaming import monitor as sm

    monkeypatch.chdir(tmp_path)
    lst = sm.ProgressLogListener("progress.jsonl")
    lst._append({"event": "probe"})
    with open(os.path.join(tmp_path, "progress.jsonl")) as fh:
        assert json.loads(fh.readline())["event"] == "probe"
