"""The latest-wins family and the running totals are native streaming
aggregates: their analyzed plans carry a state-store Aggregate and no
Python state machine (FlatMapGroupsInPandasWithState), so no
micro-batch ships through an Arrow/pandas worker."""

from __future__ import annotations

import pytest

from etl_spark.plans.lakehouse import events_as_changelog
from etl_spark.streaming.cdc import cdc_apply_stream
from etl_spark.streaming.file_source import (
    snapshot_latest_stream,
    stream_workflow_runs,
)
from etl_spark.streaming.latest_wins import latest_wins_stream
from etl_spark.streaming.stateful import running_user_totals
from etl_spark.streaming.windows import read_event_stream

STREAMS = {
    "latest_wins": lambda ev, runs: latest_wins_stream(ev),
    "cdc_apply": lambda ev, runs: cdc_apply_stream(events_as_changelog(ev)),
    "snapshot_latest": lambda ev, runs: snapshot_latest_stream(runs),
    "running_totals": lambda ev, runs: running_user_totals(ev),
}


@pytest.mark.parametrize("name", sorted(STREAMS))
def test_stream_is_a_native_aggregate(spark, tmp_path, name):
    (tmp_path / "events").mkdir()
    (tmp_path / "zone").mkdir()
    df = STREAMS[name](
        read_event_stream(spark, str(tmp_path / "events")),
        stream_workflow_runs(spark, tmp_path / "zone"),
    )
    assert df.isStreaming
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" not in plan, plan
    assert "Aggregate" in plan, plan
