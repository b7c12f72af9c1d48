"""The shared exactly-once commit protocol (streaming/commit.py): after a
batch's ledger mark, the staging directories a crashed ``write_atomic``
left under a sink's snapshot and delta directories are pruned with the
older snapshots, but only those of ids up to the committed batch."""

from __future__ import annotations

import datetime as dt
import os

from vertica_hadoop_integration__spark.streaming.commit import deltas_dir_for
from vertica_hadoop_integration__spark.streaming.retention import (
    make_retention_sink,
    read_report,
    seen_dir_for,
)

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def test_commit_prunes_staging_leftovers_up_to_the_batch(spark, tmp_path):
    report = str(tmp_path / "rep")
    sink = make_retention_sink(report, str(tmp_path / "led"))
    sink(
        spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), 1, "view")], EVENT_SCHEMA
        ),
        0,
    )
    state_dir, deltas = seen_dir_for(report), deltas_dir_for(report)
    dead = [
        f"{state_dir}/0.replaced-deadbeef",
        f"{state_dir}/1.inprogress-deadbeef",
        f"{deltas}/1.inprogress-deadbeef",
    ]
    ahead = [
        f"{state_dir}/2.inprogress-deadbeef",
        f"{deltas}/2.replaced-deadbeef",
    ]
    for d in dead + ahead:
        os.makedirs(d)
    sink(
        spark.createDataFrame(
            [(2, dt.datetime(2024, 1, 8), 1, "view")], EVENT_SCHEMA
        ),
        1,
    )
    assert [d for d in dead if os.path.exists(d)] == []
    assert sorted(os.listdir(state_dir)) == ["1", "2.inprogress-deadbeef"]
    assert sorted(os.listdir(deltas)) == ["0", "1", "2.replaced-deadbeef"]
    got = sorted(
        (r.period_offset, r.n_users)
        for r in read_report(spark, report).collect()
    )
    assert got == [(0, 1), (1, 1)]
