"""Streaming conversion funnel (streaming/funnel.py): after streaming
events in time-ordered micro-batches, the maintained report must equal
funnel() over the union — including users whose stage progression
straddles batch boundaries — and both a replayed batch and a crash
between the state write and the ledger mark must not change it."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from vertica_hadoop_integration__spark.operators.temporal import funnel
from vertica_hadoop_integration__spark.sources import load_table
from vertica_hadoop_integration__spark.streaming.funnel import (
    make_funnel_sink,
    read_report,
    stream_funnel,
)

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double"
)


def _canon(df):
    return sorted(
        (r.stage_idx, r.stage, r.n_users) for r in df.collect()
    )


class TestStreamFunnel:
    def test_batch_twin_parity_over_time_split(self, spark, sf_dir, tmp_path):
        events = load_table(spark, sf_dir, "events")
        cut = events.agg(
            F.percentile_approx("ts", F.lit(0.5), F.lit(100))
        ).collect()[0][0]
        src = tmp_path / "src"
        events.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
            str(src), mode="append"
        )
        events.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
            str(src), mode="append"
        )
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = stream_funnel(
            stream,
            report_dir=str(tmp_path / "report"),
            ledger_path=str(tmp_path / "led"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(180)
        got = _canon(read_report(spark, str(tmp_path / "report")))
        expected = _canon(
            funnel(events, stages=("view", "click", "purchase"))
        )
        assert got == expected

    def test_stage_progression_straddles_batches(self, spark, tmp_path):
        """view in batch 0, click in batch 1, purchase in batch 2 — the
        carried frontier must qualify each next stage; a second user
        stalls at click and a third converts inside ONE batch."""
        sink = make_funnel_sink(str(tmp_path / "rep"), str(tmp_path / "led"))
        t = dt.datetime
        sink(
            spark.createDataFrame(
                [
                    (1, t(2024, 1, 1, 9), 1, "view", 0.0),
                    (2, t(2024, 1, 1, 9), 2, "view", 0.0),
                    # user 3: full funnel within this first batch
                    (3, t(2024, 1, 1, 10), 3, "view", 0.0),
                    (4, t(2024, 1, 1, 11), 3, "click", 0.0),
                    (5, t(2024, 1, 1, 12), 3, "purchase", 1.0),
                    # pre-view purchase must NOT count for user 2
                    (6, t(2024, 1, 1, 8), 2, "purchase", 1.0),
                ],
                EVENT_SCHEMA,
            ),
            0,
        )
        sink(
            spark.createDataFrame(
                [
                    (7, t(2024, 1, 2, 9), 1, "click", 0.0),
                    (8, t(2024, 1, 2, 9), 2, "click", 0.0),
                ],
                EVENT_SCHEMA,
            ),
            1,
        )
        sink(
            spark.createDataFrame(
                [(9, t(2024, 1, 3, 9), 1, "purchase", 2.0)], EVENT_SCHEMA
            ),
            2,
        )
        got = {
            r.stage: r.n_users
            for r in read_report(spark, str(tmp_path / "rep")).collect()
        }
        assert got == {"view": 3, "click": 3, "purchase": 2}

    def test_replay_and_crash_between_state_and_ledger(
        self, spark, tmp_path, monkeypatch
    ):
        from vertica_hadoop_integration__spark import ledger as L

        rep, led = str(tmp_path / "rep"), str(tmp_path / "led")
        sink = make_funnel_sink(rep, led)
        t = dt.datetime
        b0 = spark.createDataFrame(
            [(1, t(2024, 3, 1, 9), 5, "view", 0.0)], EVENT_SCHEMA
        )
        b1 = spark.createDataFrame(
            [(2, t(2024, 3, 2, 9), 5, "click", 0.0)], EVENT_SCHEMA
        )
        sink(b0, 0)
        real_mark = L.Ledger.mark_complete

        def boom(self, key, payload):
            raise RuntimeError("injected crash before ledger mark")

        monkeypatch.setattr(L.Ledger, "mark_complete", boom)
        with pytest.raises(RuntimeError, match="injected"):
            sink(b1, 1)
        monkeypatch.setattr(L.Ledger, "mark_complete", real_mark)
        sink(b1, 1)  # replay after the crash
        sink(b1, 1)  # replay of a committed batch: ledger-guarded no-op
        got = _canon(read_report(spark, rep))
        expected = _canon(
            funnel(
                b0.unionByName(b1), stages=("view", "click", "purchase")
            )
        )
        assert got == expected

    def test_string_user_ids_match_batch_funnel(self, spark, tmp_path):
        """User ids of any type: the first batch starts the frontier from
        its own columns (no hand-typed empty state), so string ids give
        the same report as funnel() over the union."""
        schema = (
            "event_id long, ts timestamp, user_id string, "
            "event_type string, value double"
        )
        t = dt.datetime
        b0 = spark.createDataFrame(
            [
                (1, t(2024, 4, 1, 9), "u-a", "view", 0.0),
                (2, t(2024, 4, 1, 9), "u-b", "view", 0.0),
                (3, t(2024, 4, 1, 10), "u-a", "click", 0.0),
            ],
            schema,
        )
        b1 = spark.createDataFrame(
            [
                (4, t(2024, 4, 2, 9), "u-b", "click", 0.0),
                (5, t(2024, 4, 2, 10), "u-a", "purchase", 4.0),
                (6, t(2024, 4, 2, 11), "u-c", "purchase", 1.0),
            ],
            schema,
        )
        rep = str(tmp_path / "rep")
        sink = make_funnel_sink(rep, str(tmp_path / "led"))
        sink(b0, 0)
        sink(b1, 1)
        got = _canon(read_report(spark, rep))
        expected = _canon(
            funnel(
                b0.unionByName(b1), stages=("view", "click", "purchase")
            )
        )
        assert got == expected
        assert got == [(0, "view", 2), (1, "click", 2), (2, "purchase", 1)]
