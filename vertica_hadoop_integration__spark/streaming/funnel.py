"""Streaming conversion funnel: keep the per-stage reached-user counts
(operators/temporal.py::funnel's output) continuously maintained as
event micro-batches land — the acquisition serving table completing the
behavioral family (r10 VERDICT item 6) next to retention (engagement),
attribution (credit) and transition (chains).

Funnel counts are AGGREGATES OF MONOTONE PER-USER STATE, not sums of
per-event deltas: a user "reaches stage k" once their earliest
qualifying stage-k timestamp exists, and under in-order arrival that
timestamp only ever gets SET, never moved.  So this sink deviates from
the delta-dir pattern deliberately — per batch, two artifacts move:

* **stage-frontier state snapshots** (``{report_dir}__stage/<batch_id>``:
  user_id, t_0..t_{K-1}) — each user's earliest qualifying timestamp
  per stage (NULL = unreached), the exact frontier the batch operator's
  cascaded min-aggregations carry, advanced per batch by the same
  cascade over (carried state + batch events).  Stage k qualifies
  at-or-after the user's CURRENT t_{k-1} — including a t_{k-1} set
  earlier in the same batch, so a user can traverse several stages in
  one batch exactly as in the batch plan.
* **the serving report** (``{report_dir}/report``) — (stage_idx, stage,
  n_users) aggregated from the POST-MERGE snapshot.  Deriving the report
  from the committed state (rather than summed deltas) leaves no
  additive artifact a replay could double-count.

Ordering contract: exact for in-order arrival (the family contract).
An out-of-order stage-(k-1) event that would retro-lower t_{k-1} —
and thereby qualify an already-seen stage-k event — requires a batch
rebuild, as with every sink in this family.

Replay and pruning follow streaming/commit.py.  Parity: the final report
over any in-order batch split equals funnel() over the union, including
users whose stage progression straddles batch boundaries
(tests/test_stream_funnel.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .commit import (
    guarded,
    latest_snapshot,
    read_report,  # noqa: F401 - (stage_idx, stage, n_users)
    start,
    write_report,
    write_snapshot,
)


def stage_dir_for(report_dir: str) -> str:
    return report_dir.rstrip("/") + "__stage"


def make_funnel_sink(
    report_dir: str,
    ledger_path: str,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
):
    """The foreachBatch sink as a standalone callable (testable without
    a running stream, like make_transition_sink)."""
    state_dir = stage_dir_for(report_dir)
    tcols = [f"t_{i}" for i in range(len(stages))]

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the batch operator's cascade over (carried frontier + batch):
        # stage 0's frontier is min batch ts merged with the carry;
        # stage k's candidates must be >= the user's UPDATED t_{k-1}
        merged = latest_snapshot(spark, state_dir, batch_id)
        for i, s in enumerate(stages):
            ev = batch_df.filter(F.col(type_col) == s).select(
                F.col(user_col).alias("user_id"),
                F.col(ts_col).alias("_t"),
            )
            if i == 0:
                cand = ev.groupBy("user_id").agg(F.min("_t").alias("_new"))
            else:
                prev = merged.filter(
                    F.col(f"t_{i - 1}").isNotNull()
                ).select("user_id", F.col(f"t_{i - 1}").alias("_p"))
                cand = (
                    ev.join(prev, on="user_id")
                    .filter(F.col("_t") >= F.col("_p"))
                    .groupBy("user_id")
                    .agg(F.min("_t").alias("_new"))
                )
            if merged is None:
                # no carried frontier: stage 0's candidates start it,
                # typed by the batch itself (user ids of any type)
                unset = F.lit(None).cast(batch_df.schema[ts_col].dataType)
                merged = cand.select(
                    "user_id",
                    F.col("_new").alias("t_0"),
                    *[unset.alias(c) for c in tcols[1:]],
                )
                continue
            # F.least skips NULLs, so a carried t_i merges with a new
            # candidate and a NULL-vs-value pair resolves to the value
            merged = (
                merged.join(cand, on="user_id", how="full")
                .select(
                    "user_id",
                    *[F.col(c) for c in tcols[:i]],
                    F.least(F.col(f"t_{i}"), F.col("_new")).alias(
                        f"t_{i}"
                    ),
                    *[F.col(c) for c in tcols[i + 1:]],
                )
            )
        write_snapshot(merged, state_dir, batch_id)
        # count from the COMMITTED snapshot (not the lazy lineage): the
        # report provably derives from the state a replay would re-read
        snap = spark.read.parquet(f"{state_dir}/{batch_id}")
        counts = snap.agg(
            *[
                F.count(F.col(c)).cast("bigint").alias(f"n_{i}")
                for i, c in enumerate(tcols)
            ]
        ).collect()[0]
        report = spark.createDataFrame(
            [
                (i, s, int(counts[f"n_{i}"]))
                for i, s in enumerate(stages)
            ],
            "stage_idx int, stage string, n_users bigint",
        )
        write_report(report, report_dir)

    return guarded("funnel", ledger_path, _commit, state_dir=state_dir)


def stream_funnel(
    events,
    report_dir: str,
    ledger_path: str,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the funnel-maintaining stream; returns the StreamingQuery."""
    _sink = make_funnel_sink(
        report_dir,
        ledger_path,
        stages=stages,
        user_col=user_col,
        type_col=type_col,
        ts_col=ts_col,
    )
    return start(events, _sink, checkpoint_dir, trigger_available_now)
