"""The exactly-once micro-batch commit protocol shared by every streaming
sink: the reference's write-the-partition-then-flip-its-status-row rule
(``sqoop_etl.py:36-46``) at micro-batch granularity.  No other module in
``streaming/`` touches the ledger or starts a ``foreachBatch`` stream.

Replay contract:

1. **Guard.**  Each batch body runs under the ledger row
   ``<name>#<batch_id>``.  The row is enqueued first; a batch whose row is
   already complete is skipped wholesale, so a replay after checkpoint
   recovery never applies a batch twice.
2. **Strictly-earlier snapshot.**  A snapshot-state sink writes its
   carried state as one snapshot per batch id (``<state_dir>/<batch_id>``)
   and reads the newest snapshot whose id is strictly below the current
   batch.  A batch that crashed after its snapshot write therefore re-reads
   the same pre-batch state on replay and overwrites its own orphan.
   Snapshots and per-batch deltas are listed by exact digit name, never
   globbed, so a crashed ``write_atomic``'s staging directories are never
   read.
3. **Write, then mark.**  Every artifact lands through ``write_atomic``
   (stage, then rename into place) before the ledger row is marked
   complete.  A crash anywhere before the mark replays the whole batch.
   Per-batch deltas are keyed by batch id, so a replay overwrites its own
   delta instead of double-counting, and reports are recomputed from every
   committed delta (or from the committed snapshot), so a replay converges
   to the same report.
4. **Prune after the mark.**  Only once the row is complete are snapshots
   older than the batch removed: every later batch resolves an id at or
   above this one, and a replay of this one is skipped.  Staging leftovers
   (``<id>.inprogress-*``, ``<id>.replaced-*``) with ids up to the batch are
   removed with them, from both the snapshot and the delta directory.

Known limit: each commit of a delta-summing sink (retention, transition,
attribution) re-reads every committed delta, so its cost grows with the
number of batches.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame

from ..ledger import Ledger
from ..sources.writers import write_atomic

BatchBody = Callable[[DataFrame, int], None]

_STAGING = ("inprogress-", "replaced-")


def guarded(
    name: str,
    ledger_path: str,
    body: BatchBody,
    state_dir: str | None = None,
    deltas_dir: str | None = None,
) -> BatchBody:
    """The foreachBatch callable: ``body(batch_df, batch_id)`` under the
    ledger row ``<name>#<batch_id>``, marked complete once it returns.
    After the mark, ``state_dir`` loses its older snapshots and
    ``deltas_dir`` keeps its deltas; both lose staging leftovers."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ledger = Ledger(batch_df.sparkSession, ledger_path)
        key = f"{name}#{batch_id}"
        ledger.enqueue_whole_table(key, "stream", 1)
        if not ledger.pending_exists(key):
            return  # replayed batch, already applied
        body(batch_df, batch_id)
        ledger.mark_complete(key, None)
        if state_dir is not None:
            _prune(state_dir, batch_id, older_snapshots=True)
        if deltas_dir is not None:
            _prune(deltas_dir, batch_id, older_snapshots=False)

    return _sink


def start(
    df: DataFrame,
    sink: BatchBody,
    checkpoint_dir: str | None,
    trigger_available_now: bool,
):
    """Start ``df``'s append-mode foreachBatch stream into ``sink``;
    returns the StreamingQuery."""
    writer = df.writeStream.foreachBatch(sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _prune(root: str, batch_id: int, older_snapshots: bool) -> None:
    """Remove the entries of ``root`` that committing ``batch_id`` made
    unreachable: staging leftovers with id <= batch_id and, with
    ``older_snapshots``, committed entries with id < batch_id."""
    try:
        entries = os.listdir(root)
    except FileNotFoundError:
        return
    for d in entries:
        head, _, tail = d.partition(".")
        if not head.isdigit():
            continue
        if tail.startswith(_STAGING):
            dead = int(head) <= batch_id
        else:
            dead = older_snapshots and not tail and int(head) < batch_id
        if dead:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


# -- snapshot-state sinks: state snapshots, per-batch deltas, the report ----


def report_path(report_dir: str) -> str:
    return report_dir.rstrip("/") + "/report"


def deltas_dir_for(report_dir: str) -> str:
    return report_dir.rstrip("/") + "/deltas"


def read_report(spark, report_dir: str) -> DataFrame:
    """The sink's serving report."""
    return spark.read.parquet(report_path(report_dir))


def write_report(report: DataFrame, report_dir: str) -> None:
    write_atomic(report, report_path(report_dir), output_format="parquet")


def latest_snapshot(spark, state_dir: str, before_batch_id: int):
    """The newest committed snapshot with id < ``before_batch_id``, or
    None (rule 2)."""
    try:
        ids = [
            int(d) for d in os.listdir(state_dir)
            if d.isdigit() and int(d) < before_batch_id
        ]
    except FileNotFoundError:
        return None
    if not ids:
        return None
    return spark.read.parquet(f"{state_dir}/{max(ids)}")


def write_snapshot(state: DataFrame, state_dir: str, batch_id: int) -> None:
    os.makedirs(state_dir, exist_ok=True)
    write_atomic(state, f"{state_dir}/{batch_id}", output_format="parquet")


def commit_delta(
    spark, report_dir: str, batch_id: int, delta: DataFrame
) -> DataFrame:
    """Write this batch's delta under its batch id, then read back every
    committed delta for the report's re-sum.  The listing is driver-side
    and bounded by batch count, the cardinality the ledger already
    tracks."""
    root = deltas_dir_for(report_dir)
    os.makedirs(root, exist_ok=True)
    write_atomic(delta, f"{root}/{batch_id}", output_format="parquet")
    committed = sorted(f"{root}/{d}" for d in os.listdir(root) if d.isdigit())
    return spark.read.parquet(*committed)
