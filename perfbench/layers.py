"""Per-layer instrumentation: which engine functions are wrapped, and how
the traced run's spans, counters and Spark event log become the
per-layer metrics of ``BENCHMARK.json``.  ``layers.json`` gives each
metric's layer and the end-to-end metrics it should move."""

from __future__ import annotations

import json
import os

from spans import Tracer, dir_size, fold_event_log, spark_totals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LEDGER_OPS = ("enqueue_new", "enqueue_whole_table", "pending_exists", "next_pending", "mark_complete")
SPARK_SCOPES = (
    "backup.partition",
    "backup.ledger",
    "qmix.relational",
    "qmix.dedup",
    "qmix.search_text",
    "qmix.graph",
    "stream.retention",
    "stream.transition",
    "stream.attribution",
    "stream.funnel",
)
SCOPE_FIELDS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s")


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the workloads reach."""
    from vertica_hadoop_integration__spark import locking, pipeline
    from vertica_hadoop_integration__spark.ledger import Ledger
    from vertica_hadoop_integration__spark.sources import jdbc, readers, writers

    for op in LEDGER_OPS:
        tracer.wrap(Ledger, op, f"ledger.{op}", "ledger")
    tracer.wrap(Ledger, "_write_snapshot", "ledger.write_snapshot", "ledger")
    tracer.wrap(locking.FileLock, "acquire", "locking.acquire", "locking")
    for fn in ("run_incremental", "enqueue_pending", "backup_partition"):
        tracer.wrap(pipeline, fn, f"pipeline.{fn}", "pipeline")
    for fn in ("write_jdbc_atomic", "read_partitioned"):
        tracer.wrap(jdbc, fn, f"jdbc.{fn}", "jdbc")
    tracer.wrap_everywhere(readers, "load_table", "readers.load_table", "readers")

    def count_output(args, kwargs, _):
        out_bytes, files = dir_size(args[1] if len(args) > 1 else kwargs["final_path"])
        tracer.count("writers.bytes_out", out_bytes)
        tracer.count("writers.files_out", files)

    tracer.wrap_everywhere(writers, "write_atomic", "writers.write_atomic", "writers", count_output)


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def metric_units(kind: str) -> dict[str, str]:
    """Unit of every ``kind`` ("end_to_end" or "per_layer") metric of
    BENCHMARK.json, in its order."""
    return {m["name"]: m["unit"] for m in _load(os.path.join(ROOT, "BENCHMARK.json"))[kind]}


def workload_units() -> dict[str, str]:
    """Unit of every workload-named metric (``backup.*``, ``qmix.*``...)."""
    return {k: v[0] for k, v in _load(os.path.join(HERE, "layers.json"))["workload_metrics"].items()}



def collect(wl, tracer: Tracer, run, session_s: float, peak_rss_mb: float) -> dict[str, float]:
    """Every per-layer metric of BENCHMARK.json for the traced phase of
    ``wl``; metrics of layers the workload does not reach are 0."""
    names = metric_units("per_layer")
    families = _load(os.path.join(HERE, "layers.json"))["families"]
    unmapped = [n for n in names if not any(n.startswith(p) for p in families)]
    if unmapped:
        raise KeyError(f"per-layer metrics with no layer in layers.json: {unmapped}")
    m = {name: 0.0 for name in names}
    for op in LEDGER_OPS:
        m[f"ledger.{op}.calls"], m[f"ledger.{op}.busy_s"] = tracer.busy(f"ledger.{op}")
    m["ledger.snapshots_written"] = tracer.busy("ledger.write_snapshot")[0]
    m["locking.acquire.calls"], m["locking.acquire.wait_s"] = tracer.busy("locking.acquire")
    m["pipeline.enqueue_pending.busy_s"] = tracer.busy("pipeline.enqueue_pending")[1]
    m["pipeline.backup_partition.busy_s"] = tracer.busy("pipeline.backup_partition")[1]
    m["writers.write_atomic.calls"], m["writers.write_atomic.busy_s"] = tracer.busy(
        "writers.write_atomic"
    )
    m["writers.write_atomic.bytes_out"] = tracer.counts["writers.bytes_out"]
    m["writers.write_atomic.files_out"] = tracer.counts["writers.files_out"]
    for fn in ("write_jdbc_atomic", "read_partitioned"):
        m[f"jdbc.{fn}.busy_s"] = tracer.busy(f"jdbc.{fn}")[1]
    m["readers.load_table.calls"], m["readers.load_table.busy_s"] = tracer.busy(
        "readers.load_table"
    )
    m["session.get_session_s"] = session_s
    m["memory.peak_rss_mb"] = peak_rss_mb
    for layer, s in tracer.self_times().items():
        m[f"self_s.{layer}"] = s
    m["trace.ops"] = len(wl.samples)
    m["trace.overhead_s"] = wl.trace_overhead_s()

    groups = fold_event_log(run.path("eventlog"))
    for field, v in spark_totals(groups).items():
        m[f"spark.{field}"] = v
    for scope in SPARK_SCOPES:
        tot = spark_totals(groups, scope)
        for field in SCOPE_FIELDS:
            m[f"spark.{scope}.{field}"] = tot[field]
    m.update(wl.layer_metrics())
    if wl.name == "backup_incremental":
        rows = wl.traced_rows()
        if rows:
            m["backup.scan_amplification"] = (
                spark_totals(groups, "backup.partition")["input_records"] / rows
            )
        # ledger calls inside the traced loop iterations only: the probe
        # that ends a drain and the re-runs' probes are not in a sample
        iteration_s = sum(end - start for start, end in wl.iterations)
        if iteration_s:
            ledger_s = tracer.busy_within(
                ("ledger.pending_exists", "ledger.next_pending", "ledger.mark_complete"),
                wl.iterations,
            )
            m["backup.ledger_share"] = ledger_s / iteration_s
    if wl.name == "query_mix":
        for fam in ("relational", "dedup", "search_text", "graph"):
            m[f"operators.eager_jobs.{fam}"] = groups.get(f"qmix.{fam}.build", {}).get("jobs", 0)
    if set(m) != set(names):
        raise KeyError(sorted(set(m) ^ set(names)))
    return m

