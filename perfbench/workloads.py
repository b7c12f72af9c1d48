"""The benchmark's three closed-loop workloads.

Each workload is driven by one caller that waits for every reply (the
reference ran from a single cron box), on ``local[<nproc>]``.  A workload
runs whole units of work (a backup round, a query pass, a stream batch),
at least one and no more than fit in ``--seconds``, then checks its
outputs outside the timed region.

* ``backup_incremental``: the paper's E1 loop, ``pipeline.run_incremental``
  over lineitem keyed by a derived ship-month column, followed by no-op
  re-runs.  Time goes to pipeline, ledger, locking and writers, and
  almost none to the LLM operators: it shows extract, commit and ledger
  changes and is the control for operator changes.
* ``query_mix``: registered queries in four families, each built and then
  consumed by a full-column hash sum.  It writes no ledger rows: it shows
  operator, plan-build and Spark job-overhead changes and is the control
  for pipeline and ledger changes.
* ``stream_commit``: time-ordered micro-batches of events fed to the four
  exactly-once snapshot-state sinks.  Each commit is a tiny ledger row and
  small atomic writes around small joins: it shows small-commit costs
  that the big-partition write path of ``backup_incremental`` hides.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np

import datagen
from harness import Run, cpu_s, median, percentile
from spans import Tracer, dir_size


def _hash_sum(df):
    """Row count and order-insensitive sum of xxhash64 over every column
    (the action ``bench.py`` times)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias(
            "h"
        ),
    ).collect()[0]
    return int(row["n"]), row["h"]


def _canon(df) -> list[tuple]:
    """Rows normalized the way tools/check_correctness.py compares them:
    columns in name order, floats to 9 significant digits, rows sorted."""
    from tools.check_correctness import _normalize

    return _normalize([tuple(r) for r in df.collect()], list(df.columns))


class Workload:
    """Base: inputs, warm-up, a timed closed loop, output checks."""

    name = ""
    sf = 0.1
    TABLES: tuple[str, ...] = datagen.TABLES

    def __init__(self, run: Run, tracer: Tracer) -> None:
        self.run = run
        self.tracer = tracer
        self.rng = np.random.default_rng(run.seed)
        self.sf_dir = run.path("data")
        self.samples: list[float] = []  # one per operation, wall seconds
        self.cpu_samples: list[float] = []  # the same operations, CPU seconds
        self.unit_s: dict[bool, list[float]] = {True: [], False: []}  # by traced
        self.attempted = 0
        self.failures: list[str] = []
        self.measured_s = 0.0
        self.measured_cpu_s = 0.0
        self.units = 0

    def prepare(self) -> None:
        """Generate the inputs (before the session exists)."""
        self.rows = datagen.generate(self.sf_dir, self.sf, self.run.seed, self.TABLES)

    def set_group(self, group: str | None) -> None:
        """Tag the Spark jobs that follow, for the event-log fold."""
        if self.tracer.enabled:
            sc = self.run.spark.sparkContext
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def measure(self, seconds: float, alternate: bool = False) -> None:
        """Run whole units (at least one) while the next one, at the
        mean unit time so far, still ends within ``seconds``.

        With ``alternate`` (the traced run) units alternate between traced
        and untraced, traced first: JVM warm-up still shortens later units,
        so the overhead estimate errs high rather than low.  ``samples``
        then holds only the traced units' samples, which the spans cover
        (and ``cpu_samples`` only theirs).
        ``unit_s`` keeps every unit's wall time, keyed by whether it was
        traced."""
        start = time.perf_counter()
        cpu_start = cpu_s()
        least = 2 if alternate else 1
        done = 0
        while True:
            self.tracer.enabled = alternate and done % 2 == 0
            n0, c0 = len(self.samples), len(self.cpu_samples)
            t0 = time.perf_counter()
            self.unit(self.units)
            self.unit_s[self.tracer.enabled].append(time.perf_counter() - t0)
            if alternate and not self.tracer.enabled:
                del self.samples[n0:]
                del self.cpu_samples[c0:]
            self.units += 1
            done += 1
            elapsed = time.perf_counter() - start
            if done >= least and elapsed * (done + 1) / done > seconds:
                break
        self.tracer.enabled = False
        self.measured_s += time.perf_counter() - start
        self.measured_cpu_s += cpu_s() - cpu_start

    # subclass hooks
    def install(self) -> None: ...
    def warm(self) -> None: ...
    def unit(self, index: int) -> None: ...
    def check(self) -> None: ...
    def metrics(self) -> dict[str, float]:
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def ops(self) -> int:
        """Operations the timed loop completed."""
        return len(self.samples)

    def ops_per_s(self) -> float:
        return self.ops() / self.measured_s if self.measured_s else 0.0

    def cpu_s_per_op(self) -> float:
        """CPU seconds of the whole timed loop per operation, counting the
        enqueue, re-run and batch-load work between operations."""
        return self.measured_cpu_s / self.ops() if self.ops() else 0.0

    def trace_overhead_s(self) -> float:
        """Traced minus untraced wall time, per unit, in the traced run."""
        traced, plain = self.unit_s[True], self.unit_s[False]
        if not traced or not plain:
            return 0.0
        return sum(traced) / len(traced) - sum(plain) / len(plain)


# ---------------------------------------------------------------------------
class BackupIncremental(Workload):
    """Rounds of: fresh ledger and target, ``run_incremental`` until the
    window's months are drained, then RERUNS no-op re-runs.  Each round
    backs up a seeded WINDOW_MONTHS-month window of lineitem; the
    partition key is derived from ``l_shipdate``, so parquet pushdown
    cannot prune and every partition scans the whole table."""

    name = "backup_incremental"
    TABLES = ("lineitem",)
    WARM_ROUNDS = 1
    WINDOW_MONTHS = 6
    RERUNS = 2

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        super().prepare()
        path = os.path.join(self.sf_dir, "lineitem.parquet")
        self.source_bytes = os.path.getsize(path)
        ship = pq.read_table(path, columns=["l_shipdate"]).column(0).to_numpy()
        months, counts = np.unique(ship.astype("datetime64[M]"), return_counts=True)
        self.month_rows = dict(zip(months.astype(str), counts.tolist()))
        first = dt.date(1995, 1, 1)
        n_months = 83 - self.WINDOW_MONTHS
        self.windows = []
        for k in self.rng.integers(0, n_months, 64):
            y, m = divmod(int(k), 12)
            lo = dt.date(first.year + y, m + 1, 1)
            y2, m2 = divmod(m + self.WINDOW_MONTHS, 12)
            self.windows.append((lo, dt.date(first.year + y + y2, m2 + 1, 1)))
        self.rounds: list[dict] = []
        self.rerun_samples: list[float] = []
        self.drain_s = 0.0
        self._iter_start: float | None = None
        self._iter_cpu = 0.0
        self.iterations: list[tuple[float, float]] = []  # traced (start, end)

    def install(self) -> None:
        from vertica_hadoop_integration__spark import pipeline
        from vertica_hadoop_integration__spark.ledger import Ledger

        # iteration samples: pending probe -> next_pending -> backup ->
        # mark_complete, timed from the probe that found work
        wl = self
        self.sampling = False

        def timed_probe(probe):
            def pending_exists(ledger, table_name):
                if not wl.sampling:
                    return probe(ledger, table_name)
                c0, t0 = cpu_s(), time.perf_counter()
                found = probe(ledger, table_name)
                if found:
                    wl._iter_start, wl._iter_cpu = t0, c0
                return found

            return pending_exists

        def timed_mark(mark):
            def mark_complete(ledger, table_name, value):
                mark(ledger, table_name, value)
                if wl.sampling and wl._iter_start is not None:
                    end = time.perf_counter()
                    wl.samples.append(end - wl._iter_start)
                    wl.cpu_samples.append(cpu_s() - wl._iter_cpu)
                    if wl.tracer.enabled:
                        wl.iterations.append((wl._iter_start, end))
                    wl._iter_start = None

            return mark_complete

        def grouped(backup):
            def backup_partition(*args, **kwargs):
                wl.set_group("backup.partition")
                try:
                    return backup(*args, **kwargs)
                finally:
                    wl.set_group("backup.ledger")

            return backup_partition

        self.tracer.patch(Ledger, "pending_exists", timed_probe)
        self.tracer.patch(Ledger, "mark_complete", timed_mark)
        self.tracer.patch(pipeline, "backup_partition", grouped)

    def _source(self, window):
        from pyspark.sql import functions as F

        from vertica_hadoop_integration__spark.sources import load_table

        lo, hi = window
        return (
            load_table(self.run.spark, self.sf_dir, "lineitem")
            .where(
                (F.col("l_shipdate") >= F.lit(dt.datetime(lo.year, lo.month, 1)))
                & (F.col("l_shipdate") < F.lit(dt.datetime(hi.year, hi.month, 1)))
            )
            .withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
        )

    def _spec(self, tag: str):
        from vertica_hadoop_integration__spark.jobspec import JobSpec

        return JobSpec(
            table_name="lineitem",
            source_path=os.path.join(self.sf_dir, "lineitem.parquet"),
            target_path=self.run.path("backup", tag, "orc"),
            primary_id="ship_month",
            num_partitions=8,
            output_format="orc",
            compression="snappy",
        )

    def warm(self) -> None:
        """WARM_ROUNDS untimed rounds on the last windows (no re-runs):
        the first round pays the JVM's compilation of the loop's code.
        One round keeps a run short enough for the run budget; the
        iteration median absorbs the little speed-up that is left."""
        from vertica_hadoop_integration__spark import pipeline

        for k in range(self.WARM_ROUNDS):
            pipeline.run_incremental(
                self.run.spark,
                self._spec(f"warm{k}"),
                self._source(self.windows[-1 - k]),
                self.run.path("backup", f"warm{k}", "ledger"),
            )

    def unit(self, index: int) -> None:
        tag = f"r{len(self.rounds)}"
        spec = self._spec(tag)
        ledger_path = self.run.path("backup", tag, "ledger")
        window = self.windows[len(self.rounds) % len(self.windows)]
        source = self._source(window)
        rnd = {
            "tag": tag,
            "window": window,
            "spec": spec,
            "ledger": ledger_path,
            "traced": self.tracer.enabled,
        }
        self.rounds.append(rnd)
        self.set_group("backup.ledger")
        try:
            self._round(rnd, source)
        except Exception as e:  # noqa: BLE001 - a failed round is counted, the run goes on
            self.attempted += 1
            self.fail(f"{tag}: raised {type(e).__name__}: {e}")
        finally:
            self.sampling = False
            self.set_group(None)

    def _round(self, rnd: dict, source) -> None:
        from vertica_hadoop_integration__spark import pipeline

        spark = self.run.spark
        spec = rnd["spec"]
        self.sampling = True
        t0 = time.perf_counter()
        done = pipeline.run_incremental(spark, spec, source, rnd["ledger"])
        self.sampling = False
        self.drain_s += time.perf_counter() - t0
        rnd["partitions"] = len(done)
        self.attempted += len(done)
        written = dir_size(spec.target_path)
        rnd["bytes"] = written[0]
        for _ in range(self.RERUNS):
            self.attempted += 1
            t1 = time.perf_counter()
            again = pipeline.run_incremental(spark, spec, source, rnd["ledger"])
            self.rerun_samples.append(time.perf_counter() - t1)
            if again or dir_size(spec.target_path) != written:
                self.fail(f"{rnd['tag']}: no-op re-run wrote {len(again)} partitions")

    def window_rows(self, window) -> int:
        lo, hi = window
        return sum(
            n for m, n in self.month_rows.items() if f"{lo:%Y-%m}" <= m < f"{hi:%Y-%m}"
        )

    def traced_rows(self) -> int:
        """Rows backed up by the rounds of the traced phase."""
        return sum(
            self.window_rows(r["window"]) for r in self.rounds if r["traced"] and "partitions" in r
        )

    def check(self) -> None:
        """Per round: the ORC written equals the source window by row count
        and order-insensitive xxhash64 sum, and the ledger shows every
        month of the window complete."""
        from pyspark.sql import functions as F

        from vertica_hadoop_integration__spark.ledger import Ledger

        spark = self.run.spark
        self.rows_written = 0
        for rnd in self.rounds:
            if "partitions" not in rnd:
                continue
            self.attempted += 1
            source = self._source(rnd["window"])
            want = _hash_sum(source)
            months = source.select("ship_month").distinct().count()
            got = _hash_sum(
                spark.read.orc(rnd["spec"].target_path).select(*source.columns)
            )
            status = (
                Ledger(spark, rnd["ledger"])
                .read()
                .groupBy("is_complete")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            status = {r["is_complete"]: r["n"] for r in status}
            self.rows_written += want[0]
            if got != want:
                self.fail(f"{rnd['tag']}: ORC {got} != source {want}")
            elif status != {"t": months} or rnd["partitions"] != months:
                self.fail(
                    f"{rnd['tag']}: ledger {status}, {rnd['partitions']} "
                    f"partitions written, {months} months in the window"
                )

    def metrics(self) -> dict[str, float]:
        written = sum(r.get("bytes", 0) for r in self.rounds)
        src_rows = self.rows["lineitem"]
        source_bytes = self.source_bytes * self.rows_written / src_rows
        return {
            "backup.rows_per_s": self.rows_written / self.drain_s if self.drain_s else 0.0,
            "backup.partition_s.p50": median(self.samples),
            "backup.partition_s.p80": percentile(self.samples, 80),
            "backup.rerun_s": median(self.rerun_samples),
            "backup.bytes_per_source_byte": written / source_bytes if source_bytes else 0.0,
        }


# ---------------------------------------------------------------------------
# The query list, in four families.  Each family is a subset of the
# registered queries ROADMAP names for its family, cut so that a warm pass
# fits a run on a 4-core host (see CHANGES.md for the ones left out).
QUERY_FAMILIES: dict[str, tuple[str, ...]] = {
    "relational": ("s10_pending_pipeline", "jdbc_write_roundtrip"),
    "dedup": ("dedup_exact", "dedup_minhash_portable"),
    "search_text": ("ann_cosine_topk", "sketch_hll_portable"),
    "graph": ("graph_modularity",),
}


class QueryMix(Workload):
    """Warm passes over QUERY_FAMILIES in a seeded order; each query is
    its build (``QUERIES[name](spark, sf_dir)``) plus the hash-sum
    action, with ``clearCache()`` after it.  The first pass collects
    every result and checks it against the query's DuckDB oracle; it is
    the warm-up and is not timed."""

    name = "query_mix"
    sf = 0.01

    def prepare(self) -> None:
        super().prepare()
        self.queries = [(f, q) for f, qs in QUERY_FAMILIES.items() for q in qs]
        self.passes: list[dict] = []
        self.hashes: dict[str, set] = {}
        self.build: dict[str, list[float]] = {f: [] for f in QUERY_FAMILIES}
        self.action: dict[str, list[float]] = {f: [] for f in QUERY_FAMILIES}

    def warm(self) -> None:
        """The oracle pass: every query's rows against its DuckDB oracle,
        normalized as tools/check_correctness.py does.  It also keeps the
        checked result's hash sum, which every timed pass must repeat."""
        import duckdb

        from tools.check_correctness import _kind, _normalize
        from vertica_hadoop_integration__spark.plans import ORACLES, QUERIES

        con = duckdb.connect()
        for t in self.rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.sf_dir, t + '.parquet')}')"
            )
        spark = self.run.spark
        for _, q in self.queries:
            self.attempted += 1
            try:
                # cached, so the hash sum reads the rows the oracle checks
                sdf = QUERIES[q](spark, self.sf_dir).persist()
                got = _canon(sdf)
                stypes = dict(sdf.dtypes)
                self.hashes[q] = {_hash_sum(sdf)}
                spark.catalog.clearCache()
                rel = con.sql(ORACLES[q])
                ocols = list(rel.columns)
                otypes = dict(zip(ocols, (str(t) for t in rel.types)))
                want = _normalize(rel.fetchall(), ocols)
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                self.fail(f"{q}: raised {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                continue
            kinds_ok = sorted(stypes) == sorted(otypes) and all(
                _kind(stypes[c]) == _kind(otypes[c]) for c in stypes
            )
            if not kinds_ok or got != want:
                self.fail(f"{q}: result differs from its DuckDB oracle")
        con.close()

    def unit(self, index: int) -> None:
        from vertica_hadoop_integration__spark.plans import QUERIES

        spark = self.run.spark
        order = np.random.default_rng([self.run.seed, index]).permutation(len(self.queries))
        fam_s = {f: 0.0 for f in QUERY_FAMILIES}
        t_pass, cpu_pass = time.perf_counter(), cpu_s()
        ok = True
        for i in order:
            fam, q = self.queries[i]
            self.attempted += 1
            try:
                self.set_group(f"qmix.{fam}.build")
                with self.tracer.span(f"plans.{fam}.build", "plans"):
                    t0 = time.perf_counter()
                    df = QUERIES[q](spark, self.sf_dir)
                    t1 = time.perf_counter()
                self.set_group(f"qmix.{fam}.action")
                with self.tracer.span(f"plans.{fam}.action", "plans"):
                    h = _hash_sum(df)
                    t2 = time.perf_counter()
                spark.catalog.clearCache()
            except Exception as e:  # noqa: BLE001 - counted, the pass goes on
                self.fail(f"pass {index} {q}: raised {type(e).__name__}")
                ok = False
                continue
            finally:
                self.set_group(None)
            self.hashes.setdefault(q, set()).add(h)
            self.build[fam].append(t1 - t0)
            self.action[fam].append(t2 - t1)
            fam_s[fam] += t2 - t0
        if ok:
            self.passes.append({"pass_s": time.perf_counter() - t_pass, **fam_s})
            # the operation sample is the pass's mean query time: queries
            # differ 10x in cost, so a median over single queries would
            # jump between them
            self.samples.append(sum(fam_s.values()) / len(self.queries))
            self.cpu_samples.append((cpu_s() - cpu_pass) / len(self.queries))

    def ops(self) -> int:
        return len(self.samples) * len(self.queries)

    def check(self) -> None:
        """Every timed pass of a query returned the rows of the oracle pass."""
        for q, hs in self.hashes.items():
            self.attempted += 1
            if len(hs) != 1:
                self.fail(f"{q}: hash sums differ from the oracle pass: {sorted(map(str, hs))}")

    def metrics(self) -> dict[str, float]:
        out = {"qmix.pass_s": median([p["pass_s"] for p in self.passes])}
        for f in QUERY_FAMILIES:
            out[f"qmix.{f}_s"] = median([p[f] for p in self.passes])
        return out

    def layer_metrics(self) -> dict[str, float]:
        n = max(1, len(self.passes))
        out = {}
        for f in QUERY_FAMILIES:
            out[f"plans.{f}.build_s"] = sum(self.build[f]) / n
            out[f"plans.{f}.action_s"] = sum(self.action[f]) / n
        return out


# ---------------------------------------------------------------------------
SINKS = ("retention", "transition", "attribution", "funnel")


class StreamCommit(Workload):
    """Events cut at seeded points into N_BATCHES time-ordered
    micro-batch files.  Each unit feeds the next batch, with its batch id,
    to the four snapshot-state sinks, calling them directly so no stream
    trigger timing is involved.  Batch 0 is the warm-up.  The operation
    sample is a batch's mean commit time: the sinks differ in cost, so a
    median over single commits would jump between them."""

    name = "stream_commit"
    TABLES = ("events",)
    N_BATCHES = 40

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        super().prepare()
        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        n = events.num_rows
        # cut points: sorted seeded row offsets, no batch under half the
        # mean size (events are time-ordered, so offsets are time cuts)
        mean = n / self.N_BATCHES
        gaps = mean * (0.5 + self.rng.random(self.N_BATCHES))
        bounds = np.concatenate([[0], np.cumsum(gaps / gaps.sum() * n)]).astype(int)
        self.batch_dirs = []
        self.batch_rows = []
        for b in range(self.N_BATCHES):
            part = events.slice(bounds[b], bounds[b + 1] - bounds[b])
            d = self.run.path("batches", str(b))
            os.makedirs(d)
            pq.write_table(part, os.path.join(d, "events.parquet"))
            self.batch_dirs.append(d)
            self.batch_rows.append(part.num_rows)
        self.fed = 0
        self.events_fed = 0
        self.batch_s: list[float] = []
        self.commit_s: list[float] = []
        self.per_sink: dict[str, list[float]] = {s: [] for s in SINKS}

    def _sinks(self):
        from vertica_hadoop_integration__spark.streaming import (
            attribution,
            funnel,
            retention,
            transition,
        )

        root = self.run.path("stream")
        ledger = os.path.join(root, "ledger")
        return {
            "retention": retention.make_retention_sink(os.path.join(root, "retention"), ledger),
            "transition": transition.make_transition_sink(
                os.path.join(root, "transition"), ledger
            ),
            "attribution": attribution.make_attribution_sink(
                os.path.join(root, "attribution"), ledger
            ),
            "funnel": funnel.make_funnel_sink(os.path.join(root, "funnel"), ledger),
        }

    def _feed(self, timed: bool) -> None:
        from vertica_hadoop_integration__spark.sources import load_table

        b = self.fed
        batch = load_table(self.run.spark, self.batch_dirs[b], "events")
        t_batch, cpu_batch = time.perf_counter(), cpu_s()
        commits = []
        for s in SINKS:
            self.attempted += 1
            self.set_group(f"stream.{s}")
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"streaming.{s}.commit", "streaming"):
                    self.sinks[s](batch, b)
            except Exception as e:  # noqa: BLE001 - counted, the run goes on
                self.fail(f"batch {b} {s}: raised {type(e).__name__}: {e}")
                continue
            finally:
                self.set_group(None)
            commits.append(time.perf_counter() - t0)
            if timed:
                self.per_sink[s].append(commits[-1])
        if timed:
            self.batch_s.append(time.perf_counter() - t_batch)
            self.commit_s.extend(commits)
            if len(commits) == len(SINKS):
                self.samples.append(sum(commits) / len(commits))
                self.cpu_samples.append((cpu_s() - cpu_batch) / len(commits))
            self.events_fed += self.batch_rows[b]
        self.fed += 1

    def warm(self) -> None:
        self.sinks = self._sinks()
        self._feed(timed=False)

    def unit(self, index: int) -> None:
        if self.fed >= self.N_BATCHES:
            raise RuntimeError("stream_commit ran out of batches; raise N_BATCHES")
        self._feed(timed=True)

    def check(self) -> None:
        """Each sink's final report equals its batch twin over the union of
        the batches fed so far."""
        from vertica_hadoop_integration__spark.operators import temporal
        from vertica_hadoop_integration__spark.sources import load_table
        from vertica_hadoop_integration__spark.streaming import (
            attribution,
            funnel,
            retention,
            transition,
        )

        spark = self.run.spark
        union = load_table(spark, self.batch_dirs[0], "events")
        for d in self.batch_dirs[1 : self.fed]:
            union = union.unionByName(load_table(spark, d, "events"))
        twins = {
            "retention": (retention, temporal.retention_cohorts(union, granularity="week")),
            "transition": (transition, temporal.markov_transitions(union)),
            "attribution": (attribution, temporal.attribution_last_touch(union, window_days=7)),
            "funnel": (funnel, temporal.funnel(union, stages=("view", "click", "purchase"))),
        }
        root = self.run.path("stream")
        for s, (mod, twin) in twins.items():
            self.attempted += 1
            got = _canon(mod.read_report(spark, os.path.join(root, s)))
            if got != _canon(twin):
                self.fail(f"{s}: report after {self.fed} batches differs from its batch twin")

    def metrics(self) -> dict[str, float]:
        wall = sum(self.batch_s)
        return {
            "stream.batch_s.p50": median(self.commit_s),
            "stream.batch_s.p80": percentile(self.commit_s, 80),
            "stream.events_per_s": self.events_fed / wall if wall else 0.0,
        }

    def ops(self) -> int:
        return len(self.commit_s)

    def layer_metrics(self) -> dict[str, float]:
        out = {f"streaming.{s}.commit_s": median(v) for s, v in self.per_sink.items()}
        out["streaming.state_bytes"] = float(dir_size(self.run.path("stream"))[0])
        return out


WORKLOADS = {w.name: w for w in (BackupIncremental, QueryMix, StreamCommit)}
