"""Run context shared by the workloads: a private work directory inside
the checkout, the Spark session with only the overrides this host forces,
CPU, steal and peak-RSS readings from ``/proc``, percentile helpers and
the result record.

Everything a run writes (inputs, ORC, ledgers, Spark local files, the Derby
database, ``derby.log``, ``spark-warehouse``, event logs) lands under
``.perfbench_work/`` in the checkout and is deleted when the run ends.
Result records are kept under ``.perfbench_results/``, one file per run,
never overwritten.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RESULTS_ROOT = os.path.join(ROOT, ".perfbench_results")

# The only settings the benchmark forces on the engine's session.  The
# engine's defaults (local[32], a 16g heap) oversubscribe a small host;
# shuffle partitions, AQE and broadcast stay at the engine's defaults so
# that a change to them shows.
HEAP = "3g"
MIN_FREE_BYTES = 4 * 1024**3


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _vm_hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        pass
    return 0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds (user plus system) used so far by this process and
    every process below it: the JVM, the Python workers it starts, and
    the children each of them has reaped.

    The gated operation metrics are CPU time, not wall time: on a shared
    virtual machine the host deschedules the guest's CPUs for a share of
    wall time that follows the other tenants' load, and a kernel with
    paravirtual steal-time accounting leaves that time out of a
    process's CPU time."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while listing
        fields = stat[stat.rindex(")") + 2 :].split()
        # fields[1] is the parent pid; [11:15] are utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / _CLK_TCK


def steal_s() -> float:
    """CPU seconds the host has taken from this machine's virtual CPUs
    since boot (the steal column of /proc/stat); recorded per run, since
    it shows how much the wall-time figures were inflated."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def _mem_available() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    return 0


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Run:
    """One benchmark process: work directory, Spark session, records."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.cpus = os.cpu_count() or 1
        self.loadavg_before = os.getloadavg()
        self.steal_before = steal_s()
        self.started = dt.datetime.now(dt.timezone.utc)
        self.dir = os.path.join(
            WORK_ROOT, f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}"
        )
        self.spark = None
        self._old_cwd = os.getcwd()
        self._jvm_pid = 0

    # -- work directory ----------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def __enter__(self) -> "Run":
        if _mem_available() < MIN_FREE_BYTES:
            raise RuntimeError(
                f"less than {MIN_FREE_BYTES >> 30} GiB of memory available "
                f"for a {HEAP} JVM heap"
            )
        os.makedirs(self.path("tmp"), exist_ok=True)
        # Python workers import the engine by name, so they need the
        # checkout on their path wherever the benchmark was started from.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.path("tmp")
        # The JVM starts in this directory, so derby.log, metastore_db and
        # spark-warehouse land here rather than in the checkout.
        os.chdir(self.dir)
        return self

    def __exit__(self, *exc) -> None:
        self.stop_session(shutdown_jvm=True)
        os.chdir(self._old_cwd)
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass

    # -- Spark session -----------------------------------------------------
    def overrides(self) -> dict[str, str]:
        conf = {
            "spark.master": f"local[{self.cpus}]",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start_session(self):
        from vertica_hadoop_integration__spark import session

        conf = self.overrides()
        master = conf.pop("spark.master")
        self.spark = session.get_session("perfbench", master=master, extra_conf=conf)
        self.spark.range(1).count()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            self._jvm_pid = gw.proc.pid
        return self.spark

    def stop_session(self, shutdown_jvm: bool) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if not shutdown_jvm:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        return (_vm_hwm_bytes(os.getpid()) + _vm_hwm_bytes(self._jvm_pid)) / 2**20

    # -- result record -----------------------------------------------------
    def record(self, result: dict, extra: dict) -> str:
        import pyspark

        out_dir = os.path.join(RESULTS_ROOT, self.workload)
        os.makedirs(out_dir, exist_ok=True)
        stamp = self.started.strftime("%Y%m%dT%H%M%S%fZ")
        path = os.path.join(
            out_dir,
            f"{stamp}_seed{self.seed}_trace{int(self.trace)}_{os.getpid()}.json",
        )
        rec = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.trace,
            "git_sha": git_sha(),
            "nproc": self.cpus,
            "spark_version": pyspark.__version__,
            "python": sys.version.split()[0],
            "overrides": {
                k: v for k, v in self.overrides().items() if "eventLog" not in k
            },
            "loadavg_before": self.loadavg_before,
            "loadavg_after": os.getloadavg(),
            "steal_s": steal_s() - self.steal_before,
            "started_utc": self.started.isoformat(),
            "result": result,
            **extra,
        }
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True, default=str)
        return path
