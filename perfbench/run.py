"""spark-etl-engine benchmark: three closed-loop workloads, timed end to
end, with a traced mode that times each layer of the engine.

    python3 perfbench/run.py --workload backup_incremental --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload, every metric

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics.  Lines before it name the
workload's own metrics (``backup.*``, ``qmix.*``, ``stream.*``) with
units.  ``perfbench/layers.json`` maps every per-layer metric to its layer
and to the end-to-end metrics it should move, and gives the units of the
workload's own metrics.

Inputs are generated from ``--seed`` inside the checkout; the engine sees
only the generated tables.  Everything a run writes goes under
``.perfbench_work/`` and is removed at exit; one JSON record per run is
kept under ``.perfbench_results/<workload>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("backup_incremental", "query_mix", "stream_commit")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_one(args: argparse.Namespace) -> dict:
    """Run one workload in this process; returns the result object."""
    import layers
    from harness import Run, cpu_s, median, percentile
    from spans import Tracer
    from workloads import WORKLOADS

    tracer = Tracer()
    with Run(args.workload, args.seed, bool(args.trace)) as run:
        wl = WORKLOADS[args.workload](run, tracer)
        wl.prepare()
        cpu0, t0 = cpu_s(), time.perf_counter()
        run.start_session()
        session_s = time.perf_counter() - t0
        layers.install(tracer)
        wl.install()
        t_warm = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t_warm
        # set-up in CPU seconds, for the reason op_cpu_s.p50 is (harness.cpu_s)
        setup_s = cpu_s() - cpu0
        wl.measure(args.seconds, alternate=bool(args.trace))
        peak_rss = run.peak_rss_mb()
        tracer.restore()
        wl.check()
        own = wl.metrics()
        samples = wl.samples
        e2e = {
            "setup_s": setup_s,
            "op_cpu_s.p50": median(wl.cpu_samples),
            "cpu_s_per_op": wl.cpu_s_per_op(),
        }
        own["setup_wall_s"] = session_s + warm_s
        own["op_s.p50"] = median(samples)
        own["ops_per_s"] = wl.ops_per_s()
        extra: dict = {
            "samples": samples,
            "cpu_samples": wl.cpu_samples,
            "measured_cpu_s": wl.measured_cpu_s,
            "failures": wl.failures,
            "session_s": session_s,
            "warm_s": warm_s,
            "measured_s": wl.measured_s,
            "op_s.p80": percentile(samples, 80),
        }
        if args.trace:
            # the event log is complete only once the context has stopped
            run.stop_session(shutdown_jvm=True)
            metrics = layers.collect(wl, tracer, run, session_s, peak_rss)
            units = layers.metric_units("per_layer")
            extra["spans"] = len(tracer.spans)
        else:
            metrics, units = e2e, layers.metric_units("end_to_end")
        attempted = max(1, wl.attempted)
        own["peak_rss_mb"] = peak_rss
        own[f"{wl.name}.fail_ratio"] = len(wl.failures) / attempted
        result = {
            "correct": not wl.failures,
            "attempted": attempted,
            "failed": len(wl.failures),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
        path = run.record(result, {"end_to_end": e2e, "workload_metrics": own, **extra})
        if args.trace:
            tracer.dump(path[: -len(".json")] + ".spans.json")
    own_units = layers.workload_units()
    for k, v in own.items():
        unit = own_units[k.replace(f"{wl.name}.", "<workload>.")]
        print(f"{args.workload}: {k} = {v:.6g} {unit}")
    for f in wl.failures:
        print(f"{args.workload}: FAILED {f}")
    return result


def run_all(args: argparse.Namespace) -> int:
    """Every workload, each in its own process, then every end-to-end
    metric by workload and name."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable,
            os.path.abspath(__file__),
            "--workload",
            name,
            "--seed",
            str(args.seed),
            "--seconds",
            str(args.seconds),
            "--trace",
            str(args.trace),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"{name}: FAILED (exit {proc.returncode})")
            combined["correct"] = False
            combined["failed"] += 1
            combined["attempted"] += 1
            continue
        res = json.loads(lines[-1])
        for k, v in res["metrics"].items():
            print(f"{name}: {k} = {v['value']:.6g} {v['unit']}")
            combined["metrics"][f"{name}.{k}"] = v
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [ROOT]
    try:
        import vertica_hadoop_integration__spark.plans  # noqa: F401
    except ImportError as e:
        sys.stderr.write(f"cannot import the engine from {ROOT}: {e}\n")
        return 2
    try:
        result = run_one(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero, printing no result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
