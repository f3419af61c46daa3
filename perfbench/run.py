"""The repository benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It starts one Spark session
(``session.get_spark``, ``local[$SPARK_GRAFT_CPUS]``, default ``nproc``),
builds its inputs from ``--seed`` (``gen.py``), warms up untimed (the
direct calls that give the references, or one checked pass), runs a
closed loop for ``--seconds``, checks every output (``checks.py``)
and prints, as the last line of standard output,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the run has one client, traces
half of its operations (``tracing.py``) and reports the per-layer
metrics. The full record of the run (environment, every operation,
spans) is written to ``.perfbench/runs/`` in the checkout.

Workloads (``workloads.py``):

* ``analyze_small``: ``POST /analyze`` from 2 closed-loop clients to
  ``server.serve_background`` on one shared session. An operation is a
  request; ``latency_p50_s`` is the median request latency.
* ``batch_operators``: bench.py's B1-B6, B8-B11 and its S1/S2 probes,
  one client, in at least two whole passes of seeded order. An
  operation is a query; ``latency_p50_s`` is the pass time: the sum over
  queries of each query's median time, as bench.py totals it.

On both, ``throughput_ops_s`` is completed operations per second of the
timed window's wall clock.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import subprocess
import threading
import time
import traceback

BEGIN = time.time()

import tracing  # noqa: E402  (imports no Spark; the set-up clock starts above)
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("analyze_small", "batch_operators")
#: end-to-end metrics of an untraced run, with their units
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_ops_s": "ops/s",
    "peak_rss_mb": "MB",
}
#: a run that has not finished by then is stopped, so it never outlives 180 s
RUN_LIMIT_S = 170


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _load1() -> float:
    return round(os.getloadavg()[0], 2)


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def _steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident memory of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _environment() -> None:
    """Make the package importable by this process and by Spark's Python
    workers, and keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path[:0] = [ROOT, HERE]
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def start_spark():
    from temporal_retriever_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            # a heap committed and touched in full at start makes the JVM's
            # resident memory independent of when the collector grows the
            # heap or first touches its pages
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                " -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> float:
    """Stop the session and its JVM, wait for both; return the JVM's
    peak resident memory in MB."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    jvm_mb = _vm_hwm_mb(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    return jvm_mb


def tail_latency(latencies: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples no percentile qualifies and the maximum is
    given instead."""
    n = len(latencies)
    ordered = sorted(latencies)
    if n < 11:
        return {"percentile": "max", "n": n, "value_s": ordered[-1]}
    return {"percentile": 100 * (n - 10) / n, "n": n, "value_s": ordered[n - 11]}


def end_to_end(workload: str, out: dict, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics, plus the facts behind them for the record.

    ``latency_p50_s`` is the median request latency on analyze_small and
    the pass time on batch_operators: the sum over queries of each
    query's median time, as bench.py totals it. ``throughput_ops_s`` is
    completed operations over the timed window's wall clock; the batch
    window holds whole passes, so its mix of queries is fixed."""
    ops = out["ops"]
    # completed operations per second of the timed window's wall clock
    wall = max(r["end"] for r in ops) - min(r["start"] for r in ops)
    throughput = sum("error" not in r for r in ops) / wall
    if workload == "batch_operators":
        per_query: dict[str, list[float]] = {}
        for r in ops:
            per_query.setdefault(r["query"], []).append(r["end"] - r["start"])
        latency = sum(statistics.median(v) for v in per_query.values())
        passes: dict[int, float] = {}
        for r in ops:
            passes[r["pass"]] = passes.get(r["pass"], 0.0) + r["end"] - r["start"]
        facts = {"pass_s": latency, "pass_walls_s": passes, "query_s": per_query}
    else:
        times = [r["end"] - r["start"] for r in ops]
        latency = statistics.median(times)
        facts = {"request_s": times, "latency_tail": tail_latency(times)}
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": latency,
        "throughput_ops_s": throughput,
        "peak_rss_mb": rss_mb,
    }
    return metrics, facts


def per_layer(workload: str, out: dict) -> dict:
    """Per-operation means over the traced operations, the batch call
    times, and the tracing overhead: the median latency of traced minus
    untraced requests, or on batch_operators the sum over queries of
    each query's traced minus untraced time (the reads of the Spark UI
    between operations are outside both)."""
    ops = out["ops"]
    traced = [r for r in ops if r["traced"]]
    metrics = {}
    for name in {**tracing.PER_LAYER, **tracing.RECORD_ONLY}:
        if name in tracing.BATCH_CALLS or name.startswith("trace."):
            continue
        values = [r["layers"].get(name, 0.0) for r in traced]
        metrics[name] = sum(values) / len(values) if values else 0.0
    for name, query in tracing.BATCH_CALLS.items():
        times = [r["end"] - r["start"] for r in traced if r.get("query") == query]
        metrics[name] = statistics.median(times) if times else 0.0
    if workload == "batch_operators":
        # per query, traced minus untraced, summed over a pass
        by_query: dict[tuple, list] = {}
        for r in ops:
            by_query.setdefault((r["query"], r["traced"]), []).append(r["end"] - r["start"])
        both = {q for q, t in by_query if t and (q, False) in by_query}
        overhead = sum(
            statistics.median(by_query[q, True]) - statistics.median(by_query[q, False])
            for q in both
        )
    else:
        on = [r["end"] - r["start"] for r in traced]
        off = [r["end"] - r["start"] for r in ops if not r["traced"]]
        overhead = statistics.median(on) - statistics.median(off) if on and off else 0.0
    metrics["trace.ops"] = len(traced)
    metrics["trace.overhead_s"] = overhead
    return metrics


def result_line(metrics: dict, attempted: int, failed: int) -> dict:
    """The last line of the output: every metric with its unit."""
    units = {**END_TO_END, **tracing.PER_LAYER}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "temporal_retriever_spark")) or not (
        os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(
            f"perfbench: no temporal_retriever_spark package and bench.py under {ROOT}",
            file=sys.stderr,
        )
        return 2
    _environment()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "load1_start": _load1(),
    }
    ticks_start = _cpu_ticks()
    import pyspark

    record["pyspark"] = pyspark.__version__
    spark = start_spark()
    jvm = spark.sparkContext._gateway.proc

    def abort() -> None:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s, stopping", file=sys.stderr)
        jvm.kill()
        jvm.wait()
        os._exit(3)

    watchdog = threading.Timer(RUN_LIMIT_S - (time.time() - BEGIN), abort)
    watchdog.daemon = True
    watchdog.start()
    marks = {"session_s": time.time() - BEGIN}

    def mark_setup() -> None:
        marks["setup_s"] = time.time() - BEGIN

    trace = bool(args.trace)
    try:
        if args.workload == "analyze_small":
            out = workloads.run_analyze_small(spark, args.seed, args.seconds, trace, mark_setup)
        else:
            out = workloads.run_batch_operators(
                spark, args.seed, args.seconds, trace, mark_setup, os.path.join(WORK, "data")
            )
    finally:
        jvm_mb = stop_spark(spark)
        watchdog.cancel()
    marks["jvm_peak_mb"] = jvm_mb
    marks["python_peak_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    rss_mb = jvm_mb + marks["python_peak_mb"]

    errors = [r["error"] for r in out["ops"] if "error" in r] + out["setup_errors"]
    attempted = len(out["ops"]) + len(out["setup_errors"])
    e2e, facts = end_to_end(args.workload, out, marks["setup_s"], rss_mb)
    layers = per_layer(args.workload, out) if trace else None
    record.update(
        {
            "clients": out["clients"],
            "load1_end": _load1(),
            # share of CPU time the hypervisor gave to others during the run
            "steal_share": _steal_share(ticks_start, _cpu_ticks()),
            "attempted": attempted,
            "failed": len(errors),
            "failed_ratio": len(errors) / attempted,
            "errors": errors[:20],
            "setup": marks,
            "end_to_end": e2e,
            "facts": facts,
            "per_layer": layers,
            "ops": out["ops"],
            "spans": out["spans"],
        }
    )
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    path = os.path.join(
        WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    print(f"perfbench: record written to {path}", file=sys.stderr)
    if trace:
        print(json.dumps({"per_layer": layers}), file=sys.stderr)
        metrics = {name: layers[name] for name in tracing.PER_LAYER}
    else:
        metrics = e2e
    result = result_line(metrics, attempted, len(errors))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
