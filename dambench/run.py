#!/usr/bin/env python3
"""DAM benchmark entry point.

Usage, from the root of the repository::

    python3 dambench/run.py --workload ingest_live --seed 1 --seconds 15 --trace 0

Builds the workload's inputs from ``--seed``, starts a Spark session
through the engine's own factory, measures the workload for
``--seconds`` seconds, checks the outputs against an independent
computation, and prints one JSON object as the last line of standard
output::

    {"correct": true, "attempted": N, "failed": M, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process
start to the first timed op: session, inputs, tables, warm-up),
``op_p50_ms``/``op_p90_ms`` (op latency), ``ops_per_s`` and
``events_per_s`` (see workloads.py for each workload's definition) and
``peak_rss_mb`` (VmHWM of the driver JVM plus this process, from
/proc). ``--trace 1`` runs one untraced and one traced window back to
back and reports the per-layer metrics, including the tracing overhead
(traced minus untraced median op latency). ``failed`` counts failed or
undelivered ops plus failed correctness checks; ``attempted`` counts
ops plus checks. A percentile that leaves fewer than ten samples
beyond it is still reported, and an ``UNRESOLVED`` line before the
result names it. Self-tests: ``python3 -m pytest dambench/tests``.

Host settings are pinned here: ``SPARK_GRAFT_CPUS`` (Spark's task
threads, ``local[N]``) is half the usable cores and the driver heap is
``DRIVER_MEM``. All scratch files (Spark local dirs, checkpoints,
sinks, temp files) live under ``.dambench_work/`` in the repository
root and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
ENGINE = "database_activity_monitoring_dam_system_spark"
# Driver JVM heap: well below the RAM of the 15 GB reference host, and
# small enough that the heap fills and peak RSS settles in every run.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "events_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics; a layer idle on a workload reports 0.
PER_LAYER = {
    "ingest.trigger_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.source_ms": "ms",
    "ingest.commit_ms": "ms",
    "ingest.files_per_batch": "count",
    "ingest.events_per_batch": "count",
    "ingest.source_scans_per_batch": "count",
    "ingest.backlog_files_end": "count",
    "ingest.generator_late_ms": "ms",
    "sources.normalize_build_ms": "ms",
    "sources.kept_frac": "ratio",
    "rules.firewall_build_ms": "ms",
    "rules.battery_build_ms": "ms",
    "rules.alerts_build_ms": "ms",
    "rules.suspicious_frac": "ratio",
    "rules.alerts_per_1k_events": "count",
    "rules.firewall_hit_frac": "ratio",
    "stateful.read_ms": "ms",
    "stateful.write_ms": "ms",
    "stateful.build_ms": "ms",
    "stateful.state_rows": "count",
    "sinks.write_ms": "ms",
    "sinks.writes_per_batch": "count",
    "sinks.files_per_batch": "count",
    "sinks.bytes_per_event": "B",
    "sinks.table_files": "count",
    "sinks.table_bytes": "B",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "api.dashboard_data_ms": "ms",
    "api.chart_data_ms": "ms",
    "api.user_activities_ms": "ms",
    "api.behavior_profile_ms": "ms",
    "api.compliance_report_ms": "ms",
    "api.anomalies_ms": "ms",
    "api.guest_summary_ms": "ms",
    "api.build_ms": "ms",
    "api.action_ms": "ms",
    "api.self_ms": "ms",
    "api.actions_per_request": "count",
    "self.ingest_ms": "ms",
    "self.sources_ms": "ms",
    "self.rules_ms": "ms",
    "self.stateful_ms": "ms",
    "self.sinks_ms": "ms",
    "self.spark_ms": "ms",
    "self.api_ms": "ms",
    "self.analytics_ms": "ms",
    "self.anomaly_ms": "ms",
    "trace.op_p50_untraced_ms": "ms",
    "trace.op_p50_traced_ms": "ms",
    "trace.overhead_ms": "ms",
}


def _task_threads() -> int:
    """Half the usable cores: the driver JVM's scheduler, GC and JIT
    threads and this process's client need cores of their own, and on a
    shared host a task thread per core turns every stolen core into a
    straggling stage. On a 4-core host local[2] served each dashboard
    request 15-20 % faster than local[4] and ingested no slower."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(work: Path):
    from database_activity_monitoring_dam_system_spark.session import get_spark

    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # -Xms = heap size: the heap is sized once, so peak RSS follows the
    # pages the workload touches rather than run-to-run resize decisions
    java_opts = (
        f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    )
    spark = get_spark(
        "dambench",
        extra_conf={
            "spark.local.dir": str(local),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _peak_rss_mb(spark) -> float:
    from pyspark import SparkContext

    from dambench.measure import vm_hwm_kb

    kb = vm_hwm_kb("self")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += vm_hwm_kb(proc.pid)
    return kb / 1024.0


def _end_to_end(result, rss_mb: float) -> dict[str, float]:
    from dambench.measure import percentile

    w = result.windows[0]
    return {
        "setup_s": result.setup_s,
        "op_p50_ms": percentile(w.latencies_ms, 50, w.weights),
        "op_p90_ms": percentile(w.latencies_ms, 90, w.weights),
        "ops_per_s": w.ops_per_s,
        "events_per_s": w.events_per_s,
        "peak_rss_mb": rss_mb,
    }


def _per_layer(result) -> dict[str, float]:
    from dambench.measure import percentile

    untraced, traced = result.windows[0], result.windows[-1]
    out = {name: 0.0 for name in PER_LAYER}
    out.update({k: v for k, v in traced.layer.items() if k in PER_LAYER})
    out.update({k: v for k, v in result.counts.items() if k in PER_LAYER})
    p50_u = percentile(untraced.latencies_ms, 50, untraced.weights)
    p50_t = percentile(traced.latencies_ms, 50, traced.weights)
    out["trace.op_p50_untraced_ms"] = p50_u
    out["trace.op_p50_traced_ms"] = p50_t
    out["trace.overhead_ms"] = p50_t - p50_u
    unknown = sorted(set(traced.layer) - set(PER_LAYER))
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {unknown}")
    return out


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not (ROOT / ENGINE).is_dir():
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, str(ROOT))
    from dambench import workloads
    from dambench.measure import MIN_BEYOND, cpu_ticks, highest_resolved, median, resolved
    from dambench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.environ["SPARK_GRAFT_CPUS"] = str(_task_threads())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    work = ROOT / ".dambench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    (work / "tmp").mkdir()
    tracer = Tracer() if args.trace else None
    steal0, total0 = cpu_ticks()
    spark = None
    try:
        spark = _start_spark(work)
        result = workloads.WORKLOADS[args.workload](
            spark, str(work / "run"), args.seed, args.seconds, tracer, T_START
        )
        rss = _peak_rss_mb(spark)
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".dambench_work").rmdir()
        except OSError:
            pass

    attempted = sum(w.attempted for w in result.windows) + len(result.checks)
    failed = sum(w.failed for w in result.windows)
    failed += sum(1 for _, ok, _ in result.checks if not ok)
    for name, ok, detail in result.checks:
        print(f"check {name}: {'ok' if ok else 'MISMATCH ' + detail}")
    steal1, total1 = cpu_ticks()
    # a shared host's steal slows every op of a run alike; read latencies with it
    print(f"hypervisor steal: {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f} % "
          "of CPU time during the run")
    print(f"phases: setup {result.setup_s:.1f} s, windows "
          f"{sum(w.elapsed_s for w in result.windows):.1f} s, gate {result.gate_s:.1f} s, "
          f"total {time.perf_counter() - T_START:.1f} s")
    n = len(result.windows[0].latencies_ms)
    print(f"workload {args.workload} seed {args.seed}: {n} ops, highest resolved "
          f"percentile={highest_resolved(n)}, shape={json.dumps(result.shape)}")
    w0 = result.windows[0]
    if w0.kinds:
        per_kind = {k: round(median([x for x, kk in zip(w0.latencies_ms, w0.kinds) if kk == k]))
                    for k in sorted(set(w0.kinds))}
        print(f"median ms by request: {json.dumps(per_kind)}")
        print("ms in call order:", " ".join(f"{k}={x:.0f}" for k, x in zip(w0.kinds, w0.latencies_ms)))
    for name, q in (("op_p50_ms", 50), ("op_p90_ms", 90)):
        if not resolved(n, q):
            print(f"UNRESOLVED {name}: {n} samples leave fewer than {MIN_BEYOND} "
                  f"beyond the nearest-rank p{q}")
    if args.trace:
        metrics = _per_layer(result)
        units = PER_LAYER
    else:
        metrics = _end_to_end(result, rss)
        units = END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
