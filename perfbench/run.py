"""Benchmark entry point for the search service.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts one local Spark session,
builds the workload's catalog from the seed, warms up, drives the
service for ``--seconds`` and checks every output. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it holds the
run's context: seed, cores, memory, Spark version, host calibration and
the per-operation figures. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "requests_per_s": "1/s",
    "cpu_ms_per_request": "ms",
    "stored_bytes_per_input_byte": "ratio",
    "success_ratio": "ratio",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    **{f"{layer}.self_ms": "ms/req" for layer in (
        "client", "api", "service", "catalog", "ingest", "postings", "search",
        "sources", "registry")},
    "catalog.get_collection_calls": "count/req",
    "catalog.get_collection_ms": "ms/req",
    "catalog.jobs_per_request": "count/req",
    "catalog.add_documents_ms": "ms/call",
    "catalog.delete_documents_ms": "ms/call",
    "catalog.live_files": "count",
    "ingest.prepare_ms": "ms/call",
    "ingest.ingest_into_self_ms": "ms/call",
    "ingest.chunks_per_doc": "count/doc",
    "ingest.accepted_ratio": "ratio",
    "postings.matched_ids_ms": "ms/call",
    "postings.append_ms": "ms/call",
    "postings.compactions": "count",
    "postings.compact_ms": "ms",
    "postings.live_files": "count",
    "search.rows_scanned_per_result": "rows/result",
    "search.scan_tasks": "count/search",
    "sources.load_table_calls": "count/query",
    "sources.load_table_ms": "ms/call",
    "sources.jobs_per_load": "count/call",
    "registry.construct_ms": "ms/query",
    "registry.eager_jobs": "count/query",
    "catalyst.analysis_ms": "ms/query",
    "catalyst.optimization_ms": "ms/query",
    "catalyst.planning_ms": "ms/query",
    "spark.jobs": "count/req",
    "spark.tasks": "count/req",
    "spark.executor_run_ms": "ms/req",
    "spark.executor_cpu_ms": "ms/req",
    "spark.shuffle_write_bytes": "B/req",
    "spark.spill_bytes": "B/req",
    "trace.wall_ms": "ms/req",
    "trace.self_sum_ms": "ms/req",
    "trace.overhead_ms": "ms/req",
}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_cpu_s() -> float:
    """CPU seconds used by this process and every descendant (the JVM
    and its Python workers), including reaped children, from /proc."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])
    mine, frontier = set(), {os.getpid()}
    while frontier:
        mine |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
    return sum(cpu.get(p, 0) for p in mine) / os.sysconf("SC_CLK_TCK")


def calibrate(spark) -> float:
    """A fixed in-memory Spark job, median of three, in ms. Recorded
    next to every run as host context; never used to drop a run."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def start_spark(work: str, cores: int):
    """One local session through the engine's own builder, with the
    repository on the Python workers' path and every scratch file
    inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from vector_search_service_spark.session import get_spark

    return get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        # the heap is committed and touched at start, so the JVM's
        # resident set does not depend on when the collector grew it;
        # no perf-data file, which the JVM would write outside ``work``
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job back from the status store
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "40000",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("vector_search_service_spark/service.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full "
                  "checkout of the repository", file=sys.stderr)
            return 2

    sys.path[:0] = [ROOT, HERE]
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        from tracing import Tracer, layer_metrics
        from workloads import WORKLOADS, Failed

        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        w = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        w.setup()
        load_s = time.perf_counter() - t0 - session_s
        w.warm()
        setup_s = time.perf_counter() - t0
        calibration_ms = calibrate(spark)
        cpu0, (steal0, total0) = tree_cpu_s(), host_cpu()
        wall_s = w.run(args.seconds)
        cpu_s = tree_cpu_s() - cpu0
        steal1, total1 = host_cpu()
        # the end-of-run state check counts as one more attempt
        verify_error, t_verify = None, time.perf_counter()
        try:
            w.verify()
        except Failed as e:
            verify_error = str(e)
        verify_s = time.perf_counter() - t_verify
        m, ctx = w.metrics(wall_s)
        errors = [o["error"] for o in w.ops if o["error"]] + [verify_error] * bool(verify_error)
        failed, attempted = len(errors), len(w.ops) + 1
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        m["setup_s"] = setup_s
        m["cpu_ms_per_request"] = cpu_s * 1e3 / max(1, len(w.ops))
        m["success_ratio"] = 1.0 - failed / attempted
        m["peak_rss_mb"] = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                            + (vm_hwm_mb(jvm.pid) if jvm is not None else 0.0))
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores, "driver_memory": DRIVER_MEMORY,
            "spark_version": spark.version, "python": sys.version.split()[0],
            "host_steal_pct": 100 * (steal1 - steal0) / max(1, total1 - total0),
            "session_start_s": session_s, "load_s": load_s,
            "warm_s": setup_s - session_s - load_s, "calibration_ms": calibration_ms,
            "measured_s": wall_s, "verify_s": verify_s,
            "python_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "ops": w.op_summary(), **ctx, "errors": errors[:10],
            "series_ms": [(o["kind"], round(o["ms"])) for o in w.ops],
        }
        if tracer is not None:
            metrics = layer_metrics(tracer, spark, w.ops, w.state())
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            tracer.dump(path)
            context["spans"] = os.path.relpath(path, ROOT)
            context["end_to_end"] = m
            units = LAYER_UNITS
        else:
            metrics, units = m, E2E_UNITS
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
