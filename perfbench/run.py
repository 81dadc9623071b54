"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Starts one Spark session on
``local[<cpus>]`` (``$SPARK_GRAFT_CPUS``, else the CPUs this process
may use), generates the workload's inputs from ``--seed`` under
``.perfbench/`` in the checkout, warms up, measures for ``--seconds``,
checks every output, and prints two JSON lines: a full record
(provenance, setup parts, sample counts, failures) and, last, the
result line ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also traces a further pass (catalog) or block of entity-days
(EP1) and the metrics are the per-layer ones.  Exits 1 when a
correctness check failed, 2 on bad arguments or configuration, 3 when
the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_sf0.1", "ep1_daily_import")
PACKAGE = "xero_api_etl_utilities_spark"

# Gated metrics.  Wall-clock latency and throughput are in the record
# line: on a shared host, CPU steal by other machines moved same-code
# wall-time medians by more than the bound between runs, which CPU time
# per operation (less JIT compilation) is not exposed to.  It is a mean:
# the catalog's four queries differ in cost, and a median over them jumps
# between two of them.
E2E_UNITS = {"setup_s": "s", "cpu_s_per_op": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.build_share": "ratio", "plans.py4j_calls": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_s": "s",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s", "exec.busy_cores": "cores",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.spill_bytes": "B",
    "sources.read_s": "s", "sources.workbook_scan_stages": "count",
    "reconcile.fact_rows_read": "count", "reconcile.rows_examined_per_match": "ratio",
    "pipeline.import_s": "s", "pipeline.gate_rejections": "count",
    "sink.deliver_s": "s", "sink.posts": "count", "sink.docs_ok": "count",
    "sink.docs_skipped": "count", "sink.retries": "count", "sink.failed": "count",
    "sink.bytes": "B",
    "storage.persisted_rdds_delta": "count",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
}


def parse_cpus(raw: str | None) -> int:
    """Core count from ``$SPARK_GRAFT_CPUS``; a malformed value is an
    error before any work runs, never a silent fallback."""
    if raw is None or raw == "":
        return len(os.sched_getaffinity(0))
    if not raw.strip().isdigit() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def source_id() -> str:
    """The git commit when there is one, else a digest of the sources."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for base in (PACKAGE, "tools", "perfbench"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


def _descendants(pid: int) -> list[int]:
    from perfbench.probe import process_children

    kids, out, todo = process_children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _stop(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until every one of them has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    try:
        cpus = parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"))
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    missing = [p for p in (PACKAGE, "tools/check_oracle.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in this checkout (missing {missing})",
              file=sys.stderr)
        return 3

    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    sys.path.insert(0, ROOT)
    # Python workers import the package too (the workbook decode runs
    # in mapInPandas), so they need the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp

    from perfbench import stats, workloads
    from perfbench.probe import Probe, cpu_times
    from xero_api_etl_utilities_spark.session import get_spark

    steal0 = cpu_times()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.compress": "false",
            "spark.local.dir": os.path.join(work_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    session_s = time.perf_counter() - t0
    run = workloads.Run(spark, Probe(spark), work_dir, args.seed, args.seconds, bool(args.trace))
    run.setup["session_s"] = session_s
    try:
        if args.workload == "ep1_daily_import":
            workloads.run_ep1(run)
        else:
            workloads.run_catalog(run)
        run.sample_rss()
    finally:
        t1 = time.perf_counter()
        try:
            _stop(spark)
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work_dir))  # only when no other run uses it
            except OSError:
                pass
        run.notes["teardown_s"] = time.perf_counter() - t1
        run.notes["run_s"] = time.perf_counter() - t0

    steal1 = cpu_times()
    walls = [c.wall_s for c in run.ops]
    cpu = [c.cpu_s for c in run.ops]
    if args.trace:
        run.layers["session.start_s"] = session_s
        metrics = {k: {"value": float(run.layers[k]), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {
            "setup_s": sum(run.setup.values()),
            "cpu_s_per_op": sum(cpu) / len(cpu) if cpu else 0.0,
            "peak_rss_mb": run.peak_rss_mb,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    failed = len(run.failed_ops)
    attempted = max(run.attempted, failed, 1)
    tail = stats.tail_percentile(walls) if walls else None
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": source_id(), "cpus": cpus, "seconds": args.seconds,
        "samples": len(walls), "measure_s": run.measure_s,
        "op_p50_s": stats.median(walls) if walls else 0.0,
        "ops_per_min": 60.0 * len(walls) / sum(walls) if walls else 0.0,
        # a contended host shows here before it shows as a regression
        "cpu_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "op_walls_s": [round(w, 4) for w in walls],
        "op_cpu_s": [round(c, 2) for c in cpu],
        "setup": run.setup, "tail": tail and {"p": tail[0], "value_s": tail[1]},
        "peak_rss_parts_mb": run.peak_rss_parts,
        "failed_frac": failed / attempted,
        "failures": run.failures[:20], "notes": run.notes,
    }
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
