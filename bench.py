"""Benchmark harness (driver contract: one JSON line on stdout).

Times every catalog query, in catalog order, at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is fully
materialized executor-side via the noop sink (no driver collect cost in
the measurement), three times, through ``perfbench.probe.Probe.call``:
the median wall time is the entry's time, and the process-tree CPU and
Spark job/stage/task counts of that run go to the detail file.  The
exactness baselines (``register(..., bounded=True)``) run at the sf0.01
directory next to the run directory, apart from the headline.  A shared
memo (``operators.materialize.session_memo``) is timed once, as its own
``<memo>_build`` entry before the query that first needs it, and that
query is timed at marginal cost; the counts of its building first call
are kept as the entry's ``first_call``.  Host contention is recorded, not
waited out: ``cpu_steal_share`` is the machine's CPU steal over the
timed part of the run.

    python bench.py              # full catalog -> BENCH_DETAIL.json
    python bench.py <name> ...   # subset -> BENCH_SUBSET.json

The final stdout line is deliberately SHORT — an inline per-query map
overflows the driver's tail capture.  Per-query timings go to
BENCH_DETAIL.json next to this script; stdout gets only:

  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "sf": <float>, "n_queries": <int>, "detail": "BENCH_DETAIL.json", ...}

Exits 2, before Spark starts and writing nothing, on a malformed
$SPARK_GRAFT_CPUS or a name that is not in the catalog.  Compare two
commits with ``tools/ab.py``, not with these files.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Fresh Spark session every N timed entries: one long-lived local-mode
# JVM accumulates codegen caches, literal-heavy plans, broadcast-cleanup
# debt and GC rent, and every entry after the aging point pays it
# (fresh-session re-runs collapsed the worst entries 2-3x at the same
# commit).
RECYCLE_EVERY = 40


def timed_names(names) -> list[str]:
    """The entries timed at the run sf: ``names`` (catalog order for a
    full run) minus the bounded baselines."""
    from xero_api_etl_utilities_spark.plans import catalog

    bounded = set(catalog.bounded())
    return [n for n in names if n not in bounded]


def main() -> None:
    from perfbench.run import parse_cpus, source_id

    # a malformed core count must fail here, not after the whole run
    try:
        cpus = parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"))
    except ValueError as e:
        print(f"bench: {e}", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    bounded_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")

    from xero_api_etl_utilities_spark.plans import catalog

    qs = catalog.queries()
    # optional argv subset: `python bench.py q1 q2` times just those
    # (iteration aid; BENCH_DETAIL.json is only rewritten on full runs)
    subset = sys.argv[1:]
    unknown = [n for n in subset if n not in qs]
    if unknown:
        print(f"bench: not in the catalog: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)

    from perfbench.probe import Probe, cpu_times
    from xero_api_etl_utilities_spark.operators.materialize import SESSION_MEMOS
    from xero_api_etl_utilities_spark.session import get_spark

    def new_session():
        return get_spark(
            app_name="bench",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    spark = new_session()
    probe = Probe(spark)
    # warm-up: JIT/codegen + file-listing caches, not measured
    materialize(qs["scan_project_filter"](spark, sf_dir))
    steal0 = cpu_times()

    # After every session recycle the memos built so far are rebuilt,
    # untimed, so no consumer pays a rebuild; the rebuild is harness
    # overhead recorded as rewarm_sec, never in the total.
    state = {"since": 0, "recycles": 0, "rewarm_sec": 0.0}

    def _maybe_recycle(rewarm: bool) -> None:
        nonlocal spark, probe
        if state["since"] < RECYCLE_EVERY:
            return
        state["since"] = 0
        state["recycles"] += 1
        spark.stop()
        spark = new_session()
        probe = Probe(spark)
        t0 = time.perf_counter()
        # re-JIT the fresh JVM so the first timed entry after the
        # restart isn't charged for codegen warm-up
        materialize(qs["scan_project_filter"](spark, sf_dir))
        n_memos = len(SESSION_MEMOS.builds)
        if rewarm:
            SESSION_MEMOS.rewarm(spark)
        dt = time.perf_counter() - t0
        state["rewarm_sec"] += dt
        print(
            f"bench recycle #{state['recycles']}: fresh session, "
            f"{len(SESSION_MEMOS.builds) - n_memos} memos re-warmed"
            f" untimed in {dt:.1f}s",
            file=sys.stderr,
            flush=True,
        )

    def _run(name: str, run_dir: str):
        return probe.call(name, lambda: qs[name](spark, run_dir), materialize)[1]

    timings: dict[str, float] = {}
    best: dict[str, float] = {}
    entries: dict[str, dict] = {}

    def _counts(call) -> dict:
        return {
            "cpu_s": round(call.cpu_s, 3),
            "jobs": call.jobs,
            "stages": call.stages,
            "tasks": call.tasks,
        }

    def _record(name: str, calls: list, suffix: str = "") -> tuple[float, float]:
        """(median, best) wall time of the runs — the median absorbs one
        CPU-steal stall per query in either direction.  The CPU time and
        counts recorded are the median run's."""
        calls = sorted(calls, key=lambda c: c.wall_s)
        mid = calls[len(calls) // 2]
        entries[name] = _counts(mid)
        med = round(mid.wall_s, 3)
        print(f"bench {name}{suffix}: {med}s", file=sys.stderr, flush=True)
        return med, round(calls[0].wall_s, 3)

    for name in timed_names(subset or qs):
        _maybe_recycle(rewarm=True)
        mark = len(SESSION_MEMOS.builds)
        calls = [_run(name, sf_dir)]
        # A first run that built shared memos is not this entry's cost:
        # each build becomes its own single-run `<memo>_build` entry,
        # placed before this one, and the entry is re-timed at marginal
        # cost.  The building call's counts are kept as the entry's
        # `first_call`, so a change in build work shows in the record.
        builds = SESSION_MEMOS.builds[mark:]
        for b in builds:
            timings[f"{b.name}_build"] = best[f"{b.name}_build"] = round(b.seconds, 3)
            print(f"bench {b.name}_build: {round(b.seconds, 3)}s", file=sys.stderr, flush=True)
        first = None
        if builds:
            first, calls = calls[0], []
        while len(calls) < 3:
            calls.append(_run(name, sf_dir))
        timings[name], best[name] = _record(name, calls)
        if first is not None:
            entries[name]["first_call"] = _counts(first)
        state["since"] += 1

    # bounded-sf exactness baselines: every full run; subset runs only
    # when asked for by name.  No rewarm on recycle: these are the
    # self-contained brute-force exactness shapes with no memo deps.
    bounded: dict[str, float] = {}
    for name in catalog.bounded():
        if subset and name not in subset:
            continue
        _maybe_recycle(rewarm=False)
        runs = [_run(name, bounded_dir) for _ in range(3)]
        bounded[name], _ = _record(name, runs, f" (bounded {bounded_dir})")
        state["since"] += 1
    steal1 = cpu_times()

    headline = round(sum(timings.values()), 3)
    best_total = round(sum(best.values()), 3)
    steal_share = round((steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)
    # cpus and commit are stamped into every detail/history row, and full
    # runs ALSO write a per-core-count copy (BENCH_DETAIL_c<N>.json) so a
    # later run at a different core count cannot clobber the only
    # per-query record of this one.  BENCH_DETAIL.json stays the
    # newest-run artifact, the path the stdout line names.
    detail_name = "BENCH_SUBSET.json" if subset else "BENCH_DETAIL.json"
    detail_doc = {
        "sf": sf,
        "unit": "sec",
        "stat": "median_of_3",
        "cpus": cpus,
        "commit": source_id(),
        "cpu_steal_share": steal_share,
        "headline_total": headline,
        "best_total": best_total,
        "recycle_every": RECYCLE_EVERY,
        "n_recycles": state["recycles"],
        "rewarm_sec": round(state["rewarm_sec"], 3),
        "queries": timings,
        "queries_best_of_3": best,
        "entries": entries,
        "bounded_baselines": {"sf_dir": bounded_dir, "queries": bounded},
    }
    paths = [detail_name] if subset else [detail_name, f"BENCH_DETAIL_c{cpus}.json"]
    for p in paths:
        with open(os.path.join(HERE, p), "w") as f:
            json.dump(detail_doc, f, indent=1, sort_keys=True)
    # append-only history: BENCH_DETAIL.json holds the NEWEST full run,
    # and every full run ALSO appends its detail document, time-stamped,
    # here, so a later re-run can never erase a committed baseline.
    if not subset:
        with open(os.path.join(HERE, "BENCH_HISTORY.jsonl"), "a") as f:
            line = {"ts": round(time.time(), 1), **detail_doc}
            f.write(json.dumps(line, sort_keys=True) + "\n")
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": headline,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "n_bounded_baselines": len(bounded),
                "stat": "median_of_3",
                # like-for-like vs rounds measured under best-of-2
                "best_total": best_total,
                "n_recycles": state["recycles"],
                "detail": detail_name,
                "cpu_steal_share": steal_share,
            }
        )
    )


if __name__ == "__main__":
    main()
