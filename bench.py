"""Benchmark harness (driver contract: one JSON line on stdout).

Times every catalog query, in catalog order, at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is fully
materialized executor-side via the noop sink (no driver collect cost in
the measurement); the bounded baselines run at their own sf.  A shared
memo (``operators.materialize.session_memo``) is timed once, as its own
``<memo>_build`` entry before the query that first needs it, and that
query is timed at marginal cost.

The final stdout line is deliberately SHORT — an inline per-query map
overflows the driver's tail capture.  Per-query timings go to
BENCH_DETAIL.json next to this script; stdout gets only:

  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "sf": <float>, "n_queries": <int>, "detail": "BENCH_DETAIL.json"}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Exactness baselines benched at a BOUNDED sf: the guarded exact shapes
# that exist to pin correctness, not to race the scale paths —
# similarity_topk / similarity_topk_mips are the brute-force top-k
# baselines, similarity_truncation_recall runs four brute-force passes
# by construction, dedup_ngram_jaccard is the all-pairs Jaccard
# baseline, and dedup_prefix_filter_pairs is a prefix filter that is
# sub-quadratic on Zipfian corpora but near-dense on this synthetic
# 31-word vocabulary (every token's df ~ 0.78·n_docs).  They are timed
# every full run at the fixed sf below, separate from the headline sum,
# which stays a like-for-like series over $SPARK_GRAFT_SF_DIR.  The
# benched scale paths for the same semantics are
# similarity_topk_lsh/_ivf/_pandas, dedup_minhash_lsh, and
# text_tf_cosine_pairs.
# The bounded dir is the sibling sf0.01 of $SPARK_GRAFT_SF_DIR,
# overridable via $SPARK_GRAFT_BOUNDED_SF_DIR.
_BOUNDED_DIR = os.environ.get(
    "SPARK_GRAFT_BOUNDED_SF_DIR",
    os.path.join(
        os.path.dirname(
            os.environ.get(
                "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
            ).rstrip("/")
        ),
        "sf0.01",
    ),
)
BOUNDED_SF = {
    name: _BOUNDED_DIR
    for name in (
        "similarity_topk",
        "similarity_topk_mips",
        "similarity_truncation_recall",
        "dedup_ngram_jaccard",
        "dedup_prefix_filter_pairs",
    )
}

# Fresh Spark session every N timed entries: one long-lived local-mode
# JVM accumulates codegen caches, literal-heavy plans, broadcast-cleanup
# debt and GC rent, and every entry after the aging point pays it
# (fresh-session re-runs collapsed the worst entries 2-3x at the same
# commit).
RECYCLE_EVERY = 40


def timed_names(names) -> list[str]:
    """The entries timed at the run sf: ``names`` (catalog order for a
    full run) minus the bounded baselines."""
    return [n for n in names if n not in BOUNDED_SF]


def main() -> None:
    from perfbench.run import parse_cpus

    # a malformed core count must fail here, not after the whole run
    try:
        cpus = parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"))
    except ValueError as e:
        print(f"bench: {e}", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from xero_api_etl_utilities_spark.operators.materialize import SESSION_MEMOS
    from xero_api_etl_utilities_spark.plans import catalog
    from xero_api_etl_utilities_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = catalog.queries()

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm-up: JIT/codegen + file-listing caches, not measured
    materialize(qs["scan_project_filter"](spark, sf_dir))

    # Environment self-calibration: the host itself drifts (untouched
    # sub-second queries have run 2.3-3.8x slower between runs), so two
    # probes quantify the two drift axes and a per-query delta can be
    # normalized before it is called a regression:
    #   calib_jvm_sec   — pure whole-stage-codegen compute (sum of
    #                     id*id over range(2e8)): core throughput.
    #   calib_sched_sec — 20 one-row jobs: per-job fixed overhead
    #                     (scheduler + task launch), the term that
    #                     dominates trivial queries.
    def _calibrate() -> dict[str, float]:
        best_jvm = best_sched = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            # double sum: the long sum of id*id overflows under ANSI
            spark.range(200_000_000).selectExpr(
                "sum(cast(id * id as double))"
            ).collect()
            best_jvm = min(best_jvm, time.perf_counter() - t0)
            t0 = time.perf_counter()
            for _ in range(20):
                spark.range(1).count()
            best_sched = min(best_sched, time.perf_counter() - t0)
        return {
            "calib_jvm_sec": round(best_jvm, 3),
            "calib_sched_sec": round(best_sched, 3),
        }

    # Quiet-box gate: host contention is transient, so instead of
    # measuring through it, wait it out — re-calibrate every 90 s until
    # the sched probe reads quiet or the wait budget (~12 min) runs
    # out, then stamp every attempt into the artifact so a still-
    # degraded run self-flags with its full history.
    QUIET_SCHED_SEC = 2.5
    calib = _calibrate()
    attempts = [calib["calib_sched_sec"]]
    while calib["calib_sched_sec"] >= QUIET_SCHED_SEC and len(attempts) < 9:
        print(
            f"bench calibration degraded (calib_sched"
            f" {calib['calib_sched_sec']} >= {QUIET_SCHED_SEC}); waiting"
            f" 90s for the box to quiet (attempt {len(attempts)}/8)",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(90)
        calib = _calibrate()
        attempts.append(calib["calib_sched_sec"])
    calib["calib_attempts"] = attempts
    calib["quiet_box"] = calib["calib_sched_sec"] < QUIET_SCHED_SEC
    print(f"bench calibration: {calib}", file=sys.stderr, flush=True)

    # After every session recycle the memos built so far are rebuilt,
    # untimed, so no consumer pays a rebuild; the rebuild is harness
    # overhead recorded as rewarm_sec, never in the total.
    state = {"since": 0, "recycles": 0, "rewarm_sec": 0.0}

    def _maybe_recycle(rewarm: bool) -> None:
        nonlocal spark
        if state["since"] < RECYCLE_EVERY:
            return
        state["since"] = 0
        state["recycles"] += 1
        spark.stop()
        spark = get_spark(
            app_name="bench",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
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

    import statistics

    # optional argv subset: `python bench.py q1 q2` times just those
    # (iteration aid; BENCH_DETAIL.json is only rewritten on full runs)
    subset = [n for n in sys.argv[1:] if n in qs]

    def _run(name: str, run_dir: str) -> float:
        t0 = time.perf_counter()
        materialize(qs[name](spark, run_dir))
        return time.perf_counter() - t0

    def _stats(runs: list[float]) -> tuple[float, float]:
        """(median, best) of three runs — the median absorbs one
        CPU-steal stall per query in either direction; best is recorded
        alongside for comparison with best-of-2 records."""
        return round(statistics.median(runs), 3), round(min(runs), 3)

    timings: dict[str, float] = {}
    best: dict[str, float] = {}

    def _record(name: str, med: float, low: float) -> None:
        timings[name], best[name] = med, low
        print(f"bench {name}: {med}s", file=sys.stderr, flush=True)

    for name in timed_names(subset or qs):
        _maybe_recycle(rewarm=True)
        mark = len(SESSION_MEMOS.builds)
        runs = [_run(name, sf_dir)]
        # A first run that built shared memos is not this entry's cost:
        # each build becomes its own single-run `<memo>_build` entry,
        # placed before this one, and the entry is re-timed at marginal
        # cost.
        builds = SESSION_MEMOS.builds[mark:]
        for b in builds:
            secs = round(b.seconds, 3)
            _record(f"{b.name}_build", secs, secs)
        if builds:
            runs = []
        while len(runs) < 3:
            runs.append(_run(name, sf_dir))
        _record(name, *_stats(runs))
        state["since"] += 1

    # bounded-sf exactness baselines: every full run; subset runs only
    # when asked for by name.  No rewarm on recycle: these are the
    # self-contained brute-force exactness shapes with no memo deps.
    bounded: dict[str, float] = {}
    for name, bdir in BOUNDED_SF.items():
        if subset and name not in subset:
            continue
        _maybe_recycle(rewarm=False)
        bounded[name], _ = _stats([_run(name, bdir) for _ in range(3)])
        state["since"] += 1
        print(
            f"bench {name} (bounded {bdir}): {bounded[name]}s",
            file=sys.stderr,
            flush=True,
        )

    # cpus is stamped into every detail/history row, and full runs ALSO
    # write a per-core-count copy (BENCH_DETAIL_c<N>.json) so a later
    # run at a different core count cannot clobber the only per-query
    # record of this one.  BENCH_DETAIL.json stays the newest-run
    # artifact for driver compatibility.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_DETAIL.json" if not subset else "BENCH_SUBSET.json",
    )
    # stamp the code version so a detail file is always attributable
    # to the commit it measured
    try:
        import subprocess

        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except Exception:
        commit = ""

    detail_doc = {
        "sf": sf,
        "unit": "sec",
        "stat": "median_of_3",
        "cpus": cpus,
        "commit": commit,
        "calibration": calib,
        "recycle_every": RECYCLE_EVERY,
        "n_recycles": state["recycles"],
        "rewarm_sec": round(state["rewarm_sec"], 3),
        "queries": timings,
        "queries_best_of_3": best,
        "bounded_baselines": {
            "sf_dirs": BOUNDED_SF,
            "queries": bounded,
        },
    }
    with open(detail_path, "w") as f:
        json.dump(detail_doc, f, indent=1, sort_keys=True)
    if not subset:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                f"BENCH_DETAIL_c{cpus}.json",
            ),
            "w",
        ) as f:
            json.dump(detail_doc, f, indent=1, sort_keys=True)
    # append-only history: BENCH_DETAIL.json holds the NEWEST full run,
    # and every full run ALSO appends one commit-stamped line here, so a
    # later re-run can never erase a committed baseline — bench_compare
    # picks runs by commit from the journal.
    if not subset:
        history_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
        )
        with open(history_path, "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": round(time.time(), 1),
                        "commit": commit,
                        "sf": sf,
                        "cpus": cpus,
                        "stat": "median_of_3",
                        "headline_total": round(sum(timings.values()), 3),
                        "best_total": round(sum(best.values()), 3),
                        "calibration": calib,
                        "recycle_every": RECYCLE_EVERY,
                        "n_recycles": state["recycles"],
                        "rewarm_sec": round(state["rewarm_sec"], 3),
                        "queries": timings,
                        "queries_best_of_3": best,
                        "bounded_baselines": bounded,
                    },
                    sort_keys=True,
                )
                + "\n"
            )
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "n_bounded_baselines": len(bounded),
                "stat": "median_of_3",
                # like-for-like vs rounds measured under best-of-2
                "best_total": round(sum(best.values()), 3),
                "n_recycles": state["recycles"],
                "detail": os.path.basename(detail_path),
                **calib,
            }
        )
    )


if __name__ == "__main__":
    main()
