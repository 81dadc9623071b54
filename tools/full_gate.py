"""Repeatable FULL-CATALOG oracle gate with resume.

An sf0.1 sweep by hand took four batches (one JVM died to a
/tmp cleaner mid-run and the partial results had to be stitched by
hand).  This tool makes the 10x-scale gate one command:

  python tools/full_gate.py --sf sf0.1 --resume
  python tools/full_gate.py --sf /root/testdata/sf0.01            # full rerun
  python tools/full_gate.py --sf sf0.1 --resume --batch 40

* every query result appends one line to FULL_GATE_<sf>.jsonl in the
  repo root (append-only journal, commit-stamped) the moment it
  finishes — a crash loses at most the in-flight query;
* --resume skips names whose LATEST journal line is ok at the CURRENT
  commit (a code change invalidates the skip);
* every --batch names (default 60) the SparkSession is torn down and
  rebuilt, bounding /tmp shuffle-dir growth and executor heap age over
  a 241-query sweep.

Comparison semantics are check_oracle's driver-faithful digest
(imported, not copied).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import TABLES, compare  # noqa: E402
from perfbench.probe import cpu_times  # noqa: E402
from perfbench.run import source_id  # noqa: E402


def _new_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("full-gate")
        .master("local[*]")
        # local-mode executors share the driver JVM; the stock 1g heap
        # OOM-killed a run when the rotation packed the whole
        # memoized dedup family (sigs+cands+pairs+containment local
        # checkpoints) into one 60-name session window
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g")
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.1", help="sf dir or sfN.N shorthand")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--batch", type=int, default=60)
    ap.add_argument(
        "--oracle-budget",
        type=float,
        default=120.0,
        help="seconds of DuckDB time per oracle before the gate flags"
        " it slow-oracle (an accidentally-quadratic"
        " oracle SQL should fail loudly at gate time, not silently"
        " stretch the sweep by an hour)",
    )
    ap.add_argument(
        "--allow-busy-box",
        action="store_true",
        help="skip the load-average guard (timings will NOT be usable"
        " as a perf record)",
    )
    ap.add_argument("names", nargs="*", help="optional subset")
    args = ap.parse_args()

    # Busy-box guard: one gate journal's sec values were inflated
    # 5-10x by a concurrent 32-thread diagnostic probe, making
    # spark_sec/oracle_sec unusable as a perf record.
    # The gate refuses to start timed rows on a box that is already
    # busy; contention from other machines on the host, which loadavg
    # does not see, is journaled per row as its CPU steal share.
    if not args.allow_busy_box:
        load1 = os.getloadavg()[0]
        ncpu = os.cpu_count() or 1
        if load1 > 0.25 * ncpu:
            print(
                f"REFUSING to start: 1-min loadavg {load1:.1f} >"
                f" {0.25 * ncpu:.1f} (25% of {ncpu} cpus) — the"
                " journal's sec values double as the perf record, so"
                " the gate must own the box.  Stop concurrent work or"
                " pass --allow-busy-box to run untimed-quality rows."
            )
            return 2

    sf_dir = args.sf if os.sep in args.sf else f"/root/testdata/{args.sf}"
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    journal_path = os.path.join(REPO, f"FULL_GATE_{sf_name}.jsonl")
    commit = source_id()

    done_ok: set[str] = set()
    if args.resume and os.path.exists(journal_path):
        latest: dict[str, dict] = {}
        with open(journal_path) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                    latest[rec["name"]] = rec
                except (json.JSONDecodeError, KeyError):
                    continue
        done_ok = {
            n
            for n, rec in latest.items()
            if rec.get("status") == "ok" and rec.get("commit") == commit
        }
        print(f"resume: {len(done_ok)} names already ok at {commit}")

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    todo = [
        n
        for n in qs
        if n not in done_ok and (not args.names or n in args.names)
    ]
    print(f"gate: {len(todo)} queries to run at {sf_dir} (commit {commit})")

    def _run_row(spark, name, retry=False) -> dict:
        steal0 = cpu_times()
        t0 = time.time()
        status, detail, n_rows = "ok", "", -1
        spark_sec = oracle_sec = 0.0
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
            spark_sec = round(time.time() - t0, 1)
            n_rows = len(spdf)
            if name not in oracles:
                status = "rows-only"
            else:
                t_orc = time.time()
                dpdf = con.execute(oracles[name]).df()
                oracle_sec = round(time.time() - t_orc, 1)
                problems = compare(spdf, dpdf)
                if problems:
                    status, detail = "fail", "; ".join(problems)
        except Exception as e:  # spark or duckdb error
            status, detail = "fail", f"{type(e).__name__}: {e}"
        sec = round(time.time() - t0, 1)
        steal1 = cpu_times()
        oracle_slow = oracle_sec > args.oracle_budget
        rec = {
            "name": name,
            "status": status,
            "detail": detail[:500],
            "rows": n_rows,
            "sec": sec,
            "spark_sec": spark_sec,
            "oracle_sec": oracle_sec,
            "oracle_slow": oracle_slow,
            # host contention over this row: the machine's CPU steal share
            "cpu_steal_share": round(
                (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4
            ),
            "sf": sf_name,
            "commit": commit,
            "ts": round(time.time(), 1),
        }
        if retry:
            rec["retry"] = True
        journal.write(json.dumps(rec, sort_keys=True) + "\n")
        journal.flush()
        print(
            f"{status:9s} {name}: {n_rows} rows ({sec}s ="
            f" {spark_sec}s spark + {oracle_sec}s oracle)"
            + ("  [retry]" if retry else "")
            + (
                f"  !! ORACLE OVER BUDGET ({args.oracle_budget}s)"
                if oracle_slow
                else ""
            ),
            flush=True,
        )
        return rec

    spark = _new_spark()
    journal = open(journal_path, "a")
    counts = {"ok": 0, "fail": 0, "rows-only": 0}
    over_budget: list[dict] = []
    since_restart = 0
    for name in todo:
        if since_restart >= args.batch:
            spark.stop()
            spark = _new_spark()
            since_restart = 0
        since_restart += 1
        rec = _run_row(spark, name)
        counts[rec["status"]] += 1
        if rec["oracle_slow"] or rec["sec"] > args.oracle_budget:
            over_budget.append(rec)

    # Auto-retry pass: one sweep's first batch ran 2-3x slow on host
    # contention and two rows breached the oracle budget until MANUAL
    # same-commit re-runs were journaled by hand.
    # Any row whose oracle (or whole row) ran over budget gets ONE
    # automatic re-run on a fresh session at sweep end, so the journal
    # is self-contained: a genuinely slow oracle stays flagged twice, a
    # contended-box outlier collapses, no hand-stitching either way.
    slow_oracles: list[tuple[str, float]] = []
    if over_budget:
        print(
            f"\n-- retry pass: {len(over_budget)} over-budget row(s),"
            " fresh session --",
            flush=True,
        )
        spark.stop()
        spark = _new_spark()
        for first in over_budget:
            rec = _run_row(spark, first["name"], retry=True)
            if rec["status"] != first["status"]:
                counts[first["status"]] -= 1
                counts[rec["status"]] += 1
            if rec["oracle_slow"]:
                slow_oracles.append((rec["name"], rec["oracle_sec"]))

    journal.close()
    spark.stop()
    total_ok = counts["ok"] + len(done_ok)
    print(
        f"\n{total_ok} ok ({len(done_ok)} resumed), "
        f"{counts['rows-only']} rows-only, {counts['fail']} failed"
        f" -> {journal_path}"
    )
    if slow_oracles:
        print(
            f"!! {len(slow_oracles)} oracle(s) over the"
            f" {args.oracle_budget}s budget — restructure the SQL"
            " (MATERIALIZED hints / single-reference CTEs) before the"
            " next gate:"
        )
        for n, s in sorted(slow_oracles, key=lambda t: -t[1]):
            print(f"   {n}: {s}s")
    return 1 if counts["fail"] else 0


if __name__ == "__main__":
    sys.exit(main())
