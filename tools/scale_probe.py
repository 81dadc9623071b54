"""10x-up scale probe for the heavy catalog family.

Derives a ~sf1-equivalent dataset in the git-ignored warehouse dir by
unioning the read-only sf0.1 tables FACTOR times with consistent key
offsets (``/root/testdata`` untouched), then runs the most expensive
catalog entries (BENCH_DETAIL.json order) against it and asserts the
plan SHAPES did not degrade relative to the same plans at sf0.1:

* no CartesianProduct and no new SinglePartition exchange at 10x;
* no broadcast join silently flipping into a sort-merge join
  (join-operator counts compared probe-vs-base per query);
* every entry completes, timed, into a commit-stamped journal
  (``SCALE_PROBE.jsonl``) — resumable: entries already journaled at
  the current commit are skipped.

Key-offset design: dimension tables (region, nation) stay single-copy
— a 10x corpus does not grow the nation list — while every fact/entity
key shifts by ``copy * (max_key + 1)`` consistently across FK pairs
(orders.o_orderkey == lineitem.l_orderkey, etc.).  Document text gets
a per-copy token suffix (copy k > 0 rewrites token t -> t<k>), making
copies DISSIMILAR: near-dup structure within a copy is preserved
exactly, no cross-copy near-dup cliques appear, so dedup work scales
linearly like a real corpus instead of quadratically like a
pathological 10-way duplicate stack.

Usage: python tools/scale_probe.py [--factor 10] [--top 20] [--rebuild]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.run import source_id  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
# plan-shape reference: structural, so the cheap sf suffices and avoids
# rebuilding the memoized substrates a third time at sf0.1
PLAN_REF_SF = "/root/testdata/sf0.01"
JOURNAL = os.path.join(REPO, "SCALE_PROBE.jsonl")

# (table, [key columns to offset]) — offsets shared across FK pairs
_KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_DIMS = ["region", "nation"]
_KEY_BASE = {  # key column -> (table, source column) giving the max
    "o_orderkey": ("orders", "o_orderkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "c_custkey": ("customer", "c_custkey"),
    "o_custkey": ("customer", "c_custkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "l_partkey": ("part", "p_partkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}


def build_probe_dir(spark, factor: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    offsets: dict[str, int] = {}
    for key, (tbl, col) in _KEY_BASE.items():
        if key not in offsets:
            mx = (
                spark.read.parquet(f"{BASE_SF}/{tbl}.parquet")
                .agg(F.max(col))
                .collect()[0][0]
            )
            offsets[key] = int(mx) + 1
    for tbl in _DIMS:
        spark.read.parquet(f"{BASE_SF}/{tbl}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{tbl}.parquet")
    for tbl, keys in _KEYED.items():
        base = spark.read.parquet(f"{BASE_SF}/{tbl}.parquet")
        parts = []
        for k in range(factor):
            df = base
            for key in keys:
                df = df.withColumn(key, F.col(key) + F.lit(k * offsets[key]))
            if tbl == "customer" and k > 0:
                # entity names derive from the key — regenerate from
                # the OFFSET key or every name appears `factor` times
                # and entity-resolution probes measure a pathological
                # duplicate-name universe (fuzzy_name_match went 24x
                # superlinear on the first probe build), not 10x data
                df = df.withColumn(
                    "c_name",
                    F.concat(
                        F.lit("Customer#"),
                        F.lpad(F.col("c_custkey").cast("string"), 9, "0"),
                    ),
                )
            if tbl == "supplier" and k > 0:
                df = df.withColumn(
                    "s_name",
                    F.concat(
                        F.lit("Supplier#"),
                        F.lpad(F.col("s_suppkey").cast("string"), 9, "0"),
                    ),
                )
            if tbl == "events" and k > 0:
                # co-occurrence buckets (date, type, hour) must stay
                # copy-disjoint like the user ids sharing them: with
                # shared timestamps every bucket held `factor`x the
                # users and the co-occurrence GRAPH grew quadratically
                # (graph_triangle_counts spilled the disk at 10x on
                # the first top-40 probe). An 8-year shift per copy
                # (the data spans 7) keeps within-copy temporal
                # structure exact and cross-copy buckets empty.
                df = df.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {k * 8} YEARS")
                )
            if tbl == "documents" and k > 0:
                # disjoint per-copy vocabulary: token t -> t<k>
                df = df.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda t: F.concat(t, F.lit(str(k))),
                        ),
                        " ",
                    ),
                ).withColumn("n_chars", F.length("text").cast("bigint"))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{tbl}.parquet")
        print(f"built {tbl} x{factor}", flush=True)


_JOIN_OPS = ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
             "BroadcastHashJoin", "ShuffledHashJoin", "SinglePartition")

# Joins whose BOTH sides grow with the data legitimately cross the
# broadcast threshold as the sf rises — SMJ/shuffled-hash is the
# CORRECT 100 TB strategy there, so the flip is expected, not a
# degradation. Each entry documents which operator may increase and by
# how much, and why.
_EXPECTED_FLIPS: dict[str, dict[str, int]] = {
    # the customer-grain quartile assembly join-backs (both sides =
    # one row per customer): broadcast at gate sf, SMJ at 10x+ — the
    # histogram/band join-backs inside rankdist stay broadcast and are
    # separately audited
    "orders_rfm_segments": {"SortMergeJoin": 2},
    "orders_rfm_migration": {"SortMergeJoin": 2},
}


def _plan_profile(plan: str) -> dict[str, int]:
    return {op: plan.count(op) for op in _JOIN_OPS}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument(
        "--limit", type=int, default=0,
        help="run at most N not-yet-journaled entries this invocation "
        "(0 = no limit); lets a wrapper loop recycle the JVM across a "
        "full-catalog sweep the way full_gate --batch does",
    )
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--dir", default=os.path.join(
        REPO, "spark-warehouse", "sf_probe_x10"))
    ap.add_argument(
        "names", nargs="*",
        help="optional subset (late registrations probed individually, "
        "the full_gate convention)",
    )
    args = ap.parse_args()

    from xero_api_etl_utilities_spark.session import get_spark

    spark = get_spark(
        app_name="scale-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    marker = os.path.join(args.dir, "_built")
    if args.rebuild or not os.path.exists(marker):
        t0 = time.perf_counter()
        build_probe_dir(spark, args.factor, args.dir)
        with open(marker, "w") as f:
            f.write(f"factor={args.factor} base={BASE_SF}\n")
        print(f"probe dir built in {time.perf_counter() - t0:.1f}s", flush=True)

    from explain_audit import formatted_plan
    from xero_api_etl_utilities_spark.operators.materialize import SESSION_MEMOS
    from xero_api_etl_utilities_spark.plans import catalog

    qs = catalog.queries()
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        detail = json.load(f)["queries"]
    bounded = set(catalog.bounded())
    ranked = [
        n for n, _ in sorted(detail.items(), key=lambda x: -x[1])
        if n not in bounded
    ]
    # catalog entries BENCH_DETAIL has never timed (new
    # registrations) still belong in a FULL-catalog probe — append
    # them after the ranked cost head so --top 9999 covers everything
    ranked += [n for n in qs if n not in detail and n not in bounded]
    skipped_bounded = sorted(n for n in qs if n in bounded)
    if skipped_bounded:
        print(f"bounded-sf exactness baselines skipped by design "
              f"({len(skipped_bounded)}): {', '.join(skipped_bounded)}",
              flush=True)
    targets = ranked[: args.top]

    # `<memo>_build` names run a session memo (operators.materialize)
    # eagerly and time it, so a memo build — the dedup store and vector
    # index publishes happen at plan-construction time — is journaled as
    # its own row and a consumer row's sec stays marginal cost.  The
    # signature memo feeds most dedup targets, so it is built first.
    def _memo_build(name):
        if name.endswith("_build"):
            return SESSION_MEMOS.builders.get(name[: -len("_build")])
        return None

    ordered = [n for n in ("dedup_sigs_build",) if n not in targets] + targets
    if args.names:
        wanted = set(args.names)
        # explicitly named memo builds are not catalog targets —
        # prepend them so they run (and are timed) before consumers
        named_builds = [n for n in args.names if _memo_build(n) and n not in ordered]
        ordered = named_builds + [n for n in ordered if n in wanted]

    done_at_commit = set()
    cur_commit = source_id()
    if os.path.exists(JOURNAL):
        with open(JOURNAL) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("commit") == cur_commit and rec.get("ok"):
                    done_at_commit.add(rec["name"])

    failures = 0
    ran = 0
    for name in ordered:
        if name in done_at_commit:
            print(f"skip {name} (journaled at {cur_commit})", flush=True)
            continue
        if args.limit and ran >= args.limit:
            remaining = sum(
                1 for n in ordered if n not in done_at_commit
            ) - ran
            print(f"--limit {args.limit} reached; {remaining} entries "
                  f"left for the next invocation", flush=True)
            break
        ran += 1
        rec = {"name": name, "commit": cur_commit, "factor": args.factor}
        build = _memo_build(name)
        try:
            if build is not None:
                t0 = time.perf_counter()
                build(spark, args.dir)
                rec.update(sec=round(time.perf_counter() - t0, 2), kind="build",
                           ok=True)
            else:
                base_plan = _plan_profile(formatted_plan(qs[name](spark, PLAN_REF_SF)))
                df = qs[name](spark, args.dir)
                probe_plan = _plan_profile(formatted_plan(df))
                t0 = time.perf_counter()
                n = df.count()
                sec = round(time.perf_counter() - t0, 2)
                allowed = _EXPECTED_FLIPS.get(name, {})
                degraded = {
                    op: (base_plan[op], probe_plan[op])
                    for op in ("CartesianProduct", "SortMergeJoin",
                               "SinglePartition")
                    if probe_plan[op] > base_plan[op] + allowed.get(op, 0)
                }
                rec.update(
                    sec=sec, rows=n, kind="query",
                    plan_base=base_plan, plan_probe=probe_plan,
                    degraded=degraded or None, ok=not degraded,
                )
                if degraded:
                    failures += 1
        except Exception as e:  # journal the failure, keep probing
            rec.update(ok=False, err=f"{type(e).__name__}: {e}"[:500])
            failures += 1
        with open(JOURNAL, "a") as f:
            f.write(json.dumps(rec) + "\n")
        status = "ok  " if rec.get("ok") else "FAIL"
        print(f"{status} {name}: {rec.get('sec', '?')}s "
              f"{rec.get('degraded') or ''} {rec.get('err', '')}", flush=True)

    print(f"\n{failures} probe failures over {len(ordered)} entries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
