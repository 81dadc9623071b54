"""The workloads.  Each takes a ``Run`` (session, probe, seed,
measuring time, trace flag) and fills in its setup times, its timed
operations, its correctness failures and, when traced, its per-layer
record.

An operation is one catalog query (its query function plus a noop-sink
write) or one EP1 entity-day (workbook read → daily import → REST
delivery).  Timed operations run in a closed loop, one at a time, until
the measuring time is spent; every pass over the catalog list is whole.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import datagen, ep1data, eventlog, stats
from perfbench.probe import Call, EventLog, Probe, tree_rss_mb
from tools.check_oracle import frame_digest

# A fixed warm-up, the same in every run, so timed passes start at the
# same point of the JVM's warm-up.  Passes still speed up by a few
# percent after it (see record.notes); waiting "until steady" instead made
# the number of warm-up passes, and with it setup_s, vary between runs.
CATALOG_WARM_PASSES = 2  # noop passes after the cold correctness pass
MIN_TIMED_OPS = 2  # a run times at least this many operations
DATA_REPEATS = 3  # data generation is repeated; its median is reported


# single-file tables, one scan task each: per-query fixed costs dominate
CATALOG_SF = 0.1
CATALOG_ENTRIES = (
    "scan_project_filter", "reconcile_unverified", "dim_join_enrich", "window_rank_topk",
)

EP1_WARM_DAYS = 1  # a clean day that pays the cold start
EP1_MAX_DAYS = 40  # one day in eight tampered
EP1_TRACE_DAYS = 4  # the traced block: exactly one tampered day
EP1_BASE_SEED = 0  # the orders behind the charge table; days come from --seed


@dataclass
class Run:
    spark: object
    probe: Probe
    work_dir: str
    seed: int
    seconds: float
    trace: bool
    setup: dict[str, float] = field(default_factory=dict)
    ops: list[Call] = field(default_factory=list)  # timed, untraced
    measure_s: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    failed_ops: set[str] = field(default_factory=set)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)
    peak_rss_mb: float = 0.0
    peak_rss_parts: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str, op: str | None = None) -> None:
        """Record a failed check; ``op`` names the operation it belongs
        to, so an operation failing two checks counts once."""
        self.failures.append(what)
        self.failed_ops.add(op or f"#{len(self.failures)}")

    def sample_rss(self) -> None:
        parts = tree_rss_mb()
        if sum(parts.values()) > self.peak_rss_mb:
            self.peak_rss_mb, self.peak_rss_parts = sum(parts.values()), parts


def _generate(run: Run, out_dir: str, gen) -> object:
    """Run ``gen(out_dir)`` DATA_REPEATS times; keep the last output and
    record the median time as ``setup['data_s']``."""
    times, out = [], None
    for _ in range(DATA_REPEATS):
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        out = gen(out_dir)
        times.append(time.perf_counter() - t0)
    run.setup["data_s"] = stats.median(times)
    return out


# ---------------------------------------------------------------- catalog


def _oracle_digests(data_dir: str, names, oracles) -> dict[str, object]:
    """DuckDB oracle digest of each entry (an Exception when it fails)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for n in names:
            try:
                out[n] = frame_digest(con.execute(oracles[n]).df())[0]
            except Exception as e:  # reported per entry as a failed check
                out[n] = e
        return out
    finally:
        con.close()


def run_catalog(run: Run) -> None:
    from xero_api_etl_utilities_spark.plans import catalog

    spark, probe = run.spark, run.probe
    data_dir = os.path.join(run.work_dir, "data")
    run.notes["rows"] = _generate(
        run, data_dir, lambda d: datagen.generate(d, CATALOG_SF, run.seed)
    )
    # data-dependent oracle SQL reads the same tables the queries read
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    queries, oracles = catalog.queries(), catalog.oracle_sql()
    entries = [(n, queries[n]) for n in CATALOG_ENTRIES]

    # correctness, untimed: every entry's value hash against its oracle;
    # this first, cold pass also starts the warm-up
    t0 = time.perf_counter()
    expected = _oracle_digests(data_dir, CATALOG_ENTRIES, oracles)
    for n, fn in entries:
        run.attempted += 1
        try:
            got = frame_digest(fn(spark, data_dir).toPandas())[0]
        except Exception as e:  # a query that raises fails its check
            run.fail(f"{n}: spark error {type(e).__name__}: {e}", f"check:{n}")
            continue
        if isinstance(expected[n], Exception):
            run.fail(f"{n}: oracle error {expected[n]}", f"check:{n}")
        elif got != expected[n]:
            run.fail(f"{n}: hash {got} != oracle {expected[n]}", f"check:{n}")
    run.notes["check_s"] = time.perf_counter() - t0

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def one_pass() -> list[Call]:
        calls = []
        for n, fn in entries:
            try:
                _, c = probe.call(n, lambda fn=fn: fn(spark, data_dir), noop)
            except Exception as e:  # counted, the pass goes on
                run.fail(f"{n}: {type(e).__name__}: {e}")
                continue
            calls.append(c)
        run.sample_rss()
        return calls

    warm: list[float] = []
    for _ in range(CATALOG_WARM_PASSES):
        p0 = time.perf_counter()
        calls = one_pass()
        warm.append(time.perf_counter() - p0)
    run.setup["warmup_s"] = sum(warm)
    run.notes["warmup_passes_s"] = warm
    work = {c.label: (c.jobs, c.stages) for c in calls}

    def guarded(calls: list[Call]) -> list[Call]:
        """Same-work guard: a call whose job or stage count differs from
        its warm-up count did different work and fails."""
        good = []
        for c in calls:
            run.attempted += 1
            if work.get(c.label) != (c.jobs, c.stages):
                run.fail(
                    f"{c.label}: jobs/stages {(c.jobs, c.stages)} != warm-up {work.get(c.label)}",
                    c.group,
                )
            else:
                good.append(c)
        run.attempted += len(entries) - len(calls)  # entries that raised
        return good

    t0, passes = time.perf_counter(), 0
    while not passes or time.perf_counter() - t0 < run.seconds:
        run.ops += guarded(one_pass())
        passes += 1
    run.measure_s = time.perf_counter() - t0

    if run.trace:
        traced = _traced(run, lambda: guarded(one_pass()))
        _catalog_layers(run, traced, len(entries))


def _traced(run: Run, body) -> tuple[list[Call], dict[str, eventlog.CallTrace]]:
    """Run ``body`` with the event log and py4j counting on."""
    log = EventLog(run.spark, os.path.join(run.work_dir, "eventlog"))
    run.probe.count_py4j(True)
    try:
        calls = body()
    finally:
        run.probe.count_py4j(False)
        log.close()
    return calls, eventlog.fold(eventlog.read_events(log.log_dir))


def _exec_layers(run: Run, calls: list[Call], folded, per: float) -> None:
    """Spark and executor layer metrics over ``calls``, divided by
    ``per`` (calls per unit of work)."""
    traces = [folded.get(c.group, eventlog.CallTrace()) for c in calls]
    wall = sum(c.wall_s for c in calls)
    run_s = sum(t.run_s for t in traces)
    sched = sum(max(c.wall_s - c.build_s - t.covered_s(), 0.0) for c, t in zip(calls, traces))
    k = len(calls) / per
    run.layers.update({
        "plans.build_s": sum(c.build_s for c in calls) / k,
        "plans.build_share": sum(c.build_s for c in calls) / wall,
        "plans.py4j_calls": sum(c.py4j_calls for c in calls) / k,
        "spark.jobs": sum(c.jobs for c in calls) / k,
        "spark.stages": sum(c.stages for c in calls) / k,
        "spark.tasks": sum(c.tasks for c in calls) / k,
        "spark.sched_s": sched / k,
        "exec.cpu_s": sum(t.cpu_s for t in traces) / k,
        "exec.run_s": run_s / k,
        "exec.gc_s": sum(t.gc_s for t in traces) / k,
        "exec.busy_cores": run_s / wall,
        "shuffle.write_bytes": sum(t.shuffle_write_bytes for t in traces) / k,
        "shuffle.read_bytes": sum(t.shuffle_read_bytes for t in traces) / k,
        "shuffle.spill_bytes": sum(t.spill_bytes for t in traces) / k,
    })


def _overhead(run: Run, untraced: list[float], traced: list[float]) -> None:
    u, t = stats.median(untraced), stats.median(traced)
    run.layers["trace.overhead_s"] = t - u
    run.layers["trace.overhead_share"] = (t - u) / u


def _catalog_layers(run: Run, traced, n_entries: int) -> None:
    calls, folded = traced
    _exec_layers(run, calls, folded, n_entries)  # unit: one pass
    run.layers.update({
        "sources.read_s": 0.0, "sources.workbook_scan_stages": 0.0,
        "reconcile.fact_rows_read": 0.0, "reconcile.rows_examined_per_match": 0.0,
        "pipeline.import_s": 0.0, "pipeline.gate_rejections": 0.0,
        "sink.deliver_s": 0.0, "sink.posts": 0.0, "sink.docs_ok": 0.0,
        "sink.docs_skipped": 0.0, "sink.retries": 0.0, "sink.failed": 0.0,
        "sink.bytes": 0.0, "storage.persisted_rdds_delta": 0.0,
    })
    _overhead(run, [c.wall_s for c in run.ops], [c.wall_s for c in calls])


# -------------------------------------------------------------------- EP1


@dataclass
class DayResult:
    call: Call | None  # None when the day raised before its call ended
    rejected: bool
    deliver_s: float
    import_s: float
    persisted_delta: int
    matched_rows: int
    sink: dict[str, int]


def run_ep1(run: Run) -> None:
    from xero_api_etl_utilities_spark.operators.quality import QualityGateError
    from xero_api_etl_utilities_spark.plans.pipeline import (
        EntityConfig,
        run_daily_import,
        validate_entity_config,
    )
    from xero_api_etl_utilities_spark.sources.excel_grid import read_workbook_grids
    from xero_api_etl_utilities_spark.sources.rest import HttpJsonTransport, post_documents

    from perfbench.sink import SinkServer

    spark, probe = run.spark, run.probe
    ep1_dir = os.path.join(run.work_dir, "ep1")

    def gen(out_dir: str):
        import numpy as np

        tables = datagen.draw_tables(
            np.random.default_rng(EP1_BASE_SEED), 0.1, only=("orders", "customer")
        )
        return ep1data.build(
            out_dir, tables["orders"], tables["customer"], run.seed,
            [(EP1_WARM_DAYS, 0), (EP1_MAX_DAYS, 8), (EP1_TRACE_DAYS, EP1_TRACE_DAYS)],
        )

    charge_path, customer_dim, days = _generate(run, ep1_dir, gen)
    run.notes["charge_rows_per_day"] = stats.median([len(d.charges) for d in days])
    cust_df = spark.createDataFrame(
        list(zip(*(c.to_pylist() for c in customer_dim.columns))),
        "customer_id string, xero_id string, terms_type string, terms_days int",
    )

    with SinkServer() as server:
        url = server.url

        def transport():
            return HttpJsonTransport(url, timeout=30.0)

        def one_day(i: int, day: ep1data.EntityDay) -> DayResult:
            cfg = validate_entity_config(EntityConfig(entity=day.entity, transport_root=url))
            before = probe.persisted_rdds()
            sink0 = server.stats.snapshot()
            marks: dict[str, float] = {}
            key = f"deliver:{i}"

            def body():
                grid = read_workbook_grids(spark, day.drop_dir)
                charges = spark.read.parquet(charge_path)
                t0 = time.perf_counter()
                out = run_daily_import(grid, charges, cust_df, cfg, strict=True)
                marks["import_s"] = time.perf_counter() - t0
                server.begin(key)
                t0 = time.perf_counter()
                post_documents(out["payloads"], transport)
                marks["deliver_s"] = time.perf_counter() - t0
                return out

            run.attempted += 1
            try:
                out, call = probe.call(f"{day.entity}-{day.date}", body)
            except QualityGateError:
                if not day.tampered:
                    run.fail(f"day {i}: gate rejected an untampered day", f"day{i}")
                return DayResult(None, True, 0.0, 0.0, probe.persisted_rdds() - before, 0, {})
            if day.tampered:
                run.fail(f"day {i}: tampered day passed the unverified gate", f"day{i}")
            delivered = server.round_statuses(key)
            if set(delivered.get("OK", [])) != day.expected_refs or delivered.get("SKIPPED"):
                run.fail(f"day {i}: delivered reference set differs from the expected set", f"day{i}")
            sink = {k: v - sink0[k] for k, v in server.stats.snapshot().items()}
            # redelivery (untimed): every document must come back SKIPPED
            server.begin(f"redeliver:{i}")
            probe.call("redeliver", lambda: post_documents(out["payloads"], transport))
            again = server.round_statuses(f"redeliver:{i}")
            if again.get("OK") or set(again.get("SKIPPED", [])) != day.expected_refs:
                run.fail(f"day {i}: redelivery was not 100% SKIPPED", f"day{i}")
            matched_rows = out["matched"].count() if run.trace else 0
            out["matched"].unpersist()  # the caller owns the reconcile cache
            return DayResult(call, False, marks["deliver_s"], marks["import_s"],
                             probe.persisted_rdds() - before, matched_rows, sink)

        warm = []
        t0 = time.perf_counter()
        for i in range(EP1_WARM_DAYS):
            r = one_day(i, days[i])
            warm.append(r.call.wall_s if r.call else 0.0)
        run.setup["warmup_s"] = time.perf_counter() - t0
        run.notes["warmup_days_s"] = warm
        work: dict[str, tuple[int, int]] = {}

        def measure(todo: range, budget: float) -> list[DayResult]:
            """Days from ``todo`` until ``budget`` seconds are spent."""
            out, t0 = [], time.perf_counter()
            for i in todo:
                timed = sum(r.call is not None for r in out)
                if timed >= MIN_TIMED_OPS and time.perf_counter() - t0 >= budget:
                    break
                r = one_day(i, days[i])
                run.sample_rss()
                if r.call is not None:
                    counts = (r.call.jobs, r.call.stages)
                    first = work.setdefault("accepted", counts)
                    if counts != first:  # same-work guard
                        run.fail(f"day {i}: jobs/stages {counts} != {first}", f"day{i}")
                        continue
                out.append(r)
            return out

        timed_days = range(EP1_WARM_DAYS, EP1_WARM_DAYS + EP1_MAX_DAYS)
        t0 = time.perf_counter()
        results = measure(timed_days, run.seconds)
        run.measure_s = time.perf_counter() - t0
        run.ops = [r.call for r in results if r.call is not None]
        run.notes["days"] = len(results)
        run.notes["rejected_days"] = sum(r.rejected for r in results)
        run.notes["persisted_rdds_delta"] = [r.persisted_delta for r in results]
        run.notes["import_s"] = [round(r.import_s, 4) for r in results if r.call]
        run.notes["deliver_s"] = [round(r.deliver_s, 4) for r in results if r.call]
        if not run.ops:
            run.fail("no entity-day was accepted in the measuring time")

        if run.trace:
            # a fixed block of days, exactly one of them tampered, so
            # the traced counts repeat exactly for a seed
            block = range(timed_days.stop, len(days))
            traced: list[DayResult] = []

            def body() -> list[Call]:
                traced.extend(measure(block, float("inf")))
                return [r.call for r in traced if r.call is not None]

            calls, folded = _traced(run, body)
            _ep1_layers(run, traced, calls, folded)


def _ep1_layers(run: Run, days: list[DayResult], calls: list[Call], folded) -> None:
    """Per accepted entity-day, over the traced block."""
    accepted = [d for d in days if not d.rejected]
    n = len(accepted)
    _exec_layers(run, calls, folded, 1.0)
    traces = [folded.get(c.group, eventlog.CallTrace()) for c in calls]

    def scope_sum(attr: str, word: str) -> float:
        return sum(v for t in traces for k, v in getattr(t, attr).items() if word in k)

    fact_rows = scope_sum("scope_records", "Scan parquet")
    matched = sum(d.matched_rows for d in accepted)
    sink = {k: sum(d.sink.get(k, 0) for d in accepted) for k in
            ("posts", "docs_ok", "docs_skipped", "retries", "failed", "bytes")}
    run.layers.update({
        "plans.build_s": 0.0,
        "plans.build_share": 0.0,
        "sources.read_s": scope_sum("scope_run_s", "Scan binaryFile") / n,
        "sources.workbook_scan_stages": sum(
            len(s) for t in traces for k, s in t.scope_stages.items() if "Scan binaryFile" in k
        ) / n,
        "reconcile.fact_rows_read": fact_rows / n,
        "reconcile.rows_examined_per_match": fact_rows / matched if matched else 0.0,
        "pipeline.import_s": stats.median([d.import_s for d in accepted]),
        "pipeline.gate_rejections": float(sum(d.rejected for d in days)),
        "sink.deliver_s": stats.median([d.deliver_s for d in accepted]),
        **{f"sink.{k}": v / n for k, v in sink.items()},
        "storage.persisted_rdds_delta": float(sum(d.persisted_delta for d in days)),
    })
    _overhead(run, [c.wall_s for c in run.ops], [c.wall_s for c in calls])
