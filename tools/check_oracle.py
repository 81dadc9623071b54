"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` on Spark and the
matching ``oracle_sql()`` on DuckDB over the same parquet tables, then
compares row count, sorted column names, and a value hash computed the
way the DRIVER computes it (verified against CORRECTNESS_r05.json):

* both frames go through pandas (``DataFrame.toPandas()`` on the Spark
  side, ``duckdb .df()`` on the oracle side) — so dtype drift such as
  DuckDB HUGEINT/DECIMAL(38,0) -> float64 ("9989.0") vs Spark BIGINT ->
  int64 ("9989") IS a failure here, exactly as it is there;
* rows are sorted on the RAW pandas values first — array/list cells
  raise ``TypeError: unhashable type`` in the sorter, reproducing the
  driver's "err" rows for queries that emit raw ARRAY columns;
* only then is each frame stringified (``astype(str)``) and hashed.

The previous revision of this tool canonicalized raw ``fetchall``
values, where ``Decimal('9989')`` and ``9989`` both print ``9989`` —
weaker than the driver on types, which let 14 rows the driver
failed pass locally.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def frame_digest(pdf) -> tuple[str, list[str]]:
    """Driver-faithful digest of a pandas frame.

    Column order: sorted by name. Row order: ``sort_values`` over the
    raw values (raises TypeError on unhashable cells — list/ndarray —
    just like the driver's sorter). Values: ``astype(str)`` per column,
    which is where int64 '9989' and float64 '9989.0' diverge.
    """
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    pdf = pdf.astype(str)
    lines = ["\x1f".join(row) for row in pdf.itertuples(index=False)]
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]
    return h, lines


def compare(spdf, dpdf) -> list[str]:
    """The gate's verdict on a Spark frame against its oracle frame
    (both pandas): row count, sorted column names, then the value hash.
    Returns the problems found; empty means equal."""
    problems = []
    if len(spdf) != len(dpdf):
        problems.append(f"rowcount spark={len(spdf)} duckdb={len(dpdf)}")
    if sorted(spdf.columns) != sorted(dpdf.columns):
        problems.append(
            f"cols spark={sorted(spdf.columns)} duckdb={sorted(dpdf.columns)}"
        )
    if problems:
        return problems
    try:
        sh, slines = frame_digest(spdf)
        dh, dlines = frame_digest(dpdf)
    except TypeError as e:
        return [f"DRIVER-ERR (unsortable cell): {e}"]
    if sh != dh:
        diff = [(a, b) for a, b in zip(slines, dlines) if a != b][:3]
        return [f"hash spark={sh} duckdb={dh}; first diffs: {diff}"]
    return []


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Data-dependent oracle generators (IVF centroid literals) must
    # read the same parquet this check runs against.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod

    # A PLAIN session, deliberately NOT the tuned get_spark(): the
    # driver runs queries() with its own default session (no pinned
    # timezone, default shuffle partitions), so the gate must pass
    # under those conditions.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("oracle-check")
        .master("local[*]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            rows_only += 1
            print(f"rows-only  {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = compare(spdf, dpdf)
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            passed += 1
            print(f"ok    {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")

    print(
        f"\n{passed} passed, {rows_only} rows-only, {len(failures)} failed"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
