"""Graph + frequency-sketch analytics over the events stream
(SURVEY §2.12 X40–X42): triangle counting with degree-ordered
orientation, distributed sweep-line max-concurrency, and count-min
heavy hitters. No reference counterpart (src/queries.ts is a
bookkeeping ETL); these are the network/stream diagnostics a
training-data or product-analytics pipeline runs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32_sql
from xero_api_etl_utilities_spark.operators.graph import triangles
from xero_api_etl_utilities_spark.operators.materialize import (
    compute_width,
    materialize,
    session_memo,
)
from xero_api_etl_utilities_spark.operators.sketches import cms_build, cms_estimate
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence edges: user pairs sharing >= 3 distinct (day,
    event_type, hour) activity cells. The self-join is keyed on the
    CELL, so it is quadratic only within one cell's user list, linear
    in cells globally — and a 1000-user cell cap makes that bound a
    GUARANTEE, not an observation: cells with more users are dropped
    before the join (the LSH stop-bucket pattern — a viral cell shared
    by millions contributes co-presence evidence about nothing and
    would alone go quadratic at 100 TB). This corpus' largest cell is
    ~10 users, so the guard is semantics-free here and the SQL oracle
    need not model it; at a scale where cells trip it, mirror the
    HAVING filter into the oracle."""
    ev = load_table(spark, sf_dir, "events")
    # One explicit CELL-keyed exchange at compute width replaces the
    # distinct's own exchange.  Hash partitioning on (d, t, h) — a
    # subset of the dedup key — also
    # satisfies the clustering requirement of the cell census groupBy,
    # the small-cell semi-join AND the pair self-join downstream, so
    # the whole build runs wide off ONE exchange instead of running
    # its partial aggregates on the single-task events scan (A/B at
    # sf0.1: warm 2.0 → 1.2 s, cold 5.9 → 2.8 s).
    uc = compute_width(
        ev.select(
            "user_id",
            F.col("ts").cast("date").alias("d"),
            F.col("event_type").alias("t"),
            F.hour("ts").alias("h"),
        ),
        "d",
        "t",
        "h",
    ).dropDuplicates()
    small_cells = (
        uc.groupBy("d", "t", "h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= 1000)
        .select("d", "t", "h")
    )
    uc = uc.join(small_cells, ["d", "t", "h"], "left_semi")
    a = uc.select(
        F.col("user_id").alias("u1"), "d", "t", "h"
    )
    b = uc.select(F.col("user_id").alias("u2"), F.col("d").alias("d2"), F.col("t").alias("t2"), F.col("h").alias("h2"))
    return (
        a.join(
            b,
            (F.col("d") == F.col("d2"))
            & (F.col("t") == F.col("t2"))
            & (F.col("h") == F.col("h2"))
            & (F.col("u1") < F.col("u2")),
        )
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 3)
        .select("u1", "u2")
    )


# The co-occurrence edge list is the shared upstream of SIX graph
# queries (triangles, pagerank, k-core, LPA, BFS census, star-CC) —
# a fact-sized distinct + self-join that measured ~3 s warm at sf0.1
# PER REBUILD, so it is built once per session and the consumers pay
# marginal cost.
@session_memo("graph_edges")
def co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return materialize(_co_edges(spark, sf_dir))


def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by triangle participation in the co-occurrence
    graph. The triangle engine uses degree-ordered orientation
    (operators/graph.py:triangles — wedge fan-out capped at
    O(sqrt(|E|)) per vertex regardless of hub skew); the oracle runs
    the NAIVE unoriented three-way join, so the driver row proves the
    orientation rewrite loses / duplicates nothing."""
    tri = triangles(co_edges(spark, sf_dir))
    member = tri.select(F.explode(F.array("t1", "t2", "t3")).alias("user_id"))
    return (
        member.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("user_id"))
        .limit(20)
    )


register(
    "graph_triangle_counts",
    graph_triangle_counts,
    """
WITH uc AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) d, event_type t, hour(ts) h
  FROM events
),
edges AS (
  SELECT a.user_id u1, b.user_id u2
  FROM uc a JOIN uc b
    ON a.d = b.d AND a.t = b.t AND a.h = b.h AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
tri AS (
  SELECT e1.u1 t1, e1.u2 t2, e2.u2 t3
  FROM edges e1
  JOIN edges e2 ON e2.u1 = e1.u2
  JOIN edges e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
),
member AS (
  SELECT t1 AS user_id FROM tri
  UNION ALL SELECT t2 FROM tri
  UNION ALL SELECT t3 FROM tri
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM member
GROUP BY user_id
ORDER BY n_triangles DESC, user_id ASC
LIMIT 20
""",
)


def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-minute activity windows per day — the
    sweep-line (+1 at start, −1 at end) with its running sum computed
    the DISTRIBUTED way: a global ORDER BY prefix sum would drag every
    boundary to one partition, so the prefix is split into (a) a
    within-day running sum (day-partitioned window — each day's
    boundaries stay on one task, the natural parallel grain) plus
    (b) an exclusive cross-day offset from the per-day delta totals
    (a #days-row aggregate; ITS global window runs over that tiny
    frame only — same 25-row precedent as window_share_of_total).
    Boundary order is total: (ts, delta, event_id) with ends before
    starts at the same instant, i.e. half-open [ts, ts+30m)
    intervals. Every number is an integer; the oracle replays the
    identical two-level decomposition."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    starts = ev.select(
        F.col("ts").alias("bts"), F.lit(1).alias("delta"), "event_id"
    )
    ends = ev.select(
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("bts"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    b = starts.unionAll(ends).withColumn("day", F.col("bts").cast("date"))
    run_w = (
        Window.partitionBy("day")
        .orderBy("bts", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = b.withColumn("run", F.sum("delta").over(run_w))
    day_tot = b.groupBy("day").agg(F.sum("delta").alias("day_delta"))
    off_w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = day_tot.withColumn(
        "offset", F.sum("day_delta").over(off_w) - F.col("day_delta")
    ).select("day", "offset")
    # the day's peak must also consider the level CARRIED INTO the day
    # (offset alone): sessions opened yesterday and still all open at
    # 00:00 dominate until the first boundary of the day fires
    return (
        within.join(F.broadcast(offsets), "day")
        .groupBy("day")
        .agg(
            F.greatest(
                F.max(F.col("offset") + F.col("run")), F.min("offset")
            )
            .cast("bigint")
            .alias("max_concurrency")
        )
        .orderBy("day")
    )


register(
    "events_max_concurrency",
    events_max_concurrency,
    """
WITH b AS (
  SELECT ts AS bts, 1 AS delta, event_id FROM events
  UNION ALL
  SELECT ts + INTERVAL 30 MINUTE, -1, event_id FROM events
),
bb AS (SELECT *, CAST(bts AS DATE) AS day FROM b),
within AS (
  SELECT day, bts,
    SUM(delta) OVER (PARTITION BY day ORDER BY bts, delta, event_id
                     ROWS UNBOUNDED PRECEDING) AS run
  FROM bb
),
offsets AS (
  SELECT day,
    SUM(day_delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) - day_delta
      AS off
  FROM (SELECT day, SUM(delta) AS day_delta FROM bb GROUP BY day)
)
SELECT w.day,
  CAST(GREATEST(MAX(o.off + w.run), MIN(o.off)) AS BIGINT) AS max_concurrency
FROM within w JOIN offsets o ON w.day = o.day
GROUP BY w.day
ORDER BY w.day
""",
)


_CMS_D, _CMS_W = 4, 64


def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest users by count-min ESTIMATE, with the exact
    count beside it — the fixed-memory frequency sketch
    (operators/sketches.py) read back for a candidate set. At 100 TB
    the sketch build shuffles <= d·w counters per task however many
    distinct keys exist; the exact column here is the audit trail
    (est >= exact always; equality when no bucket collision). The
    oracle re-runs the identical md5-bucketed sketch in SQL, so the
    ESTIMATES are hash-verified, not just bounded."""
    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", d=_CMS_D, w=_CMS_W)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(exact, sketch, "user_id", d=_CMS_D, w=_CMS_W)
    return (
        exact.join(est, "user_id")
        .select("user_id", "est_count", "exact_count")
        .orderBy(F.desc("est_count"), F.asc("user_id"))
        .limit(10)
    )


def _cms_oracle() -> str:
    rows = ", ".join(str(i) for i in range(_CMS_D))
    hashed = h32_sql("i || ':' || CAST(user_id AS VARCHAR)")
    bucket = f"CAST({hashed} AS BIGINT) % {_CMS_W}"
    return f"""
WITH keyed AS (
  SELECT user_id, i, {bucket} AS b
  FROM events CROSS JOIN (SELECT UNNEST([{rows}]) AS i)
),
sketch AS (
  SELECT i, b, COUNT(*) AS c FROM keyed GROUP BY i, b
),
cand AS (
  SELECT DISTINCT user_id, i, b FROM keyed
),
est AS (
  SELECT cand.user_id, MIN(sketch.c) AS est_count
  FROM cand JOIN sketch ON sketch.i = cand.i AND sketch.b = cand.b
  GROUP BY cand.user_id
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
)
SELECT exact.user_id AS user_id, CAST(est_count AS BIGINT) AS est_count,
  CAST(exact_count AS BIGINT) AS exact_count
FROM exact JOIN est ON est.user_id = exact.user_id
ORDER BY est_count DESC, exact.user_id ASC
LIMIT 10
"""


register("events_heavy_hitters_cms", events_heavy_hitters_cms, _cms_oracle)


_PR_SCALE = 10**12
_PR_ITERS = 5


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by integer-exact PageRank over the same
    co-occurrence graph as the triangle query. Five rounds of the
    equi-join + groupBy-sum recurrence (operators/graph.py:
    pagerank_int) with per-round lineage truncation — the second
    iterative operator family (after connected components), and the
    proof that iterative float algorithms become hash-verifiable when
    integerized: the oracle replays all five rounds in DuckDB with
    identical integral division, so every rank digit matches."""
    from xero_api_etl_utilities_spark.operators.graph import pagerank_int

    ranks = pagerank_int(co_edges(spark, sf_dir))
    return (
        ranks.select(F.col("v").alias("user_id"), "rank")
        .orderBy(F.desc("rank"), F.asc("user_id"))
        .limit(20)
    )


def _pagerank_oracle() -> str:
    prev = "r0"
    rounds = []
    for i in range(1, _PR_ITERS + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT d.d AS v,
    (15 * ({_PR_SCALE} // (SELECT n FROM n))) // 100
      + 85 * SUM(r.rank // g.deg) // 100 AS rank
  FROM directed d JOIN {prev} r ON r.v = d.s JOIN deg g ON g.s = d.s
  GROUP BY d.d
)"""
        )
        prev = f"r{i}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH uc AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) dd, event_type t, hour(ts) h
  FROM events
),
edges AS (
  SELECT a.user_id u1, b.user_id u2
  FROM uc a JOIN uc b
    ON a.dd = b.dd AND a.t = b.t AND a.h = b.h AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
directed AS (
  SELECT u1 AS s, u2 AS d FROM edges
  UNION ALL SELECT u2, u1 FROM edges
),
deg AS (SELECT s, COUNT(*) AS deg FROM directed GROUP BY s),
n AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT s AS v, {_PR_SCALE} // (SELECT n FROM n) AS rank FROM deg),
{rounds_sql}
SELECT v AS user_id, CAST(rank AS BIGINT) AS rank
FROM {prev}
ORDER BY rank DESC, v ASC
LIMIT 20
"""


register("graph_pagerank", graph_pagerank, _pagerank_oracle)


_JS_D, _JS_W = 4, 512


def diag_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59: sketch-based join-size estimation — the planner pre-flight
    that predicts |A ⋈ B| BEFORE paying the shuffle. Classic
    AMS/count-min algebra: build a d×w counter sketch of each side's
    join key, estimate = min over rows of Σ_buckets cmsA·cmsB (the
    dot product upper-bounds the true size, tightest row wins;
    overestimate only, like the point estimate). Both sketches are
    bounded aggregates; the 'join' that produces the estimate touches
    2·d·w counters, never a data row. The exact size rides along
    (Σ per-key cntA·cntB) with the honesty boolean, and — because the
    buckets are the repo's md5 hashes — the DuckDB oracle replays the
    ESTIMATE itself digit-for-digit, not just the bound."""
    from xero_api_etl_utilities_spark.operators.sketches import cms_build

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    # Both the CMS build (posexplode ×d md5 buckets per row) and the
    # exact per-key counts ran on the single-task scans.  One key-keyed
    # exchange per side at compute width feeds BOTH branches — the
    # per-key groupBy reuses the hash partitioning (no second exchange)
    # and the sketch explode runs wide; every output is an integer
    # count, partitioning-independent.
    od = compute_width(od, "k")
    li = compute_width(li, "k")
    sa = cms_build(od, "k", d=_JS_D, w=_JS_W)
    sb = cms_build(li, "k", d=_JS_D, w=_JS_W)
    est = (
        sa.join(
            sb.withColumnRenamed("cms_count", "cnt_b"),
            ["cms_row", "cms_bucket"],
        )
        .groupBy("cms_row")
        .agg(F.sum(F.col("cms_count") * F.col("cnt_b")).alias("dot"))
        .agg(F.min("dot").cast("bigint").alias("est_join_size"))
    )
    ka = od.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
    kb = li.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
    exact = (
        ka.join(kb, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("exact_join_size"))
    )
    # One tall union of the two 1-row aggregates instead of two
    # sequential .collect() jobs + a driver-literal frame (no driver
    # round-trips on a query path; the two subtrees are independent
    # stages of ONE job, so they execute concurrently instead of
    # back-to-back).  Still no 1-row cross join (the NLJ
    # the audit bans) — the combine is a union + conditional max.
    tall = est.select(
        F.lit("e").alias("k"), F.col("est_join_size").alias("v")
    ).unionAll(
        exact.select(F.lit("x").alias("k"), F.col("exact_join_size").alias("v"))
    )
    return (
        tall.agg(
            F.max(F.when(F.col("k") == "x", F.col("v"))).alias("exact_join_size"),
            F.max(F.when(F.col("k") == "e", F.col("v"))).alias("est_join_size"),
        )
        .select(
            "exact_join_size",
            "est_join_size",
            (F.col("est_join_size") >= F.col("exact_join_size")).alias(
                "never_under"
            ),
            (F.col("est_join_size") * 100 <= 130 * F.col("exact_join_size")).alias(
                "within_30pct"
            ),
        )
    )


def _join_size_oracle() -> str:
    hashed = h32_sql("i || ':' || CAST(k AS VARCHAR)")
    bucket = f"CAST({hashed} AS BIGINT) % {_JS_W}"
    rows = ", ".join(str(i) for i in range(_JS_D))
    return f"""
WITH ka AS (SELECT o_orderkey AS k FROM orders),
kb AS (SELECT l_orderkey AS k FROM lineitem),
sa AS (
  SELECT i, {bucket} AS b, COUNT(*) AS c
  FROM ka CROSS JOIN (SELECT UNNEST([{rows}]) AS i) GROUP BY 1, 2
),
sb AS (
  SELECT i, {bucket} AS b, COUNT(*) AS c
  FROM kb CROSS JOIN (SELECT UNNEST([{rows}]) AS i) GROUP BY 1, 2
),
est AS (
  SELECT MIN(dot) AS e FROM (
    SELECT sa.i, SUM(sa.c * sb.c) AS dot
    FROM sa JOIN sb ON sa.i = sb.i AND sa.b = sb.b
    GROUP BY sa.i)
),
exact AS (
  SELECT SUM(ca * cb) AS x FROM
    (SELECT k, COUNT(*) AS ca FROM ka GROUP BY k) a
    JOIN (SELECT k, COUNT(*) AS cb FROM kb GROUP BY k) b USING (k)
)
SELECT CAST(x AS BIGINT) AS exact_join_size, CAST(e AS BIGINT) AS est_join_size,
  e >= x AS never_under, e * 100 <= 130 * x AS within_30pct
FROM est CROSS JOIN exact
"""


register("diag_join_size_estimate", diag_join_size_estimate, _join_size_oracle)


_KCORE_K = 10
_KCORE_ROUNDS = 12  # oracle unroll depth; true peel depth is 4 here


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63: the 10-core of the co-occurrence graph — each surviving
    user with their in-core degree. The Spark side peels to the
    FIXPOINT (operators/graph.py:kcore, convergence-checked); the
    oracle unrolls 12 peel rounds, which equals the fixpoint whenever
    true peel depth <= 12 (measured 4 on this corpus) — same
    fixed-unroll equivalence argument as graph_pagerank."""
    from xero_api_etl_utilities_spark.operators.graph import kcore

    core = kcore(co_edges(spark, sf_dir), k=_KCORE_K)
    return core.select(F.col("v").alias("user_id"), "core_degree").orderBy(
        F.desc("core_degree"), F.asc("user_id")
    )


def _kcore_oracle() -> str:
    rounds = []
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        # MATERIALIZED is load-bearing: each round references its
        # predecessor three times, and DuckDB's default CTE inlining
        # would expand the 12-round chain 3^12-fold (measured as a
        # too-many-open-files error from re-scanning the parquet).
        rounds.append(
            f"""k{i} AS MATERIALIZED (
  SELECT v FROM (
    SELECT v, COUNT(*) AS deg FROM (
      SELECT x AS v FROM {prev} UNION ALL SELECT y FROM {prev}) u
    GROUP BY v) d
  WHERE deg >= {_KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT x, y FROM {prev}
  WHERE x IN (SELECT v FROM k{i}) AND y IN (SELECT v FROM k{i})
)"""
        )
        prev = f"e{i}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH uc AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) dd, event_type t, hour(ts) h
  FROM events
),
e0 AS MATERIALIZED (
  SELECT a.user_id x, b.user_id y
  FROM uc a JOIN uc b
    ON a.dd = b.dd AND a.t = b.t AND a.h = b.h AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
{rounds_sql}
SELECT v AS user_id, CAST(deg AS BIGINT) AS core_degree FROM (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT x AS v FROM {prev} UNION ALL SELECT y FROM {prev}) u
  GROUP BY v) d
WHERE deg >= {_KCORE_K}
ORDER BY core_degree DESC, v ASC
"""


register("graph_kcore", graph_kcore, _kcore_oracle)


# --------------------------------------------------------------------------
# X82: label-propagation communities
# --------------------------------------------------------------------------

_LPA_ITERS = 4


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 communities (by size, ties to smallest label) from
    deterministic synchronous label propagation over the same
    co-occurrence graph as the triangle/pagerank/k-core family — the
    fourth iterative graph operator, and unlike connected components
    it is DENSITY-sensitive: a bridge edge joins two components but
    not two communities.  Four synchronous rounds of
    neighbor-majority labels with min-label tie-breaks
    (operators/graph.py:label_propagation); the oracle replays all
    four rounds in DuckDB, so every (community, size) digit is
    hash-verified, not just "looks clustered"."""
    from xero_api_etl_utilities_spark.operators.graph import label_propagation

    labels = label_propagation(co_edges(spark, sf_dir))
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(20)
    )


def _lpa_oracle() -> str:
    prev = "l0"
    rounds = []
    for i in range(1, _LPA_ITERS + 1):
        rounds.append(
            f"""l{i} AS MATERIALIZED (
  SELECT v, label FROM (
    SELECT d.d AS v, l.label,
      ROW_NUMBER() OVER (PARTITION BY d.d
                         ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM directed d JOIN {prev} l ON l.v = d.s
    GROUP BY d.d, l.label
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH uc AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) dd, event_type t, hour(ts) h
  FROM events
),
edges AS MATERIALIZED (
  SELECT a.user_id u1, b.user_id u2
  FROM uc a JOIN uc b
    ON a.dd = b.dd AND a.t = b.t AND a.h = b.h AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
directed AS (
  SELECT u1 AS s, u2 AS d FROM edges
  UNION ALL SELECT u2, u1 FROM edges
),
l0 AS (SELECT DISTINCT s AS v, s AS label FROM directed),
{rounds_sql}
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS size
FROM {prev}
GROUP BY label
ORDER BY size DESC, community ASC
LIMIT 20
"""


register("graph_label_propagation", graph_label_propagation, _lpa_oracle)


# --------------------------------------------------------------------------
# X92: BFS hop-depth census
# --------------------------------------------------------------------------

_BFS_DEPTH = 4


def graph_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the co-occurrence graph is within k hops of
    its best-connected user — the reachability probe (small-world
    check, blast-radius estimate) beside the other iterative graph
    operators.  Seed = the max-degree vertex, smallest id on ties (a
    1-row driver scalar, the pagerank vertex-count pattern); four BFS
    rounds of semi-join frontier expansion + anti-join visited
    filtering (operators/graph.py:bfs_depths); output is the
    per-depth vertex census plus one 'unreached' row (depth -1), so
    the rows sum to the vertex count.  The oracle replays seed
    selection and all four rounds in SQL."""
    from xero_api_etl_utilities_spark.operators.graph import bfs_depths

    edges = co_edges(spark, sf_dir)
    directed = edges.select(F.col("u1").alias("s")).unionAll(
        edges.select(F.col("u2").alias("s"))
    )
    deg = directed.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    seed_row = (
        deg.orderBy(F.desc("deg"), F.asc("s")).limit(1).collect()[0]
    )
    depths = bfs_depths(edges, int(seed_row["s"]))
    census = depths.groupBy("depth").agg(F.count(F.lit(1)).alias("n_vertices"))
    unreached = (
        deg.select(F.col("s").alias("v"))
        .join(depths.select("v"), "v", "left_anti")
        .agg(F.lit(-1).alias("depth"), F.count(F.lit(1)).alias("n_vertices"))
    )
    return census.unionAll(unreached).orderBy("depth")


def _bfs_oracle() -> str:
    prev_visited = "v0"
    rounds = []
    for k in range(1, _BFS_DEPTH + 1):
        rounds.append(
            f"""f{k} AS MATERIALIZED (
  SELECT DISTINCT d.d AS v FROM directed d
  WHERE d.s IN (SELECT v FROM {prev_visited} WHERE depth = {k - 1})
    AND d.d NOT IN (SELECT v FROM {prev_visited})
),
v{k} AS MATERIALIZED (
  SELECT v, depth FROM {prev_visited}
  UNION ALL SELECT v, {k} AS depth FROM f{k}
)"""
        )
        prev_visited = f"v{k}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH uc AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) dd, event_type t, hour(ts) h
  FROM events
),
edges AS MATERIALIZED (
  SELECT a.user_id u1, b.user_id u2
  FROM uc a JOIN uc b
    ON a.dd = b.dd AND a.t = b.t AND a.h = b.h AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
directed AS (
  SELECT u1 AS s, u2 AS d FROM edges
  UNION ALL SELECT u2, u1 FROM edges
),
deg AS (SELECT s, COUNT(*) AS deg FROM directed GROUP BY s),
seed AS (SELECT s FROM deg ORDER BY deg DESC, s ASC LIMIT 1),
v0 AS (SELECT s AS v, 0 AS depth FROM seed),
{rounds_sql}
SELECT CAST(depth AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_vertices
FROM {prev_visited} GROUP BY depth
UNION ALL
SELECT -1, CAST(COUNT(*) AS BIGINT)
FROM deg WHERE s NOT IN (SELECT v FROM {prev_visited})
ORDER BY depth
"""


register("graph_bfs_depth", graph_bfs_depth, _bfs_oracle)


# ---------------------------------------------------------------------------
# X103: connected components via Large-Star / Small-Star
# ---------------------------------------------------------------------------


def graph_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component census of the user co-occurrence graph,
    computed by the Large-Star / Small-Star alternation
    (operators/graph.py:cc_large_star_small_star — O(log n) rounds,
    the web-scale CC algorithm) instead of diameter-bound label
    propagation.  Output: (cluster_id = component-min user, size),
    the post-clustering report shape.  The oracle computes the same
    components by transitive-closure recursive CTE — a completely
    different algorithm, so agreement pins the star alternation's
    correctness, not its plan."""
    from xero_api_etl_utilities_spark.operators.graph import (
        cc_large_star_small_star,
    )

    labels = cc_large_star_small_star(co_edges(spark, sf_dir))
    return (
        labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("cluster_id").cast("bigint").alias("cluster_id"), "size")
        .orderBy("cluster_id")
    )


_CC_STAR_ORACLE = """
WITH RECURSIVE uc AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) dd, event_type t, hour(ts) h
  FROM events
),
pairs AS (
  SELECT a.user_id u1, b.user_id u2
  FROM uc a JOIN uc b
    ON a.dd = b.dd AND a.t = b.t AND a.h = b.h AND a.user_id < b.user_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
edges AS (
  SELECT u1 AS src, u2 AS dst FROM pairs
  UNION
  SELECT u2, u1 FROM pairs
),
reach AS (
  SELECT src AS doc, src AS lbl FROM edges
  UNION
  SELECT e.dst AS doc, r.lbl AS lbl
  FROM reach r JOIN edges e ON e.src = r.doc
  WHERE r.lbl < e.dst
),
labeled AS (
  SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
  CAST(COUNT(*) AS BIGINT) AS size
FROM labeled
GROUP BY cluster_id
ORDER BY cluster_id
"""

register("graph_cc_star", graph_cc_star, _CC_STAR_ORACLE)
