"""Round-11 wave (SURVEY §2.12 X158–X160): the three classic
correlated shapes the r10 verdict listed as still unproven, each to
the X151–X154 standard — the DuckDB oracle keeps the DELIBERATELY
CORRELATED nested-subquery form so the hash gate certifies the
decorrelated Spark plan bit-for-bit against naive subquery semantics.

* X158 ``corr_argmin_multiway`` — TPC-H Q2's correlated argmin with
  the full multi-way join REPEATED INSIDE the correlated subquery
  (the existing ``q2_min_cost_supplier`` oracle correlates over a
  pre-built CTE; this one makes the oracle re-join
  lineitem⋈supplier⋈nation⋈region per outer part row).  Decorrelated:
  one offers aggregate + a partkey-partitioned window MIN + an
  equality filter — single fact shuffle, no join-back scan.
* X159 ``corr_having_global_share`` — TPC-H Q11's HAVING-against-a-
  global-scalar-fraction, with the scalar subquery referenced TWICE
  in the oracle (once in the HAVING threshold, once in the SELECT
  share column).  Decorrelated: per-nation aggregate materialized
  once; the 1-row global total becomes a driver literal (the
  documented q11/quality-gate pattern); threshold and share are
  exact integer-cents cross-multiplication / rounded-div — no float
  division crosses an engine.
* X160 ``corr_notin_countdistinct`` — TPC-H Q16's NOT IN +
  COUNT DISTINCT on the customer axis: exclusion list built by a
  nested IN subquery (customers of a LIKE-matched nation set), outer
  count-distinct customers per (segment, priority).  NOT IN lowers to
  a broadcast LEFT ANTI join — exact here because the exclusion key
  is a primary key, provably null-free (the poisoned-NULL case is
  X152's contract).

No reference counterpart (src/queries.ts is a bookkeeping ETL); these
are engine-capability proofs in the catalog's TPC-H dialect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.flagship import _money, _out
from xero_api_etl_utilities_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# X158: correlated argmin with the multi-way join inside the subquery
# ---------------------------------------------------------------------------


def corr_argmin_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158: for each LARGE part in a size bucket, the ASIA supplier(s)
    whose cheapest offer matches the part's minimum offer cost across
    ALL of ASIA.  The oracle's correlated subquery repeats the whole
    lineitem⋈supplier⋈nation⋈region join per outer row; the Spark plan
    decorrelates it to one (partkey, suppkey)-grain aggregate plus a
    partkey-partitioned window MIN (never a second fact scan, never a
    join-back).

    100 TB shape: the supplier⋈nation⋈region eligibility dim and the
    filtered part dim broadcast; the only fact-sized shuffle is the
    offers groupBy (partitioned on the part key, so the window MIN
    re-partitions only the tiny offers frame).  Ties on the minimum
    survive (TPC-H semantics); output set is deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re_ = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    pa = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").isin(2, 12, 22, 32, 42)
    )
    offers = (
        li.join(F.broadcast(pa.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("l_partkey", "s_suppkey", "s_name", "n_name")
        .agg(F.min(_money(F.col("l_extendedprice"))).alias("cost"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        offers.withColumn("part_min", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("part_min"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "n_name",
            _out(F.col("cost")).alias("min_cost"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


register(
    "corr_argmin_multiway",
    corr_argmin_multiway,
    """
SELECT p_partkey, s_suppkey, s_name, n_name,
       CAST(ROUND(cost, 2) AS DOUBLE) AS min_cost
FROM (
  SELECT p.p_partkey, s.s_suppkey, s.s_name, n.n_name,
         MIN(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS cost
  FROM part p
  JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE p.p_type = 'LARGE' AND p.p_size IN (2, 12, 22, 32, 42)
    AND r.r_name = 'ASIA'
  GROUP BY 1, 2, 3, 4
) o
WHERE o.cost = (
  SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(12,2)))
  FROM lineitem l2
  JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
  JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
  WHERE r2.r_name = 'ASIA' AND l2.l_partkey = o.p_partkey)
ORDER BY p_partkey, s_suppkey
""",
)


# ---------------------------------------------------------------------------
# X159: group HAVING vs a global scalar fraction, scalar referenced twice
# ---------------------------------------------------------------------------


def corr_having_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X159: nations whose customers' total order value exceeds 4% of
    the GLOBAL total, with each survivor's share in rounded basis
    points.  The oracle references the scalar total subquery twice
    (HAVING threshold + SELECT share); the Spark plan computes the
    per-nation aggregate ONCE, re-aggregates the tiny 25-row frame for
    the total, and embeds it as a driver literal (the documented q11
    pattern — a join attach either nested-loops a conditionless 1-row
    build or constant-folds the key away).

    Exactness: all money moves as integer cents; the 4% threshold is
    ``rev * 25 > total`` and the share is the rounded integer division
    ``(20000*rev + total) div (2*total)`` — both engines truncate
    integer division toward zero and every operand is positive, so the
    hash certifies bit equality with no float division anywhere.
    (Bounded-sf note: 20000×total_cents stays far inside int64 at
    catalog scale; a 100 TB run lifts the multiply into decimal(38,0),
    same plan shape.)

    100 TB shape: one fact-sized shuffle (groupBy nation after two
    broadcast dim joins); everything after is a 25-row frame."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    cu = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    # 25-row frame feeding BOTH the scalar total and the output branch:
    # without materialization the fact aggregate re-executes per branch
    # (no ReusedExchange — the measured q11 result, PLANS.md).
    per_nation = materialize(per_nation)
    total = per_nation.agg(F.sum("rev_cents").alias("t")).collect()[0]["t"]
    return (
        per_nation.filter(F.col("rev_cents") * 25 > F.lit(total))
        .select(
            "n_name",
            "rev_cents",
            F.expr(
                f"CAST((20000 * rev_cents + {total}L) div (2 * {total}L) AS BIGINT)"
            ).alias("share_bp"),
        )
        .orderBy(F.desc("rev_cents"), "n_name")
    )


register(
    "corr_having_global_share",
    corr_having_global_share,
    """
WITH nv AS (
  SELECT n_name,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name
)
SELECT n_name, rev_cents,
  CAST((20000 * rev_cents + (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM nv))
       // (2 * (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM nv)) AS BIGINT)
    AS share_bp
FROM nv
WHERE rev_cents * 25 > (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM nv)
ORDER BY rev_cents DESC, n_name
""",
)


# ---------------------------------------------------------------------------
# X160: NOT IN (nested IN subquery) + COUNT DISTINCT after join
# ---------------------------------------------------------------------------


def corr_notin_countdistinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160: distinct 1996 customers per (market segment, order
    priority), excluding every customer of the NATION_1* nation block
    — the oracle nests an IN subquery inside a NOT IN.  Decorrelated:
    the exclusion list is customer ⋉ (LIKE-filtered nation), lowered
    to a broadcast LEFT ANTI join — exact because ``c_custkey`` is a
    primary key, provably null-free (the NULL-poisoned NOT IN contract
    is X152's).

    100 TB shape: the date filter pushes to the orders scan; customer
    attributes and the exclusion list broadcast; the one fact-sized
    shuffle is the count-distinct aggregate, whose (group, custkey)
    pairs collapse map-side first."""
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date").between("1996-01-01", "1996-12-31")
    )
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation").filter(F.col("n_name").like("NATION_1%"))
    excl = cu.join(
        F.broadcast(na), cu.c_nationkey == na.n_nationkey, "left_semi"
    ).select("c_custkey")
    return (
        od.join(
            F.broadcast(cu.select("c_custkey", "c_mktsegment")),
            od.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(excl.withColumnRenamed("c_custkey", "x_custkey")),
            F.col("o_custkey") == F.col("x_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.countDistinct("o_custkey").cast("bigint").alias("cust_cnt"))
        .orderBy("c_mktsegment", "o_orderpriority")
    )


register(
    "corr_notin_countdistinct",
    corr_notin_countdistinct,
    """
SELECT c_mktsegment, o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS cust_cnt
FROM orders
JOIN customer ON c_custkey = o_custkey
WHERE CAST(o_orderdate AS DATE)
        BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
  AND o_custkey NOT IN (
    SELECT c2.c_custkey FROM customer c2
    WHERE c2.c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_name LIKE 'NATION_1%'))
GROUP BY c_mktsegment, o_orderpriority
ORDER BY c_mktsegment, o_orderpriority
""",
)


# ---------------------------------------------------------------------------
# X162: embedding truncation-recall census (matryoshka-style)
# ---------------------------------------------------------------------------

_TRUNC_DIMS = (16, 32, 48, 64)


def similarity_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X162: how much nearest-neighbor fidelity survives truncating the
    embedding to its prefix dimensions — the acceptance census behind
    matryoshka-style dimension reduction (Kusupati et al. 2022: serve
    the first d' coordinates, keep most of the recall at a fraction of
    the memory/compute).  For each prefix width in ``_TRUNC_DIMS``:
    exact top-5 cosine neighbors under the truncated vectors vs the
    full-dimension ground truth, matched counts and recall in rounded
    basis points (d'=64 is the self-check row — 10000 bp by
    construction).

    Lowering: the exactness-baseline brute-force machinery
    (guard-caged — 20 query vectors, the similarity_topk convention),
    one run per width over the SAME sliced projection for query and
    corpus sides; membership compare is a (query, neighbor) semi-join
    per width; totals attach as the audited 1-row broadcast.  The
    production question this answers is sizing, so the census is
    bounded by design: at 100 TB the same comparison runs on a sampled
    query set against the IVF route, not brute force.

    Cross-engine exactness: cosine ties broken by neighbor id on both
    sides (the TOPK_EXACT_ORACLE convention); recall_bp is the exact
    rounded integer division (20000*m + t) div (2t)."""
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")

    def topk_at(d: int) -> DataFrame:
        tr = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        return sim.topk_bruteforce(tr.filter(F.col("vec_id") < 20), tr, k=5)

    full = topk_at(64).select("query_id", "neighbor_id")
    tagged = None
    for d in _TRUNC_DIMS:
        # d=64 is the self-check row: semi-joining full with itself is
        # the identity, so the fourth brute-force pass never runs
        trunc = full if d == 64 else topk_at(d).select(
            "query_id", "neighbor_id"
        )
        m = (
            full.join(
                F.broadcast(trunc),  # k*|queries| rows — always tiny
                ["query_id", "neighbor_id"],
                "left_semi",
            )
            .select(F.lit(d).cast("int").alias("dims"))
        )
        tagged = m if tagged is None else tagged.unionByName(m)
    total = full.agg(F.count(F.lit(1)).alias("total"))
    return (
        tagged.groupBy("dims")
        .agg(F.count(F.lit(1)).cast("bigint").alias("matched"))
        .crossJoin(F.broadcast(total))
        .select(
            "dims",
            "matched",
            F.col("total").cast("bigint").alias("total"),
            F.expr(
                "CAST((20000 * matched + total) div (2 * total) AS BIGINT)"
            ).alias("recall_bp"),
        )
        .orderBy("dims")
    )


def _truncation_recall_oracle() -> str:
    def ranked(d: int) -> str:
        return f"""
t{d} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding[1:{d}],
                                             c.embedding[1:{d}]) DESC,
                      c.vec_id ASC) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id < 20) q, embeddings c
    WHERE q.vec_id <> c.vec_id
  ) WHERE rank <= 5
)"""

    ctes = ",".join(ranked(d) for d in _TRUNC_DIMS)
    matched = "\nUNION ALL ".join(
        f"SELECT {d} AS dims, CAST(COUNT(*) AS BIGINT) AS matched"
        f" FROM t64 f JOIN t{d} t USING (query_id, neighbor_id)"
        for d in _TRUNC_DIMS
    )
    return f"""
WITH {ctes},
m AS ({matched}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM t64)
SELECT CAST(dims AS INT) AS dims, matched, total,
  CAST((20000 * matched + total) // (2 * total) AS BIGINT) AS recall_bp
FROM m, tot
ORDER BY dims
"""


register(
    "similarity_truncation_recall",
    similarity_truncation_recall,
    _truncation_recall_oracle,
    bounded=True,
)


# ---------------------------------------------------------------------------
# X163: temperature-scaled source mixing (census -> weights -> quotas -> pick)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1000  # docs in the mixed sample
_MIX_SCALE = 1000  # weight quantization: floor(sqrt(n) * _MIX_SCALE)


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X163: TEMPERATURE-SCALED mixture design — the standard recipe
    for flattening a skewed source distribution (sampling weight
    ∝ n_s^(1/T); T=2 here, i.e. ∝ sqrt(n_s)) before drawing a training
    mix, as in the Gopher/LLaMA data recipes.  Where
    ``sample_mixture_rebalance`` APPLIES given rates, this DERIVES
    them: per-source census → quantized temperature weight →
    exact-integer quota out of a fixed budget → deterministic
    hash-ranked pick, reported per source (census count, weight,
    quota, picked — picked == quota while the source can fill it).

    Exactness across engines: the only non-integer step is
    ``sqrt(n_s)``, a single correctly-rounded IEEE-754 op (identical
    in the JVM and DuckDB for the same BIGINT input — no sums or
    products of floats ever cross an engine); it is immediately
    quantized by ``floor(sqrt(n)*1000)`` into BIGINT, and everything
    after (total, quotas via ``div``, ranks) is exact integer
    arithmetic.  The pick is the repo's deterministic-hash convention:
    rank within source by (md5-derived h32(doc_id), doc_id), keep
    rank <= quota — rerun-stable, no RNG.

    100 TB shape: the census and the weight/quota table are
    source-cardinality (tiny, broadcast); the pick is ONE
    source-partitioned window over the corpus — no global sort, no
    single partition; the report aggregates the picked frame."""
    from xero_api_etl_utilities_spark.functions.crosshash import h32

    docs = load_table(spark, sf_dir, "documents")
    census = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    weights = census.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs")) * _MIX_SCALE)
        .cast("bigint")
        .alias("weight"),
    )
    total = weights.agg(F.sum("weight").alias("_tw"))
    # source-cardinality frame feeding BOTH the pick's quota join and
    # the final report: materialize once (the aggregate diamond rule —
    # Spark plans no ReusedExchange, so the lazy form would scan the
    # corpus census twice and attach the 1-row total twice)
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    quotas = materialize(
        weights.crossJoin(F.broadcast(total)).select(
            "source",
            "n_docs",
            "weight",
            F.expr(f"CAST(({_MIX_BUDGET} * weight) div _tw AS BIGINT)").alias(
                "quota"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        h32(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    picked = (
        docs.select("source", "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(quotas.select("source", "quota")), "source")
        .filter(F.col("_rk") <= F.col("quota"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("picked"))
    )
    return (
        quotas.join(F.broadcast(picked), "source", "left")
        .select(
            "source",
            "n_docs",
            "weight",
            "quota",
            F.coalesce(F.col("picked"), F.lit(0)).cast("bigint").alias(
                "picked"
            ),
        )
        .orderBy("source")
    )


register(
    "sample_temperature_mix",
    sample_temperature_mix,
    f"""
WITH census AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
weights AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * {_MIX_SCALE}) AS BIGINT) AS weight
  FROM census
),
quotas AS (
  SELECT source, n_docs, weight,
         CAST(({_MIX_BUDGET} * weight)
              // (SELECT SUM(weight) FROM weights) AS BIGINT) AS quota
  FROM weights
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS UBIGINT) ASC,
                    doc_id ASC) AS _rk
  FROM documents
),
picked AS (
  SELECT r.source, CAST(COUNT(*) AS BIGINT) AS picked
  FROM ranked r JOIN quotas q ON q.source = r.source
  WHERE r._rk <= q.quota
  GROUP BY r.source
)
SELECT q.source, q.n_docs, q.weight, q.quota,
       CAST(COALESCE(p.picked, 0) AS BIGINT) AS picked
FROM quotas q LEFT JOIN picked p ON p.source = q.source
ORDER BY q.source
""",
)
