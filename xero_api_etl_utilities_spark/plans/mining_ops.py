"""Pattern-mining + layout diagnostics wave (SURVEY §2.12 X77–X79).

No reference counterpart (``src/queries.ts`` is a bookkeeping ETL);
these are the itemset-mining / trend / placement diagnostics a
product-analytics or storage team runs over the same star schema:

* X77 ``events_daily_trend`` — per-type OLS slope of the daily event
  count, kept exact by publishing the cross-multiplied rational
  (numerator, denominator) instead of a float slope.
* X78 ``basket_brand_triples`` — Apriori frequent 3-itemsets with a
  RELATIVE minimum support, candidate triples generated from frequent
  pairs (the classic candidate-pruning shape).
* X79 ``layout_shard_moves`` — resharding-cost diagnosis: what
  fraction of keys move under mod-N reassignment vs a consistent-hash
  ring when the shard count grows 32 → 33.

Every hashed output value is an integer; every oracle replays the
same algorithm in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql, py_h32
from xero_api_etl_utilities_spark.operators.materialize import session_memo
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# ---------------------------------------------------------------------------
# X77: exact per-key OLS trend
# ---------------------------------------------------------------------------


def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: least-squares slope of the daily event count per event
    type, computed EXACTLY.  With x = epoch-day (integer) and
    y = daily count (integer), the OLS slope is the rational

        (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Both numerator and denominator are pure integer sums, and both are
    invariant under shifting x — so using the raw epoch-day avoids a
    second pass to find min(day), and the published values are still
    the canonical slope rational.  The float division never happens in
    either engine: consumers get (num, den) plus an integer sign
    verdict.  Shape: one day-grain aggregate (map-side combinable)
    then one 5-group aggregate — two tiny shuffles, no window, no
    collect.  At 100 TB the day-grain pre-aggregate is the same plan;
    epoch-day ≈ 2·10⁴ so Σx² per group stays < 2⁶³ until ~10¹² distinct
    days — never."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    x = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("long")
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(x * F.col("y")).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.signum(num).cast("int").alias("trend_sign"),
    ).orderBy("event_type")


register(
    "events_daily_trend",
    events_daily_trend,
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(day - DATE '1970-01-01' AS BIGINT)) AS sx,
    SUM(y) AS sy,
    SUM(CAST(day - DATE '1970-01-01' AS BIGINT) * y) AS sxy,
    SUM(CAST(day - DATE '1970-01-01' AS BIGINT)
        * CAST(day - DATE '1970-01-01' AS BIGINT)) AS sxx
  FROM daily GROUP BY 1
)
SELECT event_type, n AS n_days,
  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
  CAST(sign(n * sxy - sx * sy) AS INTEGER) AS trend_sign
FROM s ORDER BY event_type
""",
)


# ---------------------------------------------------------------------------
# X78: Apriori frequent triples
# ---------------------------------------------------------------------------


def basket_brand_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78: frequent brand 3-itemsets across order baskets, minimum
    support RELATIVE to the order count (max(5, n_orders // 200), the
    standard fractional-minsup formulation — an absolute constant
    either empties sf0.001 or never prunes sf0.1).

    Shape is the distributed Apriori step, not the naive cube:
    baskets self-join keyed on the ORDER (quadratic only within one
    basket, ≤ C(11,2) here), pair supports aggregated, candidate
    triples generated by joining frequent (a,b)×(a,c) pairs and
    Apriori-checked against the frequent-pair set on the (b,c) edge
    BEFORE any support counting, and only surviving candidates get
    their third-edge support counted via a broadcast semi-join back
    into the per-order pair stream.  On this dense 25-brand corpus
    the pair-level prune is semantics-free (every pair is frequent —
    the oracle therefore need not model it); on a realistically
    sparse catalog it is the difference between |frequent_pairs|²
    and |items|³ candidates.  minsup is a driver literal derived
    from one count (the q11 pattern: a 1-row scalar belongs in the
    plan as a literal, not as a nested-loop join)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    n_orders = load_table(spark, sf_dir, "orders").count()
    minsup = max(5, n_orders // 200)

    basket = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a, b2 = basket.alias("a"), basket.alias("b")
    pair_stream = a.join(
        b2, (F.col("a.o") == F.col("b.o")) & (F.col("a.b") < F.col("b.b"))
    ).select(F.col("a.o").alias("o"), F.col("a.b").alias("b1"), F.col("b.b").alias("b2"))
    freq_pairs = (
        pair_stream.groupBy("b1", "b2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= minsup)
        .select("b1", "b2")
    )
    # candidate C3: (a,b)+(a,c) with b<c, Apriori-pruned on edge (b,c)
    fp1, fp2 = freq_pairs.alias("p"), freq_pairs.alias("q")
    cand = (
        fp1.join(fp2, (F.col("p.b1") == F.col("q.b1")) & (F.col("p.b2") < F.col("q.b2")))
        .select(
            F.col("p.b1").alias("b1"),
            F.col("p.b2").alias("b2"),
            F.col("q.b2").alias("b3"),
        )
        .join(
            freq_pairs.select(
                F.col("b1").alias("b2"), F.col("b2").alias("b3")
            ),
            ["b2", "b3"],
            "left_semi",
        )
    )
    # support count: extend the per-order pair stream by the third
    # member (order-keyed equi-join again), keep candidates only.
    third = basket.select(F.col("o").alias("o3"), F.col("b").alias("b3"))
    tri_stream = (
        pair_stream.join(
            third, (F.col("o") == F.col("o3")) & (F.col("b2") < F.col("b3"))
        )
        .select("b1", "b2", "b3")
        .join(F.broadcast(cand), ["b1", "b2", "b3"], "left_semi")
    )
    return (
        tri_stream.groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= minsup)
        .orderBy(F.desc("support"), "b1", "b2", "b3")
    )


def _triples_oracle() -> str:
    return """
WITH basket AS MATERIALIZED (
  -- MATERIALIZED: DuckDB 1.0 inlines the CTE at every self-join
  -- reference, re-running (and at sf0.1 join-reordering into a ~229 s
  -- plan) the lineitem x part join per reference; materialized it is
  -- a sub-second per-order enumeration.
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
thr AS (SELECT GREATEST(5, COUNT(*) // 200) AS minsup FROM orders),
tri AS (
  SELECT a.b AS b1, b.b AS b2, c.b AS b3, CAST(COUNT(*) AS BIGINT) AS support
  FROM basket a
  JOIN basket b ON a.o = b.o AND a.b < b.b
  JOIN basket c ON a.o = c.o AND b.b < c.b
  GROUP BY 1, 2, 3
)
SELECT b1, b2, b3, support FROM tri, thr
WHERE support >= minsup
ORDER BY support DESC, b1, b2, b3
"""


register("basket_brand_triples", basket_brand_triples, _triples_oracle)


# ---------------------------------------------------------------------------
# X79: consistent-hash resharding diagnosis
# ---------------------------------------------------------------------------

_N_OLD, _N_NEW, _VNODES = 32, 33, 4


def _ring(n_shards: int) -> list[int]:
    """Sorted consistent-hash ring, each entry pos·64 + shard_id.

    Positions are h32 of a fixed vnode label, so the ring is a pure
    constant (132 longs for n=33) — small enough to live in the plan
    as an array literal on BOTH engines, unlike the IVF-PQ distance
    tables whose size forced them into broadcast rows (PLANS.md,
    "constants in rows, not plans" — the cliff is ~10⁴ literals,
    two orders of magnitude above this)."""
    entries = [
        py_h32(f"vn:{s}:{r}") * 64 + s
        for s in range(n_shards)
        for r in range(_VNODES)
    ]
    return sorted(entries)


def layout_shard_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: resharding cost, mod-N vs consistent hashing, 32 → 33
    shards over the customer key space.  For each key (position
    kp = h32('key:'||custkey)) the assigned shard is the successor
    vnode on the ring (smallest position ≥ kp, wrapping to the ring
    minimum); growing the ring only inserts the new shard's vnodes, so
    only keys whose successor is now one of those vnodes move —
    E[moved] = 1/(N+1) ≈ 300 bp — while mod-N reassignment moves
    E[moved] = N/(N+1) ≈ 9700 bp.  The query MEASURES both on real
    keys and publishes exact integer counts + bp fractions: the
    one-row verdict a storage team reads before picking a strategy.

    Successor lookup is branch-free array algebra over the encoded
    ring: min(e ≥ kp·64) else min(e), shard = e mod 64 — no UDF, no
    join; the ring rides in the plan as a literal.  One scan, one
    1-row aggregate; nothing here changes at 100 TB."""
    cust = load_table(spark, sf_dir, "customer")
    # kp MUST be materialized as a real column before it is used
    # inside the filter lambdas below: a lambda body is invisible to
    # Catalyst's subexpression elimination (the token_ngrams lesson),
    # so inlining the md5 expression here re-hashed every key once
    # PER RING ELEMENT — 264 md5/row, measured 3.4 s for this 15k-row
    # scan vs 0.6 s with the two-stage select (6×; the residue is
    # fixed session/scheduling cost, not per-row work).
    keyed = cust.select(
        h32(F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))).alias(
            "kp"
        )
    )
    kp = F.col("kp")

    def ring_shard(ring: list[int], kp_col):
        from xero_api_etl_utilities_spark.operators.litfold import lit_longs

        arr = lit_longs(ring)  # one array Literal, a true plan constant
        succ = F.coalesce(
            F.array_min(F.filter(arr, lambda e: e >= kp_col * 64)),
            F.array_min(arr),
        )
        return succ % 64

    assigned = keyed.select(
        (kp % _N_OLD != kp % _N_NEW).cast("int").alias("mod_moved"),
        (
            ring_shard(_ring(_N_OLD), kp) != ring_shard(_ring(_N_NEW), kp)
        ).cast("int").alias("ring_moved"),
    )
    # bp via INTEGER division on both engines: a double→long cast
    # truncates in Spark but rounds in DuckDB, so the float path would
    # hash-mismatch on any non-exact quotient.
    return assigned.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("mod_moved").alias("mod_moves"),
        F.sum("ring_moved").alias("ring_moves"),
    ).select(
        "n_keys",
        "mod_moves",
        "ring_moves",
        F.expr("10000 * mod_moves div n_keys").alias("mod_moves_bp"),
        F.expr("10000 * ring_moves div n_keys").alias("ring_moves_bp"),
    )


def _shard_moves_oracle() -> str:
    ring_old = _ring(_N_OLD)
    ring_new = _ring(_N_NEW)

    def lst(ring: list[int]) -> str:
        return "[" + ", ".join(str(e) for e in ring) + "]"

    kp = h32_sql("'key:' || CAST(c_custkey AS VARCHAR)")
    return f"""
WITH keyed AS (
  SELECT {kp} AS kp FROM customer
),
assigned AS (
  SELECT
    CASE WHEN kp % {_N_OLD} <> kp % {_N_NEW} THEN 1 ELSE 0 END AS mod_moved,
    CASE WHEN
      COALESCE(list_min(list_filter({lst(ring_old)}, e -> e >= kp * 64)),
               list_min({lst(ring_old)})) % 64
      <>
      COALESCE(list_min(list_filter({lst(ring_new)}, e -> e >= kp * 64)),
               list_min({lst(ring_new)})) % 64
    THEN 1 ELSE 0 END AS ring_moved
  FROM keyed
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(mod_moved) AS BIGINT) AS mod_moves,
  CAST(SUM(ring_moved) AS BIGINT) AS ring_moves,
  (10000 * CAST(SUM(mod_moved) AS BIGINT)) // COUNT(*) AS mod_moves_bp,
  (10000 * CAST(SUM(ring_moved) AS BIGINT)) // COUNT(*) AS ring_moves_bp
FROM assigned
"""


register("layout_shard_moves", layout_shard_moves, _shard_moves_oracle)


# ---------------------------------------------------------------------------
# X80: prefix-filtered exact set-similarity join (PPJoin-lite)
# ---------------------------------------------------------------------------

_PP_NUM, _PP_DEN = 2, 5  # Jaccard threshold t = 2/5


def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80: EXACT word-bigram Jaccard ≥ 2/5 pairs over the FULL corpus
    via prefix filtering (Chaudhuri/Bayardo/Xiao's PPJoin family) —
    the third leg of the set-similarity triad beside the quadratic
    baseline (dedup_ngram_jaccard, slice-caged) and the probabilistic
    scale path (dedup_minhash_lsh, ~0.998 recall).  Prefix filtering
    is exact-AND-sub-quadratic on Zipfian data: order every doc's
    shingles by ascending document frequency (rarest first, ties by
    shingle), keep only the first |x| − ⌈t·|x|⌉ + 1 as the PREFIX;
    J(x,y) ≥ t implies the prefixes intersect (pigeonhole: skipping
    ⌈t·|x|⌉ − 1 elements cannot clear a ≥ t/(1+t)·(|x|+|y|)-sized
    overlap), so the candidate join runs on prefix postings only,
    plus the length filter t·|y| ≤ |x| ≤ |y|/t.  Verification then
    counts full intersections for candidates alone.

    Honesty note (measured, sf0.01): this synthetic corpus draws
    ~50-word docs from a ~30-word vocabulary, so bigram postings are
    DENSE — 104k of 125k pairs share a shingle and the prefix+length
    filters cut candidates only to ~83k.  Real corpora are Zipfian
    (most shingles near-unique) and the same plan prunes >99%.  Like
    the other exact baselines, this query is therefore registered +
    oracled but NOT benched at sf0.1; the benched scale path for this
    corpus stays LSH.  Oracle = the straight quadratic form, so the
    driver row proves the filter chain loses nothing."""
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams, tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(token_ngrams(tokens(F.col("text")), 2))).alias(
            "sh"
        ),
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc")
    ordered = (
        sh.join(dfreq, "sh")
        .withColumn("sz", F.count(F.lit(1)).over(w_doc))
        .withColumn(
            "rn", F.row_number().over(w_doc.orderBy("df", "sh"))
        )
    )
    # prefix length |x| - ceil(t*|x|) + 1, ceil via integer arithmetic
    pref = ordered.filter(
        F.col("rn")
        <= F.col("sz") - F.expr(f"({_PP_NUM} * sz + {_PP_DEN} - 1) div {_PP_DEN}") + 1
    ).select("doc", "sh", "sz")
    pa = pref.select(
        F.col("doc").alias("doc_a"), "sh", F.col("sz").alias("sz_a")
    )
    pb = pref.select(
        F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")
    )
    cand = (
        pa.join(
            pb,
            (F.col("sh") == F.col("sh_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            # length filter: t·|y| ≤ |x| and t·|x| ≤ |y|
            & (F.col("sz_a") * _PP_DEN >= F.col("sz_b") * _PP_NUM)
            & (F.col("sz_b") * _PP_DEN >= F.col("sz_a") * _PP_NUM),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact verify on candidates only: intersection via posting join
    sh_a = sh.select(F.col("doc").alias("doc_a"), "sh")
    sh_b = sh.select(F.col("doc").alias("_doc_b2"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sh_a, "doc_a")
        .join(
            sh_b,
            (F.col("doc_b") == F.col("_doc_b2")) & (F.col("sh") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
        .withColumn("union_size", F.col("sz_a") + F.col("sz_b") - F.col("inter_size"))
        .filter(
            F.col("inter_size") * _PP_DEN >= F.col("union_size") * _PP_NUM
        )
        .select("doc_a", "doc_b", "inter_size", "union_size")
        .orderBy("doc_a", "doc_b")
    )


register(
    "dedup_prefix_filter_pairs",
    dedup_prefix_filter_pairs,
    f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
shingled AS (
  SELECT DISTINCT doc_id AS doc, t[i] || ' ' || t[i+1] AS sh
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM shingled GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(i AS BIGINT) AS inter_size,
  CAST(sa.sz + sb.sz - i AS BIGINT) AS union_size
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE i * {_PP_DEN} >= (sa.sz + sb.sz - i) * {_PP_NUM}
ORDER BY doc_a, doc_b
""",
    bounded=True,
)


# ---------------------------------------------------------------------------
# X81: sorted-neighborhood blocking (Hernández–Stolfo merge/purge)
# ---------------------------------------------------------------------------

_SNM_WINDOW, _SNM_MAXDIST = 5, 4


def fuzzy_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81: sorted-neighborhood entity blocking over part names — the
    classic merge/purge alternative to the SymSpell deletion-
    neighborhood join (fuzzy_name_match): sort the distinct names,
    compare each name only with its next ``w`` neighbors in sort
    order, verify with exact edit distance ≤ 4.  Unlike deletion
    neighborhoods (which explode combinatorially past distance ~2),
    SNM's cost is w·n at ANY distance threshold; the price is recall —
    measured on this corpus: 88 of the 244 quadratic-truth pairs at
    d ≤ 4 (36%; the window is the recall knob, pinned in
    tests/test_mining_ops.py).  The oracle replays the same algorithm,
    so the driver row proves the rank/window/verify chain exactly.

    Scale shape: names are deduped first (identical names otherwise
    fill the window and evict true near-misses — the documented SNM
    failure mode), and the global name rank is the band-decomposed
    rank (r9: band = the first two name characters, sub = the next
    two — string prefixes coarsen the lexicographic order exactly —
    so the sort parallelizes at ANY name cardinality; the old global
    row_number window serialized the distinct-name frame, which
    scales with the corpus).  The ±w neighborhood probe is the same
    rank equi-join."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
    )

    pt = load_table(spark, sf_dir, "part")
    names = (
        pt.select("p_name")
        .distinct()
        .withColumn("_band", F.substring(F.col("p_name"), 1, 2))
        .withColumn("_sub", F.substring(F.col("p_name"), 3, 2))
    )
    ranked = global_rank_decomposed2(
        names, "_band", "_sub", [F.asc("p_name")], rank_name="rn"
    ).drop("_band", "_sub")
    probes = ranked.select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.array(*[F.lit(d) for d in range(1, _SNM_WINDOW + 1)])
        ).alias("_d"),
        (F.col("rn") + F.col("_d")).alias("rn_b"),
    )
    pairs = probes.join(
        ranked.select(F.col("p_name").alias("name_b"), F.col("rn").alias("rn_b")),
        "rn_b",
    )
    return (
        pairs.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist").between(1, _SNM_MAXDIST))
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("name_a", "name_b")
    )


register(
    "fuzzy_sorted_neighborhood",
    fuzzy_sorted_neighborhood,
    f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
ranked AS (
  SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS rn FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM ranked a
JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_WINDOW}
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {_SNM_MAXDIST}
ORDER BY name_a, name_b
""",
)


# ---------------------------------------------------------------------------
# X94: LSH quality measured as a catalog query
# ---------------------------------------------------------------------------

# absolute cap on the ground-truth slice: the quadratic exact-Jaccard
# audit term is O(cap²) regardless of corpus size (r6; VERDICT r5
# stretch item 7). 1000 reproduces the r5 slice exactly at sf0.1
# (5000 docs, modulus 5) while staying fixed-size at any larger sf.
_LSH_Q_CAP = 1000


def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the production MinHash-LSH
    candidate generator against exact-Jaccard ground truth, AS A
    QUERY — "measure, don't guess" promoted from offline tooling
    (tools/lsh_sweep.py) into the hash-verified catalog, so the
    0.998-recall claim the dedup docstrings cite is re-proven by the
    driver every run that covers it.  Ground truth = the quadratic
    token-set Jaccard ≥ 0.7 pairs on a deterministic hash slice whose
    SIZE is capped (≤ ~_LSH_Q_CAP docs: modulus = ceil(n_docs / cap),
    slice = doc_id % modulus == 0) — a fixed 1-in-5 slice would keep
    the quadratic truth term PROPORTIONAL to the corpus (10k docs →
    5·10⁷ pairs at sf0.1, 9.2 s; unbounded at 100 TB), while the absolute
    cap keeps the audit O(cap²) at ANY sf.  The modulus is a 1-row
    driver scalar off a parquet count (the q11 / decay-anchor
    pattern); candidates = the SAME (16, 4) banding as
    dedup_minhash_lsh on the same slice.  The one-row verdict is
    assembled from ONE full-outer join of the two pair sets (truth /
    candidates each computed once) and conditional-summing —
    never a 1-row cross join (the NLJ the audit bans).  All counts
    and bp integers."""
    from xero_api_etl_utilities_spark.operators import dedup as dd

    full = load_table(spark, sf_dir, "documents")
    n_docs = full.count()  # parquet-metadata count, not a data scan
    modulus = max(1, -(-n_docs // _LSH_Q_CAP))
    docs = full.filter(F.col("doc_id") % modulus == 0)
    truth = dd.jaccard_pairs(docs, "doc_id", "text").select("doc_a", "doc_b")
    # slice signatures = the memoized full-corpus sketch filtered by
    # the same id predicate (per-doc pure function — identical to
    # recomputing on the slice, with zero re-shingling)
    from xero_api_etl_utilities_spark.plans.corpus_ops import minhash_sigs

    sigs = minhash_sigs(spark, sf_dir).filter(F.col("doc") % modulus == 0)
    cand = dd.minhash_lsh_candidates(
        sigs, bands=16, rows_per_band=4
    )
    # One full-outer join on the pair key instead of the tagged union
    # + left-semi probe (guide §2.4: Spark has no cross-branch CSE, so
    # the union form instantiated the quadratic truth subtree AND the
    # banding subtree TWICE each — once for its count leg, once inside
    # the tp semi-join).  Both frames are pair-distinct by construction
    # (jaccard_pairs ends in a (doc_a, doc_b) groupBy;
    # minhash_lsh_candidates ends in .distinct()), so the outer join
    # has exactly one row per pair in either set and the three sums
    # are the same integers the union produced.
    j = truth.withColumn("_t", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    return j.agg(
        F.sum(F.coalesce(F.col("_t"), F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce(F.col("_c"), F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            F.coalesce(F.col("_t"), F.lit(0)) * F.coalesce(F.col("_c"), F.lit(0))
        )
        .cast("long")
        .alias("true_positives"),
    ).select(
        "n_truth",
        "n_cand",
        "true_positives",
        F.expr("10000 * true_positives div n_truth").alias("recall_bp"),
        F.expr("10000 * true_positives div n_cand").alias("precision_bp"),
    )


def _lsh_quality_oracle() -> str:
    import duckdb

    from xero_api_etl_utilities_spark.plans.sketch_oracles import (
        minhash_cand_ctes,
    )

    # same capped slice as the query: modulus from the parquet the
    # driver's gate runs against (the IVF-centroid oracle pattern)
    sf_dir = oracle_sf_dir()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    modulus = max(1, -(-n_docs // _LSH_Q_CAP))

    return f"""
WITH sliced AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {modulus} = 0
),
{minhash_cand_ctes("sliced")},
ttoks AS (
  SELECT DISTINCT doc_id AS doc, t.sh AS sh
  FROM sliced, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(sh)
),
tsizes AS (SELECT doc, COUNT(*) AS sz FROM ttoks GROUP BY doc),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter_size
    FROM ttoks a JOIN ttoks b ON a.sh = b.sh AND a.doc < b.doc
    GROUP BY 1, 2
  ) i
  JOIN tsizes sa ON sa.doc = i.doc_a
  JOIN tsizes sb ON sb.doc = i.doc_b
  WHERE 10 * inter_size >= 7 * (sa.sz + sb.sz - inter_size)
),
tall AS (
  SELECT 'truth' AS k FROM truth
  UNION ALL SELECT 'cand' FROM cand
  UNION ALL SELECT 'tp' FROM truth t
    WHERE EXISTS (SELECT 1 FROM cand c
                  WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
)
SELECT
  CAST(SUM(CASE WHEN k = 'truth' THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
  CAST(SUM(CASE WHEN k = 'cand' THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
  CAST(SUM(CASE WHEN k = 'tp' THEN 1 ELSE 0 END) AS BIGINT) AS true_positives,
  CAST((10000 * SUM(CASE WHEN k = 'tp' THEN 1 ELSE 0 END))
    // SUM(CASE WHEN k = 'truth' THEN 1 ELSE 0 END) AS BIGINT) AS recall_bp,
  CAST((10000 * SUM(CASE WHEN k = 'tp' THEN 1 ELSE 0 END))
    // SUM(CASE WHEN k = 'cand' THEN 1 ELSE 0 END) AS BIGINT) AS precision_bp
FROM tall
"""


register("dedup_lsh_quality", dedup_lsh_quality, _lsh_quality_oracle)


# ---------------------------------------------------------------------------
# X95: ABC classification (cumulative-share inventory classes)
# ---------------------------------------------------------------------------


def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95: inventory ABC analysis — parts ranked by revenue, class A
    while the INCLUSIVE cumulative share is ≤ 80%, B to 95%, C rest,
    thresholds tested by integer cross-multiplication (cum·100 ≤
    total·80) so no share is ever a float.  (revenue DESC, partkey)
    is a total order so the running sum is engine-exact.

    100 TB shape (r9): the running sum was a global window over the
    part-grain aggregate — parts scale linearly with the corpus (20M
    at sf100), the same single-partition class as the customer-grain
    RFM windows killed this round.  Now the decomposed global prefix
    sum (rankdist.global_prefix_agg_decomposed2, the X71 descending
    orientation: band = cents >> 18 descending, sub = inverted middle
    cents bits); the 1-row total rides a broadcast cross join instead
    of a second global window.  Census output: class, n_parts, class
    revenue and exact-bp share of total."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_prefix_agg_decomposed2,
    )

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    total = per_part.agg(F.sum("cents").cast("bigint").alias("total"))
    banded = per_part.withColumn(
        "_band", F.shiftright(F.col("cents"), 18)
    ).withColumn(
        "_sub",
        F.lit(1023) - F.shiftright(F.col("cents"), 8).bitwiseAND(F.lit(1023)),
    )
    classed = global_prefix_agg_decomposed2(
        banded,
        "_band",
        "_sub",
        [F.desc("cents"), F.asc("l_partkey")],
        "cents",
        agg="sum",
        out_name="cum",
        inclusive=True,
        descending_bands=True,
    ).crossJoin(F.broadcast(total)).withColumn(
        "abc_class",
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("class_cents"),
            F.max("total").alias("_total"),
        )
        .select(
            "abc_class",
            "n_parts",
            "class_cents",
            F.expr("10000 * class_cents div _total").alias("share_bp"),
        )
        .orderBy("abc_class")
    )


register(
    "part_abc_classification",
    part_abc_classification,
    """
WITH per_part AS (
  SELECT l_partkey,
    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
),
classed AS (
  SELECT l_partkey, cents,
    SUM(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                     ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cents) OVER () AS total
  FROM per_part
)
SELECT
  CASE WHEN cum * 100 <= total * 80 THEN 'A'
       WHEN cum * 100 <= total * 95 THEN 'B'
       ELSE 'C' END AS abc_class,
  CAST(COUNT(*) AS BIGINT) AS n_parts,
  CAST(SUM(cents) AS BIGINT) AS class_cents,
  CAST((10000 * SUM(cents)) // MAX(total) AS BIGINT) AS share_bp
FROM classed
GROUP BY 1 ORDER BY abc_class
""",
)


# ---------------------------------------------------------------------------
# X93: RFM segmentation
# ---------------------------------------------------------------------------


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: the marketing-analytics classic — customers quartiled on
    Recency (days since last order, vs the corpus' newest order day),
    Frequency (order count) and Monetary (total cents), composed into
    a 3-digit segment code (r·100 + f·10 + m, quartiles 1..4) and
    published as the segment census.  NTILE over a tied metric splits
    ties by ROW ORDER — engine-dependent unless the ORDER BY is a
    total order — so every quartile ranks over (metric, custkey);
    with the tie-break the assignment is exact in any engine, no
    float quantile anywhere.

    100 TB shape (r9): the three quartiles were global NTILE windows —
    the customer frame (15M rows at sf100) would serialize onto ONE
    partition.  Each is now the band-decomposed rank
    (operators/rankdist.global_rank_decomposed2, the X109b lowering)
    + closed-form NTILE, bit-identical to the engine's NTILE over the
    same total order.  Bands are the metric itself for the massively
    tied small-domain metrics (recency days, order count — bounded
    distinct values regardless of frame size) and cents >> 18 for the
    near-unique monetary total; the sub level (custkey >> k sized to
    <2^10 from the collected max key, or middle cents bits) keeps
    every window partition bounded by the sub width, never the frame.
    The only SinglePartition exchange left is the 1-row customer-count
    merge feeding the closed-form NTILE."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
        ntile_closed_form,
    )

    od = load_table(spark, sf_dir, "orders")
    head = od.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("d"),
        F.max("o_custkey").alias("mk"),
    ).collect()[0]
    anchor, maxck = head["d"], int(head["mk"])
    kshift = max(0, maxck.bit_length() - 10)  # custkey >> kshift < 1024
    per_cust = od.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(anchor.isoformat()).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    total = per_cust.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    # materialize ONCE: the fused rank below reads this frame in three
    # union branches plus histograms — cheap cached re-reads instead
    # of re-aggregations of the fact table
    base = materialize(
        per_cust.crossJoin(F.broadcast(total)).withColumn(
            "_ck_sub", F.shiftright(F.col("o_custkey"), kshift)
        )
    )

    # r10 (the migration-query trick generalized): the three quartiles
    # were three independent rank pipelines over the same frame; a
    # metric TAG now rides a 3x union through ONE
    # group_cols=['_tag'] decomposed rank (one window exchange over 3N
    # customer-grain rows, one histogram family, two broadcast
    # join-backs) and a customer-grain pivot reassembles (r, f, m).
    # Recency quartile 4 = most recent, so its metric is NEGATED
    # recency (asc(-recency) == desc(recency), same custkey
    # tie-break); each tag's band stays a pure coarsening of its
    # (metric, custkey) order.
    variants = [
        (
            0,
            (-F.col("recency_days")).cast("long"),
            F.col("_ck_sub").cast("long"),
            (-F.col("recency_days")).cast("long"),
        ),
        (
            1,
            F.col("frequency").cast("long"),
            F.col("_ck_sub").cast("long"),
            F.col("frequency").cast("long"),
        ),
        (
            2,
            F.shiftright(F.col("monetary_cents"), 18),
            F.shiftright(F.col("monetary_cents"), 8).bitwiseAND(F.lit(1023)),
            F.col("monetary_cents"),
        ),
    ]
    tagged = None
    for tag, band, sub, metric in variants:
        v = base.select(
            "o_custkey",
            "_n",
            F.lit(tag).alias("_tag"),
            band.alias("_band"),
            sub.alias("_sub"),
            metric.alias("_metric"),
        )
        tagged = v if tagged is None else tagged.unionByName(v)
    ranked = global_rank_decomposed2(
        tagged,
        "_band",
        "_sub",
        [F.asc("_metric"), F.asc("o_custkey")],
        rank_name="_gr",
        group_cols=["_tag"],
    )
    quarts = ranked.select(
        "o_custkey",
        "_tag",
        ntile_closed_form(F.col("_gr"), F.col("_n"), 4).cast("int").alias("_q"),
    )
    pivot = quarts.groupBy("o_custkey").agg(
        F.max(F.when(F.col("_tag") == 0, F.col("_q"))).alias("_rq"),
        F.max(F.when(F.col("_tag") == 1, F.col("_q"))).alias("_fq"),
        F.max(F.when(F.col("_tag") == 2, F.col("_q"))).alias("_mq"),
    )
    seg = base.select("o_custkey", "monetary_cents").join(
        pivot, "o_custkey"
    ).select(
        "o_custkey",
        "monetary_cents",
        (F.col("_rq") * 100 + F.col("_fq") * 10 + F.col("_mq")).alias(
            "segment"
        ),
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("segment")
    )


register(
    "orders_rfm_segments",
    orders_rfm_segments,
    """
WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
per_cust AS (
  SELECT o_custkey,
    CAST((SELECT d FROM anchor) - MAX(CAST(o_orderdate AS DATE)) AS BIGINT)
      AS recency_days,
    CAST(COUNT(*) AS BIGINT) AS frequency,
    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
quartiled AS (
  SELECT o_custkey, monetary_cents,
    NTILE(4) OVER (ORDER BY recency_days DESC, o_custkey ASC) * 100
    + NTILE(4) OVER (ORDER BY frequency ASC, o_custkey ASC) * 10
    + NTILE(4) OVER (ORDER BY monetary_cents ASC, o_custkey ASC) AS segment
  FROM per_cust
)
SELECT CAST(segment AS INTEGER) AS segment,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM quartiled
GROUP BY segment ORDER BY segment
""",
)


# ---------------------------------------------------------------------------
# X91: interval coalescing (merge overlapping delivery windows)
# ---------------------------------------------------------------------------


def window_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91: per-supplier coalescing of overlapping delivery windows
    [ship_day, ship_day + qty) into maximal covered spans — the
    uptime/SLA primitive (coverage ≠ Σ interval lengths whenever
    intervals overlap; only the merged spans measure real coverage).
    Classic sweep as a window program: order intervals by (start,
    end) within each supplier, a span begins where start exceeds the
    running max end of all PRECEDING intervals (half-open, so
    touching intervals merge), span id = running sum of the boundary
    flags, then two aggregates roll spans up to supplier stats.
    Start-ties are provably order-insensitive here (a tied row's
    predecessor always covers its start), so no synthetic tie-break
    column is needed.  All epoch-day integers.

    Shape: one supplier-keyed exchange feeding both windows and the
    aggregates — 100-supplier partitions locally, the same per-key
    bounded sort at 100 TB."""
    from pyspark.sql import Window

    epoch = F.lit("1970-01-01").cast("date")
    iv = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("supp"),
        F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("s"),
        (
            F.datediff(F.col("l_shipdate").cast("date"), epoch)
            + F.col("l_quantity").cast("long")
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("supp")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("supp")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = iv.withColumn(
        "boundary",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-(1 << 40))),
            1,
        ).otherwise(0),
    ).withColumn("span_id", F.sum("boundary").over(w_run))
    spans = flagged.groupBy("supp", "span_id").agg(
        F.min("s").alias("span_s"),
        F.max("e").alias("span_e"),
        F.count(F.lit(1)).alias("n_iv"),
    )
    return (
        spans.groupBy("supp")
        .agg(
            F.sum("n_iv").alias("n_intervals"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("span_e") - F.col("span_s")).alias("covered_days"),
            F.max(F.col("span_e") - F.col("span_s")).alias("longest_span_days"),
        )
        .orderBy("supp")
    )


register(
    "window_interval_coalesce",
    window_interval_coalesce,
    """
WITH iv AS (
  SELECT l_suppkey AS supp,
    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      + CAST(l_quantity AS BIGINT) AS e
  FROM lineitem
),
flagged AS (
  SELECT supp, s, e,
    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY supp ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1099511627776)
         THEN 1 ELSE 0 END AS boundary
  FROM iv
),
numbered AS (
  SELECT supp, s, e,
    SUM(boundary) OVER (PARTITION BY supp ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flagged
),
spans AS (
  SELECT supp, span_id, MIN(s) AS span_s, MAX(e) AS span_e,
    CAST(COUNT(*) AS BIGINT) AS n_iv
  FROM numbered GROUP BY 1, 2
)
SELECT supp,
  CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(span_e - span_s) AS BIGINT) AS covered_days,
  MAX(span_e - span_s) AS longest_span_days
FROM spans GROUP BY supp ORDER BY supp
""",
)


# ---------------------------------------------------------------------------
# X89: clamped running balance (non-linear prefix fold)
# ---------------------------------------------------------------------------

_CLAMP_ENC = 1 << 40  # hits live above bit 40; |balance| << 2^40 by data bound


def events_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89: per-user credit-ledger balance with a floor at zero —
    bal_i = max(0, bal_{i-1} + flow_i) — the canonical NON-LINEAR
    prefix recurrence that no SQL window frame can express (a running
    sum distributes over the frame; a clamped one does not, each step
    depends on the clamped previous step).  Lowered as an in-row
    ``aggregate`` fold over the user's time-ordered flow array, with
    TWO counters packed into the single bigint accumulator (balance
    in the low 40 bits, clamp-hit count above — the fold API gives
    one slot, so the encoding buys a second at zero cost; flows are
    bounded at ~2·10⁷ cents per user, 13 bits of headroom under the
    split).  Flows: purchase/signup credit, view/click/error debit.

    Shape: one user-keyed aggregate (collect → sort → fold, all
    in-row after the exchange); per-user arrays are bounded by
    per-user activity (the doc_pack_chunks contract).  The oracle
    replays the identical fold via DuckDB ``list_reduce`` — same
    encoding, same greatest() — so final balances AND clamp counts
    are digit-exact."""
    ev = load_table(spark, sf_dir, "events")
    signed = F.when(
        F.col("event_type").isin("purchase", "signup"),
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(-F.round(F.col("value") * 100).cast("long"))
    enc = _CLAMP_ENC
    fold = F.expr(
        f"""aggregate(
  transform(sort_array(collect_list(struct(ts, event_id, c))), s -> s.c),
  cast(0 as bigint),
  (a, x) -> greatest(a % {enc} + x, cast(0 as bigint))
            + (a div {enc}
               + (case when a % {enc} + x < 0 then 1 else 0 end)) * {enc})"""
    )
    return (
        ev.select("user_id", "ts", "event_id", signed.alias("c"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            fold.alias("_acc"),
        )
        .select(
            "user_id",
            "n_flows",
            (F.col("_acc") % enc).alias("balance_cents"),
            (F.col("_acc") / enc).cast("long").alias("clamp_hits"),
        )
        .orderBy("user_id")
    )


register(
    "events_clamped_balance",
    events_clamped_balance,
    f"""
WITH flows AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type IN ('purchase', 'signup')
         THEN CAST(round(value * 100) AS BIGINT)
         ELSE -CAST(round(value * 100) AS BIGINT) END AS c
  FROM events
),
folded AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_flows,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT), list(c ORDER BY ts, event_id)),
      (a, x) -> greatest(a % {_CLAMP_ENC} + x, CAST(0 AS BIGINT))
                + (a // {_CLAMP_ENC}
                   + CASE WHEN a % {_CLAMP_ENC} + x < 0 THEN 1 ELSE 0 END)
                  * {_CLAMP_ENC}) AS acc
  FROM flows GROUP BY user_id
)
SELECT user_id, n_flows,
  acc % {_CLAMP_ENC} AS balance_cents,
  acc // {_CLAMP_ENC} AS clamp_hits
FROM folded ORDER BY user_id
""",
)


# ---------------------------------------------------------------------------
# X90: session bounce rate
# ---------------------------------------------------------------------------


def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90: daily bounce rate — share of sessions (30-min gap rule,
    the events_sessionization convention via operators/events.py)
    containing exactly one event, keyed by the session's start day.
    The product metric composed from the existing sessionize operator:
    one user-keyed window, one session roll-up, one day-grain
    aggregate; bounce_bp integer-exact."""
    from xero_api_etl_utilities_spark.operators.events import session_stats

    ev = load_table(spark, sf_dir, "events")
    sess = session_stats(ev)
    return (
        sess.groupBy(F.col("session_start").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr("10000 * n_bounces div n_sessions").alias("bounce_bp"),
        )
        .orderBy("day")
    )


register(
    "events_bounce_rate",
    events_bounce_rate,
    """
WITH ordered AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 1800 SECOND
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_seq,
    ts
  FROM ordered
),
rolled AS (
  SELECT user_id, session_seq, MIN(ts) AS session_start,
    COUNT(*) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT CAST(session_start AS DATE) AS day,
  CAST(COUNT(*) AS BIGINT) AS n_sessions,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
  CAST((10000 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)) // COUNT(*)
    AS BIGINT) AS bounce_bp
FROM rolled
GROUP BY 1 ORDER BY day
""",
)


# ---------------------------------------------------------------------------
# X87: MAD-based robust outliers (Hampel rule, integer-exact)
# ---------------------------------------------------------------------------


def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87: robust outlier census per event type via median absolute
    deviation — the Hampel identifier, the robust complement to the
    winsorized aggregate (mean/stddev rules break when the outliers
    themselves inflate the baseline; the 50%-breakdown median does
    not).  All integer: values are cents, the median is the LOW
    median (rank ⌈n/2⌉ — no interpolation, so the statistic stays a
    corpus value), and the Hampel test |x − med| > 3·1.4826·MAD is
    cross-multiplied to 10000·|x − med| > 44478·MAD so the consistency
    constant never becomes a float in the hashed result.

    Shape: two ranked passes over the fact (rank for the value
    median, rank again for the deviation median) + one broadcast
    join of the 5-row median frame — the honest exact-MAD cost; at
    100 TB swap both medians to ``approx_percentile`` and the plan
    collapses to two map-combinable aggregates (the profile_orders
    precedent, one-line swap)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )

    def low_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type")
        ranked = df.withColumn(
            "_rn", F.row_number().over(w.orderBy(col))
        ).withColumn("_n", F.count(F.lit(1)).over(w))
        return (
            ranked.filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = low_median(ev, "cents", "median_cents")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("cents") - F.col("median_cents"))
    )
    mad = low_median(dev.select("event_type", "absdev"), "absdev", "mad_cents")
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_out",
        (F.col("absdev") * 10000 > F.col("mad_cents") * 44478).cast("long"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("median_cents").alias("median_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum("is_out").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "median_cents",
            "mad_cents",
            "n_outliers",
            F.expr("10000 * n_outliers div n").alias("outlier_bp"),
        )
        .orderBy("event_type")
    )


register(
    "agg_mad_outliers",
    agg_mad_outliers,
    """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
rank1 AS (
  SELECT event_type, cents,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
med AS (
  SELECT event_type, cents AS median_cents FROM rank1 WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT e.event_type, e.cents, m.median_cents,
    abs(e.cents - m.median_cents) AS absdev
  FROM ev e JOIN med m ON m.event_type = e.event_type
),
rank2 AS (
  SELECT event_type, absdev,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY absdev) AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, absdev AS mad_cents FROM rank2 WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  MAX(d.median_cents) AS median_cents,
  MAX(a.mad_cents) AS mad_cents,
  CAST(SUM(CASE WHEN d.absdev * 10000 > a.mad_cents * 44478
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  CAST((10000 * SUM(CASE WHEN d.absdev * 10000 > a.mad_cents * 44478
               THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS outlier_bp
FROM dev d JOIN mad a ON a.event_type = d.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
)


# ---------------------------------------------------------------------------
# X88: recency-decayed scores via integer half-life shifts
# ---------------------------------------------------------------------------


def events_decayed_type_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88: recency-weighted popularity per event type with an
    EXPONENTIAL half-life decay that never touches a float: weight =
    2^(20 − age_weeks) (one-week half-life, anchored at the corpus'
    newest day) computed as a bigint bitshift, 0 past 20 weeks.
    exp(-λt) with integral λ·t ln2-multiples IS a shift — the whole
    decay curve stays hash-exact, where the usual double pow() form
    is libm-dependent.  The anchor day is a 1-row driver scalar (the
    q11 pattern).  Shape: one scan projection + one 5-group
    aggregate; nothing changes at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("d")).collect()[0]["d"]
    aw = f"(datediff(date '{anchor.isoformat()}', cast(ts as date)) div 7)"
    # python-side F.shiftleft takes a literal bit count; the SQL form
    # accepts a column, so the whole weight stays one expression
    weight = F.expr(
        f"case when {aw} <= 20"
        f" then shiftleft(cast(1 as bigint), cast(20 - {aw} as int))"
        f" else cast(0 as bigint) end"
    )
    return (
        ev.select("event_type", weight.alias("w"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w").alias("decayed_score"),
        )
        .orderBy("event_type")
    )


def _decayed_oracle() -> str:
    return """
WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN (a.d - CAST(ts AS DATE)) // 7 <= 20
       THEN CAST(1 AS BIGINT) << CAST(20 - (a.d - CAST(ts AS DATE)) // 7 AS INTEGER)
       ELSE 0 END) AS BIGINT) AS decayed_score
FROM events, anchor a
GROUP BY event_type
ORDER BY event_type
"""


register("events_decayed_type_scores", events_decayed_type_scores, _decayed_oracle)


# ---------------------------------------------------------------------------
# X85: association rules (support / confidence / lift, integer-exact)
# ---------------------------------------------------------------------------


def basket_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85: directed association rules a→b over order baskets with the
    full classic metric triple — support, confidence, lift — kept
    integer-exact in basis points (lift_bp = 10000·N·sup(ab) div
    (sup(a)·sup(b)); >10000 means positive association).  Same
    relative minsup as the triples query.  Shape: the order-keyed
    basket self-join for pair supports (quadratic only within one
    basket), two broadcast joins against the 25-row per-brand support
    dim, no window.  Directed rules are emitted for both directions
    (confidence is asymmetric)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    n_orders = load_table(spark, sf_dir, "orders").count()
    minsup = max(5, n_orders // 200)
    basket = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    a, b2 = basket.alias("a"), basket.alias("b")
    sup2 = (
        a.join(b2, (F.col("a.o") == F.col("b.o")) & (F.col("a.b") != F.col("b.b")))
        .groupBy(
            F.col("a.b").alias("antecedent"), F.col("b.b").alias("consequent")
        )
        .agg(F.count(F.lit(1)).alias("sup_ab"))
        .filter(F.col("sup_ab") >= minsup)
    )
    sup1 = basket.groupBy("b").agg(F.count(F.lit(1)).alias("s"))
    return (
        sup2.join(
            F.broadcast(sup1.select(F.col("b").alias("antecedent"), F.col("s").alias("sup_a"))),
            "antecedent",
        )
        .join(
            F.broadcast(sup1.select(F.col("b").alias("consequent"), F.col("s").alias("sup_b"))),
            "consequent",
        )
        .select(
            "antecedent",
            "consequent",
            "sup_ab",
            F.expr("10000L * sup_ab div " + str(n_orders)).alias("support_bp"),
            F.expr("10000L * sup_ab div sup_a").alias("confidence_bp"),
            # long literals: 10000 * n_orders as INT literals overflowed
            # int32 under ANSI at the 10x probe scale (n_orders 1.5M)
            # before ever touching the long sup_ab column
            F.expr(f"10000L * {n_orders}L * sup_ab div (sup_a * sup_b)").alias(
                "lift_bp"
            ),
        )
        .orderBy(F.desc("lift_bp"), "antecedent", "consequent")
    )


register(
    "basket_brand_rules",
    basket_brand_rules,
    """
WITH basket AS MATERIALIZED (
  -- MATERIALIZED: DuckDB 1.0 inlines the CTE at every self-join
  -- reference, re-running (and at sf0.1 join-reordering into a ~229 s
  -- plan) the lineitem x part join per reference; materialized it is
  -- a sub-second per-order enumeration.
  SELECT DISTINCT l_orderkey AS o, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             GREATEST(5, COUNT(*) // 200) AS minsup FROM orders),
sup1 AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM basket GROUP BY b),
sup2 AS (
  SELECT a.b AS antecedent, b.b AS consequent, CAST(COUNT(*) AS BIGINT) AS sup_ab
  FROM basket a JOIN basket b ON a.o = b.o AND a.b <> b.b
  GROUP BY 1, 2
)
SELECT antecedent, consequent, sup_ab,
  (10000 * sup_ab) // nn AS support_bp,
  (10000 * sup_ab) // sa.s AS confidence_bp,
  (10000 * nn * sup_ab) // (sa.s * sb.s) AS lift_bp
FROM sup2
JOIN sup1 sa ON sa.b = antecedent
JOIN sup1 sb ON sb.b = consequent, n
WHERE sup_ab >= minsup
ORDER BY lift_bp DESC, antecedent, consequent
""",
)


# ---------------------------------------------------------------------------
# X86: zone-map prune-rate diagnosis (layout what-if)
# ---------------------------------------------------------------------------

_ZM_INGEST_CHUNK = 512       # orders per arrival-order "file"
_ZM_PRED_LO, _ZM_PRED_HI = "1998-01-01", "1998-04-01"


def layout_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86: what a min/max zone map (parquet row-group stats) would
    prune for a ship-date range predicate under two physical layouts —
    arrival order (files = l_orderkey ranges: every file spans years,
    nothing prunes) vs date-clustered (files = ship-weeks: everything
    outside the predicate's ~13 weeks prunes).  The companion to
    layout_zorder_stats: that query measures locality of an encoding,
    this one measures the SCAN-COST consequence of a layout, which is
    the number a table owner acts on.

    Deliberately window-free: chunks are ANALYTIC (orderkey div 512,
    epoch-week of shipdate) rather than row_number-assigned, so each
    layout is one groupBy min/max/count over the fact — no global
    sort anywhere (simulating the sorted layout via actual sorting
    would be an unpartitioned fact window, the one shape this repo
    bans).  Outputs integer chunk/row counts + scan_bp per layout."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    lo, hi = F.lit(_ZM_PRED_LO).cast("date"), F.lit(_ZM_PRED_HI).cast("date")

    def layout(chunk_col, name: str) -> DataFrame:
        zones = li.groupBy(chunk_col.alias("chunk")).agg(
            F.min("sd").alias("mn"),
            F.max("sd").alias("mx"),
            F.count(F.lit(1)).alias("c"),
        )
        scanned = (F.col("mx") >= lo) & (F.col("mn") < hi)
        return zones.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(scanned.cast("long")).alias("chunks_scanned"),
            F.sum(F.when(scanned, F.col("c")).otherwise(0)).alias("rows_scanned"),
            F.sum("c").alias("rows_total"),
        ).select(
            "*",
            F.expr("10000 * rows_scanned div rows_total").alias("scan_bp"),
        )

    ingest = layout(
        F.expr(f"l_orderkey div {_ZM_INGEST_CHUNK}"), "arrival_order"
    )
    dated = layout(
        F.expr("datediff(sd, date '1970-01-01') div 7"), "date_clustered"
    )
    return ingest.unionAll(dated).orderBy("layout")


register(
    "layout_zonemap_prune",
    layout_zonemap_prune,
    f"""
WITH li AS (
  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS sd FROM lineitem
),
zin AS (
  SELECT l_orderkey // {_ZM_INGEST_CHUNK} AS chunk,
         MIN(sd) mn, MAX(sd) mx, CAST(COUNT(*) AS BIGINT) c
  FROM li GROUP BY 1
),
zdt AS (
  SELECT (sd - DATE '1970-01-01') // 7 AS chunk,
         MIN(sd) mn, MAX(sd) mx, CAST(COUNT(*) AS BIGINT) c
  FROM li GROUP BY 1
),
summ AS (
  SELECT 'arrival_order' AS layout,
    CAST(COUNT(*) AS BIGINT) AS n_chunks,
    CAST(SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS chunks_scanned,
    SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
             THEN c ELSE 0 END) AS rows_scanned,
    SUM(c) AS rows_total
  FROM zin
  UNION ALL
  SELECT 'date_clustered',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
                  THEN 1 ELSE 0 END) AS BIGINT),
    SUM(CASE WHEN mx >= DATE '{_ZM_PRED_LO}' AND mn < DATE '{_ZM_PRED_HI}'
             THEN c ELSE 0 END),
    SUM(c)
  FROM zdt
)
SELECT layout, n_chunks, chunks_scanned,
  CAST(rows_scanned AS BIGINT) AS rows_scanned,
  CAST(rows_total AS BIGINT) AS rows_total,
  CAST((10000 * rows_scanned) // rows_total AS BIGINT) AS scan_bp
FROM summ ORDER BY layout
""",
)


# ---------------------------------------------------------------------------
# X84: BPE merge training
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 4

# trained merges feed TWO catalog consumers (the merge table X84 and
# the encode census X161), so the driver-looped training runs once per
# session
@session_memo("bpe_merges")
def _trained_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    from xero_api_etl_utilities_spark.operators.bpe import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, rounds=_BPE_ROUNDS)


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84: the first ``_BPE_ROUNDS`` byte-pair-encoding merges learned
    from the document corpus — tokenizer training as a catalog query
    (operators/bpe.py: corpus-sized tokenize+count once, then a
    vocabulary-sized pair-count + in-row greedy fold per round; the
    winning rule is a 1-row driver scalar that parameterizes the next
    round's plan, the IVF-centroid pattern).  The oracle replays ALL
    rounds in DuckDB — pair counting as a positional self-join and
    greedy non-overlapping application as a gaps-and-islands
    selection (runs of marked positions keep alternate members) — a
    deliberately DIFFERENT lowering of the same greedy semantics, so
    agreement is evidence about the algorithm, not the plan.  Ties
    break (count DESC, left ASC, right ASC); every output value is a
    string or integer, hash-exact."""
    rows = _trained_merges(spark, sf_dir)
    return spark.createDataFrame(
        rows, "round int, left_sym string, right_sym string, pair_count bigint"
    ).orderBy("round")


def _bpe_cte_chain() -> tuple[str, str]:
    """The shared training-replay CTE chain: returns (WITH-body SQL
    ending at the round-``_BPE_ROUNDS`` vocabulary state, final CTE
    name).  ``syms{K}``'s (w, freq, pos, sym) rows ARE the encoded
    vocabulary — the X84 oracle unions the per-round winners off it,
    the X161 oracle aggregates symbol counts off it."""
    parts = [
        """
WITH words AS (
  SELECT t.w AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents) t
  GROUP BY t.w
),
syms0 AS (
  SELECT w, freq, CAST(i AS BIGINT) AS pos, s[i] AS sym
  FROM (SELECT w, freq, regexp_extract_all(w, '.') AS s FROM words) t,
       UNNEST(range(1, len(s) + 1)) AS r(i)
)"""
    ]
    prev = "syms0"
    for k in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
pc{k} AS (
  SELECT a.sym AS l, b.sym AS r, SUM(a.freq) AS cnt
  FROM {prev} a JOIN {prev} b ON a.w = b.w AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
best{k} AS MATERIALIZED (
  SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
),
marked{k} AS (
  SELECT s.w, s.freq, s.pos, s.sym,
    CASE WHEN s.sym = (SELECT l FROM best{k})
          AND lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos)
              = (SELECT r FROM best{k})
         THEN 1 ELSE 0 END AS m
  FROM {prev} s
),
sel{k} AS (
  SELECT w, freq, pos, sym, m,
    CASE WHEN m = 1 AND (pos - MIN(pos) OVER (PARTITION BY w, m, grp)) % 2 = 0
         THEN 1 ELSE 0 END AS sel
  FROM (
    SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, m ORDER BY pos) AS grp
    FROM marked{k}
  ) t
),
syms{k} AS (
  SELECT w, freq,
    CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos,
    CASE WHEN sel = 1
         THEN (SELECT l FROM best{k}) || (SELECT r FROM best{k})
         ELSE sym END AS sym
  FROM (
    SELECT *, COALESCE(lag(sel) OVER (PARTITION BY w ORDER BY pos), 0)
              AS prev_sel
    FROM sel{k}
  ) t
  WHERE prev_sel = 0
)"""
        )
        prev = f"syms{k}"
    return "".join(parts), prev


def _bpe_oracle() -> str:
    chain, _final = _bpe_cte_chain()
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS round, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM best{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    )
    return f"{chain}\n{union}\nORDER BY round"


register("text_bpe_merges", text_bpe_merges, _bpe_oracle)


# ---------------------------------------------------------------------------
# X161: BPE ENCODE census — apply the trained merges to the corpus
# ---------------------------------------------------------------------------


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X161: tokenizer FERTILITY census — the corpus re-encoded under
    the X84-trained merges, per source: whitespace-token count, BPE
    symbol count, and the expansion ratio in rounded basis points
    (10000 = one symbol per token).  The number a tokenizer team reads
    before accepting a merge table: which sources blow up under the
    vocabulary and which compress.

    Lowering (the training split, inverted): encoding is applied to
    the VOCABULARY frame (distinct words — orders of magnitude under
    the corpus), one in-row greedy fold per merge in rank order (the
    exact ``operators/bpe._apply_merge`` semantics training used, so
    encode(w) == training's final state for w); the corpus-sized work
    is one tokenize explode + a BROADCAST join against the encoded
    vocabulary + one aggregate.  Trained merges come from the
    memoized once-per-session ``_trained_merges``.

    The oracle reuses the X84 training-replay CTE chain verbatim —
    its final ``syms{K}`` state IS the encoded vocabulary — so hash
    equality proves Spark's fold-encode equals the positional
    gaps-and-islands replay, word for word, then corpus-weighted.
    Integer everywhere; expansion_bp = (20000*bpe + ws) div (2*ws)."""
    from xero_api_etl_utilities_spark.operators.bpe import (
        _apply_merge,
        word_symbol_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = word_symbol_frame(docs)
    for _k, left, right, _cnt in _trained_merges(spark, sf_dir):
        vocab = _apply_merge(vocab, left, right)
    enc = vocab.select("w", F.size("syms").cast("bigint").alias("n_syms"))
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("w"),
    )
    return (
        toks.join(F.broadcast(enc), "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ws_tokens"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_ws_tokens",
            "n_bpe_tokens",
            F.expr(
                "CAST((20000 * n_bpe_tokens + n_ws_tokens)"
                " div (2 * n_ws_tokens) AS BIGINT)"
            ).alias("expansion_bp"),
        )
        .orderBy("source")
    )


def _bpe_encode_oracle() -> str:
    chain, final = _bpe_cte_chain()
    return f"""{chain},
enc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_syms FROM {final} GROUP BY w
),
toks AS (
  SELECT source, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
  CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens,
  CAST((20000 * CAST(SUM(n_syms) AS BIGINT) + COUNT(*))
       // (2 * COUNT(*)) AS BIGINT) AS expansion_bp
FROM toks JOIN enc USING (w)
GROUP BY source
ORDER BY source
"""


register("text_bpe_encode", text_bpe_encode, _bpe_encode_oracle)


# ---------------------------------------------------------------------------
# X83: Simpson concentration index (integer-exact behavioral diversity)
# ---------------------------------------------------------------------------


def events_user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83: per-user behavioral concentration via the Simpson index —
    the integer-exact stand-in for Shannon entropy (whose ln() can
    never enter a hashed column).  With per-type counts c_i and total
    n, the concentration Σp_i² = Σc_i² / n² is a pure integer
    rational; 10000 = single-minded, → 10000/k for a user spread
    evenly over k types.  Published as (num, den, bp) with integer
    division, the same convention as every other bp metric here.
    Shape: one (user, type) count aggregate (map-side combinable)
    folded into one per-user aggregate — two shuffles on the user
    key, no window, no join; identical plan at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("c") * F.col("c")).alias("simpson_num"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            "simpson_num",
            (F.col("n_events") * F.col("n_events")).alias("simpson_den"),
            F.expr(
                "10000 * simpson_num div (n_events * n_events)"
            ).alias("concentration_bp"),
        )
        .orderBy("user_id")
    )


register(
    "events_user_diversity",
    events_user_diversity,
    """
WITH per_type AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
)
SELECT user_id,
  CAST(SUM(c) AS BIGINT) AS n_events,
  CAST(COUNT(*) AS BIGINT) AS n_types,
  CAST(SUM(c * c) AS BIGINT) AS simpson_num,
  CAST(SUM(c) * SUM(c) AS BIGINT) AS simpson_den,
  CAST((10000 * SUM(c * c)) // (SUM(c) * SUM(c)) AS BIGINT) AS concentration_bp
FROM per_type
GROUP BY user_id
ORDER BY user_id
""",
)


# ---------------------------------------------------------------------------
# X139: RFM monetary-quartile migration matrix (period-over-period)
# ---------------------------------------------------------------------------

_RFM_SPLIT_DATE = "1995-06-30"


def orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X139: period-over-period customer-value MIGRATION — the
    composition query on top of X93's quartile machinery: customers
    are monetary-quartiled separately in the first and second halves
    of the order history (split at a fixed calendar date, so the
    report means the same thing run over run) and the census counts
    every (old quartile -> new quartile) cell, with quartile 0
    standing for "absent in that half" — the top row is new-customer
    acquisition, the left column is churn, the diagonal is stability:
    the migration matrix every retention team reads.

    Exactness: quartiles rank over (cents, custkey) total orders (the
    X93 rule); the halves join FULL OUTER on custkey with quartile 0
    via coalesce.  Shape: two order scans (one per half — the date
    predicate pushes to parquet), two customer-grain aggregates, one
    full-outer join on the customer dimension, one 25-cell census.

    100 TB shape (r9): each half's quartile was a global NTILE window
    over the customer frame — single-partition at scale; the r9 rewire
    replaced that with the band-decomposed rank (operators/rankdist,
    the X93/X109b lowering: band = cents >> 18, sub = middle cents
    bits, both pure coarsenings of the (cents, custkey) order) +
    closed-form NTILE.  r10 (VERDICT r9 item 4): the two halves no
    longer run one band-stats pipeline each — a half TAG rides the
    customer grain through ONE ``group_cols=['_half']`` rank pass
    (one window exchange, one histogram family, per-half totals from
    one 2-row aggregate), and the old full-outer half-join collapses
    into a customer-grain pivot aggregate.  No SinglePartition
    exchange remains: the per-half totals are a 2-group hash
    aggregate on ``_half`` feeding a broadcast exchange (the
    explain_audit check for this query asserts zero
    SinglePartition exchanges)."""
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
        ntile_closed_form,
    )

    od = load_table(spark, sf_dir, "orders")
    split = F.lit(_RFM_SPLIT_DATE).cast("date")

    per_cust = (
        od.select(
            "o_custkey",
            F.when(F.col("o_orderdate").cast("date") <= split, 0)
            .otherwise(1)
            .alias("_half"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("_c"),
        )
        .groupBy("_half", "o_custkey")
        .agg(F.sum("_c").alias("_cents"))
    )
    totals = per_cust.groupBy("_half").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    ranked = global_rank_decomposed2(
        per_cust.withColumn(
            "_band", F.shiftright(F.col("_cents"), 18)
        ).withColumn(
            "_sub", F.shiftright(F.col("_cents"), 8).bitwiseAND(F.lit(1023))
        ),
        "_band",
        "_sub",
        [F.asc("_cents"), F.asc("o_custkey")],
        rank_name="_gr",
        group_cols=["_half"],
    ).join(F.broadcast(totals), "_half")
    quart = ranked.select(
        "_half",
        "o_custkey",
        ntile_closed_form(F.col("_gr"), F.col("_n"), 4).cast("int").alias("_q"),
    )
    joined = quart.groupBy("o_custkey").agg(
        F.coalesce(
            F.max(F.when(F.col("_half") == 0, F.col("_q"))), F.lit(0)
        ).alias("m_old"),
        F.coalesce(
            F.max(F.when(F.col("_half") == 1, F.col("_q"))), F.lit(0)
        ).alias("m_new"),
    )
    return (
        joined.groupBy("m_old", "m_new")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.col("m_old").cast("int").alias("m_old"),
            F.col("m_new").cast("int").alias("m_new"),
            "n_customers",
        )
        .orderBy("m_old", "m_new")
    )


_RFM_MIGRATION_ORACLE = f"""
WITH old_h AS (
  SELECT o_custkey,
    ntile(4) OVER (ORDER BY sum(CAST(round(o_totalprice * 100) AS BIGINT)) ASC,
                   o_custkey ASC) AS m_old
  FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '{_RFM_SPLIT_DATE}'
  GROUP BY o_custkey
), new_h AS (
  SELECT o_custkey,
    ntile(4) OVER (ORDER BY sum(CAST(round(o_totalprice * 100) AS BIGINT)) ASC,
                   o_custkey ASC) AS m_new
  FROM orders WHERE CAST(o_orderdate AS DATE) > DATE '{_RFM_SPLIT_DATE}'
  GROUP BY o_custkey
)
SELECT CAST(coalesce(m_old, 0) AS INT) AS m_old,
       CAST(coalesce(m_new, 0) AS INT) AS m_new,
       count(*)::BIGINT AS n_customers
FROM old_h FULL OUTER JOIN new_h USING (o_custkey)
GROUP BY 1, 2
ORDER BY m_old, m_new
"""

register("orders_rfm_migration", orders_rfm_migration, _RFM_MIGRATION_ORACLE)


# ---------------------------------------------------------------------------
# X140: Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in basis points — the standard Benford table as fixed
# integer constants, so no float log crosses an engine
_BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669, 7: 580, 8: 512, 9: 458}


def diag_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X140: Benford's-law first-digit audit over order amounts (in
    cents) — the forensic-accounting classic: naturally occurring
    multi-magnitude amounts follow P(d) = log10(1 + 1/d); a fabricated
    or truncated column doesn't.  One row per leading digit with the
    observed share and the deviation from the Benford expectation in
    bp.  (TPC-H totals are uniform-ish, so this corpus SHOWS a big
    deviation — the diagnostic firing correctly on synthetic data is
    the point; the oracle pins the arithmetic either way.)

    Integer exactness: the expected shares are the standard table as
    fixed bp CONSTANTS (no log10 at query time); first digit via
    substring of the cents cast to string.  Shape: one scan
    projection, one 9-row aggregate, a broadcast join against the
    9-row constant frame."""
    od = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digits = (
        od.select(cents.alias("_c"))
        .filter(F.col("_c") > 0)
        .select(F.substring(F.col("_c").cast("string"), 1, 1).cast("int").alias("digit"))
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    # the grand total via an unpartitioned window over the <= 9-row
    # census frame (the pareto/RFM dimension-sized precedent) — a
    # separate agg branch would re-scan the parquet (Spark has no
    # cross-branch common-subexpression reuse)
    from pyspark.sql import Window

    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_BP.items() for x in kv]
    )
    return (
        counts.withColumn(
            "_t", F.sum("n_orders").over(Window.partitionBy()).cast("bigint")
        )
        .select(
            "digit",
            "n_orders",
            F.expr("n_orders * 10000 div _t").alias("share_bp"),
            F.element_at(expected, F.col("digit")).cast("bigint").alias(
                "expected_bp"
            ),
        )
        .withColumn("dev_bp", F.abs(F.col("share_bp") - F.col("expected_bp")))
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    exp_rows = " UNION ALL ".join(
        f"SELECT {d} AS digit, {bp} AS expected_bp"
        for d, bp in _BENFORD_BP.items()
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
), counts AS (
  SELECT digit, count(*)::BIGINT AS n_orders FROM digits GROUP BY digit
), expected AS ({exp_rows})
SELECT c.digit, c.n_orders,
  (c.n_orders * 10000 // (SELECT sum(n_orders) FROM counts))::BIGINT AS share_bp,
  CAST(e.expected_bp AS BIGINT) AS expected_bp,
  abs(c.n_orders * 10000 // (SELECT sum(n_orders) FROM counts)
      - e.expected_bp)::BIGINT AS dev_bp
FROM counts c JOIN expected e ON c.digit = e.digit
ORDER BY c.digit
"""


register("diag_benford_firstdigit", diag_benford_firstdigit, _benford_oracle)
