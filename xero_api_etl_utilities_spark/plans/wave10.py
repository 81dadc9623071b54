"""Round-10 wave (SURVEY §2.12 X151–X155): subquery-decorrelation
proofs + the curated-corpus publish capstone.

The TPC-H-shaped wave (plans/tpch_like.py) already proves the common
decorrelations (EXISTS→semi, NOT EXISTS→anti, scalar-AVG→agg-join,
nested IN→semi-chain).  This wave adds the four classic optimizer
patterns the catalog did NOT yet prove, each with a deliberately
CORRELATED DuckDB oracle so the hash gate certifies the decorrelated
Spark plan bit-for-bit against the naive nested-subquery semantics
(the Q21/Q22 precedent):

* X151 ``corr_all_quantified`` — quantified ``> ALL`` comparison with
  the EMPTY-subquery edge (``> ALL`` of nothing is TRUE): a naive
  inner max-join silently drops exactly those rows; the decorrelated
  form is a LEFT join + ``IS NULL OR >``.
* X152 ``corr_not_in_null_trap`` — three-valued-logic ``NOT IN``:
  one NULL in the subquery empties the whole result (x <> NULL is
  UNKNOWN for every x).  An anti-join alone is WRONG; the decorrelated
  form is anti-join + a 1-row null-presence guard.  Both branches are
  exercised: a poisoned key that exists in the data (result pinned to
  0) and one that doesn't (anti-join count survives).
* X153 ``corr_scalar_select_twice`` — a correlated scalar aggregate
  referenced twice (per-customer order count AND above-own-average
  count), triple-nested in the oracle; decorrelated to ONE
  customer-partitioned window pass with the average comparison done
  in exact integer cross-multiplication (cents*n > sum — no float
  division crosses an engine).
* X154 ``corr_nested_exists_scalar`` — TWO-level nesting: an EXISTS
  correlated to the outer supplier whose inner predicate compares
  against a scalar aggregate correlated to the MIDDLE query's row
  (the part's corpus-wide quantity average) — and the middle query's
  filter set (one ship-month) deliberately differs from the inner
  aggregate's (all history).  Decorrelated: per-part aggregate
  joined back on the part key, integer 1.9x threshold, distinct
  supplier keys, semi-join.

X155 ``pipeline_corpus_publish`` (registered from this module, built
on sources/writer.py + operators/packing.py + wave9's X146) gates
the curated corpus end to end — see ``pipeline_corpus_publish`` below.

No reference counterpart (src/queries.ts is a bookkeeping ETL); these
are engine-capability proofs in the catalog's TPC-H dialect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


def _cents() -> F.Column:
    """``o_totalprice`` in integer cents — the Spark twin of ``_CENTS``."""
    return F.round(F.col("o_totalprice") * 100).cast("long")


# ---------------------------------------------------------------------------
# X151: quantified > ALL with empty-subquery semantics
# ---------------------------------------------------------------------------


def corr_all_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X151: January-1997 orders whose total (cents) beats ALL of the
    same customer's 1996 orders.  ``> ALL (empty set)`` is TRUE, so a
    customer with no 1996 history qualifies automatically — the edge a
    naive inner join against the per-customer 1996 max silently drops.

    Decorrelated shape: the correlated ``> ALL`` collapses to a
    per-customer MAX aggregate (customer-grain, one shuffle) LEFT-
    joined onto the probe month, with ``max IS NULL OR cents > max``.
    The probe side is one pushed-down month scan; the 1996 aggregate
    shuffles once on the customer key."""
    od = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    cur = od.filter(
        (d >= F.lit("1997-01-01")) & (d <= F.lit("1997-01-31"))
    ).select("o_orderkey", "o_custkey", _cents().alias("cents"))
    prior = (
        od.filter((d >= F.lit("1996-01-01")) & (d <= F.lit("1996-12-31")))
        .groupBy("o_custkey")
        .agg(F.max(_cents()).alias("_pmax"))
    )
    return (
        cur.join(prior, "o_custkey", "left")
        .filter(F.col("_pmax").isNull() | (F.col("cents") > F.col("_pmax")))
        .select("o_orderkey", "o_custkey", "cents")
        .orderBy("o_orderkey")
    )


register(
    "corr_all_quantified",
    corr_all_quantified,
    f"""
SELECT o_orderkey, o_custkey, {_CENTS} AS cents
FROM orders o
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-01-31'
  AND {_CENTS} > ALL (
      SELECT CAST(round(o2.o_totalprice * 100) AS BIGINT)
      FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
        AND CAST(o2.o_orderdate AS DATE)
            BETWEEN DATE '1996-01-01' AND DATE '1996-12-31')
ORDER BY o_orderkey
""",
)


# ---------------------------------------------------------------------------
# X152: NOT IN with a NULL-poisoned subquery (three-valued logic)
# ---------------------------------------------------------------------------


def corr_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X152: the ``NOT IN`` null trap, both branches in one row.

    ``x NOT IN (S)`` is never TRUE when S contains a NULL (x <> NULL
    is UNKNOWN), so one poisoned value empties the whole result — the
    single most common silent-wrongness bug when engines (or humans)
    lower NOT IN to a plain anti-join.  Columns:

    * ``n_clean`` — customers with no urgent order (plain anti-join);
    * ``n_poisoned_hit`` — same subquery with ``NULLIF(key, 42)``;
      customer 42 HAS urgent orders at every test sf, so the subquery
      contains NULL and the correct answer is 0;
    * ``n_poisoned_miss`` — ``NULLIF(key, -7)`` never fires, so the
      correct answer equals ``n_clean``.

    Decorrelated shape: ONE distinct urgent-customer frame feeds a
    LEFT-ANTI count plus two 1-row null-presence guards; the poisoned
    counts are ``CASE WHEN null_present THEN 0 ELSE anti_count END``.
    Everything after the distinct is dimension-grain."""
    cust = load_table(spark, sf_dir, "customer")
    sub = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    n_clean = cust.join(
        sub, cust.c_custkey == sub.o_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    guards = sub.agg(
        F.max((F.col("o_custkey") == 42).cast("int")).alias("_hit"),
        F.max((F.col("o_custkey") == -7).cast("int")).alias("_miss"),
    )
    return n_clean.crossJoin(F.broadcast(guards)).select(
        F.col("_n").alias("n_clean"),
        F.when(F.col("_hit") == 1, F.lit(0))
        .otherwise(F.col("_n"))
        .cast("bigint")
        .alias("n_poisoned_hit"),
        F.when(F.col("_miss") == 1, F.lit(0))
        .otherwise(F.col("_n"))
        .cast("bigint")
        .alias("n_poisoned_miss"),
    )


register(
    "corr_not_in_null_trap",
    corr_not_in_null_trap,
    """
SELECT
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                           WHERE o_orderpriority = '1-URGENT'))::BIGINT
      AS n_clean,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 42) FROM orders
                           WHERE o_orderpriority = '1-URGENT'))::BIGINT
      AS n_poisoned_hit,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, -7) FROM orders
                           WHERE o_orderpriority = '1-URGENT'))::BIGINT
      AS n_poisoned_miss
""",
)


# ---------------------------------------------------------------------------
# X153: correlated scalar aggregate referenced twice
# ---------------------------------------------------------------------------


def corr_scalar_select_twice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X153: per customer-with-orders, the order count and how many of
    their orders beat their OWN average order value — the correlated
    scalar (count / sum over the same customer's orders) appearing in
    both the SELECT list and a derived predicate; the oracle nests it
    three deep.

    Exactness: "above own average" as integer cross-multiplication
    ``cents * n > sum_cents`` — no float division on either engine.
    Decorrelated shape: ONE customer-partitioned window pass attaches
    (n, sum) to every order row, then a same-key groupBy (no second
    exchange — the partitioning is reused) counts the winners."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents().alias("_c")
    )
    w = Window.partitionBy("o_custkey")
    x = od.withColumn("_n", F.count(F.lit(1)).over(w)).withColumn(
        "_s", F.sum("_c").over(w)
    )
    return (
        x.groupBy("o_custkey")
        .agg(
            F.max("_n").cast("bigint").alias("n_orders"),
            F.sum(
                F.when(F.col("_c") * F.col("_n") > F.col("_s"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_above_own_avg"),
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "n_orders",
            "n_above_own_avg",
        )
        .orderBy("c_custkey")
    )


register(
    "corr_scalar_select_twice",
    corr_scalar_select_twice,
    """
SELECT c_custkey,
  (SELECT count(*) FROM orders o
   WHERE o.o_custkey = c.c_custkey)::BIGINT AS n_orders,
  (SELECT count(*) FROM orders o
   WHERE o.o_custkey = c.c_custkey
     AND CAST(round(o.o_totalprice * 100) AS BIGINT)
         * (SELECT count(*) FROM orders o3
            WHERE o3.o_custkey = c.c_custkey)
         > (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
            FROM orders o2
            WHERE o2.o_custkey = c.c_custkey))::BIGINT AS n_above_own_avg
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""",
)


# ---------------------------------------------------------------------------
# X154: two-level nested correlation (EXISTS over an inner scalar)
# ---------------------------------------------------------------------------


def corr_nested_exists_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X154: suppliers who, in March 1996, shipped at least one line
    whose quantity tops 1.9x the ALL-TIME average quantity of that
    line's part — the inner scalar correlates to the MIDDLE query's
    row (``l.l_partkey``), the EXISTS to the OUTER supplier, and the
    middle filter set (one month) deliberately differs from the inner
    aggregate's (all history), so a lowering that conflates the two
    scopes fails the hash.

    Exactness: 1.9x as ``10*qty*cnt > 19*sum`` in BIGINT.
    Decorrelated shape: per-part (count, sum) aggregate joined back on
    the part key (co-partitioned shuffle join), the month filter
    pushed to the probe scan, distinct supplier keys (dimension-grain)
    broadcast-semi-joined onto supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    qty = F.col("l_quantity").cast("long")
    part_stats = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_pc"), F.sum(qty).alias("_ps")
    )
    d = F.col("l_shipdate").cast("date")
    cand = (
        li.filter((d >= F.lit("1996-03-01")) & (d <= F.lit("1996-03-31")))
        .join(part_stats, "l_partkey")
        .filter(qty * 10 * F.col("_pc") > 19 * F.col("_ps"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        su.join(
            F.broadcast(cand), su.s_suppkey == cand.l_suppkey, "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


register(
    "corr_nested_exists_scalar",
    corr_nested_exists_scalar,
    """
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey
    AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1996-03-01'
                                       AND DATE '1996-03-31'
    AND CAST(l.l_quantity AS BIGINT) * 10
        * (SELECT count(*) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
        > 19 * (SELECT CAST(sum(l3.l_quantity) AS BIGINT) FROM lineitem l3
                WHERE l3.l_partkey = l.l_partkey))
ORDER BY s_suppkey
""",
)


# ---------------------------------------------------------------------------
# X155: curated-corpus PUBLISH capstone (emit → pack → shard → read back)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 4096
_HASH_P = 1_000_000_007


def _publish_dir(sf_dir: str, run_suffix: str | None = None) -> str:
    """Deterministic artifact location: env-overridable, defaulting to
    the git-ignored warehouse dir inside the repo (never /root/testdata
    or any machine-absolute data path).  ``run_suffix`` (the Spark
    applicationId in :func:`publish_corpus`) isolates concurrent runs
    against the same base dir — two parallel gate sessions otherwise
    race on one artifact path."""
    import os

    base = os.environ.get("XERO_SPARK_PUBLISH_DIR")
    if base is None:
        # plans/wave10.py -> plans -> package dir -> repo root (three
        # dirnames; a fourth would escape the repo).
        import xero_api_etl_utilities_spark as _pkg

        pkg_dir = os.path.dirname(os.path.abspath(_pkg.__file__))
        repo_root = os.path.dirname(pkg_dir)
        base = os.path.join(repo_root, "spark-warehouse", "corpus_publish")
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    if run_suffix:
        sf_name = f"{sf_name}-{run_suffix}"
    return os.path.join(base, sf_name)


def _prune_stale_runs(path: str, sf_dir: str) -> None:
    """Retention for the per-run artifact isolation: before writing
    this run's artifact, delete sibling dirs for the SAME sf whose
    run suffix differs (prior gate/bench sessions).  Without this the
    applicationId suffix accumulates one full-corpus artifact per
    session, unbounded.  Other-sf siblings are kept —
    they are different datasets, not stale runs."""
    import os
    import shutil

    base = os.path.dirname(path)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        full = os.path.join(base, d)
        if d.startswith(f"{sf_name}-") and full != path:
            shutil.rmtree(full, ignore_errors=True)


def publish_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Write half of the corpus publish: span-dedup emit → drop
    fully-removed docs → fixed-budget pack per source shard → source-
    partitioned parquet shards (sources/writer.py).  Returns the
    artifact path.

    100 TB shape: the emit frame is doc-grain; packing is one
    source-partitioned window (never global); the pack-id join back
    is a doc-key equi-join; the write shards by source so downstream
    training readers prune per-source.  Nothing here collects to the
    driver."""
    from xero_api_etl_utilities_spark.operators.packing import pack_fixed_budget
    from xero_api_etl_utilities_spark.plans.wave9 import span_dedup_frame
    from xero_api_etl_utilities_spark.sources.writer import write_partitioned

    frame = span_dedup_frame(spark, sf_dir).filter(F.col("kept_tokens") > 0)
    packed = pack_fixed_budget(
        frame, "doc_id", "kept_tokens", _PACK_BUDGET, shard_col="source"
    )
    artifact = frame.join(
        packed.select("doc_id", "pack_id"), "doc_id"
    ).select("doc_id", "source", "kept_tokens", "kept_text", "pack_id")
    path = _publish_dir(
        sf_dir, run_suffix=spark.sparkContext.applicationId
    )
    _prune_stale_runs(path, sf_dir)
    write_partitioned(artifact, path, ["source"])
    return path


def pipeline_corpus_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X155: the end-to-end curated-corpus PUBLISH gate — the
    composition the pieces individually proved but the catalog never
    gated: X146's span-deduplicated emit, packed into
    fixed-token-budget training packs (X14's sharded next-fit), written
    as source-partitioned parquet shards, READ BACK FROM DISK, and
    censused per pack.  The returned frame derives entirely from the
    on-disk artifact, so the driver's hash check certifies the full
    write→read roundtrip (schema, partition-column restore, text
    fidelity via the cross-engine md5 hash) against a DuckDB oracle
    that replays emit→pack→census without any filesystem at all.

    Census per (source, pack_id): doc count, token mass, doc-id sum,
    and sum of per-doc ``h64(kept_text) mod p`` (p = 1e9+7, bounded so
    a pack's sum stays far from BIGINT range) — the text-fidelity
    fingerprint."""
    from xero_api_etl_utilities_spark.functions.crosshash import h64
    from xero_api_etl_utilities_spark.sources.writer import read_partitioned

    path = publish_corpus(spark, sf_dir)
    rb = read_partitioned(spark, path)
    return (
        rb.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept_tokens").cast("bigint").alias("pack_tokens"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum(F.pmod(h64(F.col("kept_text")), F.lit(_HASH_P)))
            .cast("bigint")
            .alias("text_hash_sum"),
        )
        .orderBy("source", "pack_id")
    )


def _corpus_publish_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import (
        h64_hi_sql,
        h64_lo_sql,
        signed64_sql,
    )
    from xero_api_etl_utilities_spark.plans.wave9 import _span_dedup_emit_oracle

    th = signed64_sql(h64_hi_sql("kept_text"), h64_lo_sql("kept_text"))
    return f"""
WITH emit AS ({_span_dedup_emit_oracle()}),
kept AS (
  SELECT doc_id, source, kept_tokens, kept_text
  FROM emit WHERE kept_tokens > 0
), packed AS (
  SELECT doc_id, source, kept_tokens, kept_text,
    CAST(coalesce(sum(kept_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
  FROM kept
)
SELECT source, prev // {_PACK_BUDGET} AS pack_id,
  count(*)::BIGINT AS n_docs,
  sum(kept_tokens)::BIGINT AS pack_tokens,
  sum(doc_id)::BIGINT AS sum_doc_id,
  sum((({th} % {_HASH_P}) + {_HASH_P}) % {_HASH_P})::BIGINT AS text_hash_sum
FROM packed
GROUP BY source, prev // {_PACK_BUDGET}
ORDER BY source, pack_id
"""


register(
    "pipeline_corpus_publish", pipeline_corpus_publish, _corpus_publish_oracle
)


# ---------------------------------------------------------------------------
# X156: benchmark decontamination — the EMIT step (cut verbatim runs)
# ---------------------------------------------------------------------------

_DECON_MIN_RUN = 3  # >= 3 contiguous trigram hits = >= 5 verbatim tokens


def decontaminate_span_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156: ACT on contamination — where X150 measures how long the
    verbatim benchmark overlap runs, this emits the decontaminated
    training corpus: per training doc, every contaminated trigram run
    of >= 3 contiguous positions (>= 5 verbatim tokens — the
    scattered-echo/verbatim threshold X150's census informs) becomes
    a removal interval, intervals union-merge per doc, and the kept
    text is rebuilt from the gap slices (X146's machinery pointed at
    the benchmark instead of the corpus itself); runs of >= 3 trigram
    positions only, so phrase-level echo survives.  Same split
    convention as X3b/X150: every 20th doc plays the benchmark and is
    EXCLUDED from the emitted corpus.

    Lowering: benchmark trigrams broadcast (eval sets stay small at
    any corpus scale); training trigrams semi-join them; islands via
    the doc-partitioned gaps-and-islands window; interval merge via
    the doc-partitioned coalesce sweep; rebuild in-row — nothing
    global, text never shuffles past the doc grain."""
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams

    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    wdocs = docs.filter(F.col("doc_id") % 20 != 0).select(
        "doc_id", "source", toks.alias("_w")
    )
    bench = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(F.explode(token_ngrams(toks, 3)).alias("ng"))
        .distinct()
    )
    grams = wdocs.select(
        "doc_id", F.posexplode(token_ngrams(F.col("_w"), 3)).alias("pos", "ng")
    )
    hits = grams.join(F.broadcast(bench), "ng", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    removal = (
        hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + 2).alias("e"),
            F.count(F.lit(1)).alias("_len"),
        )
        .filter(F.col("_len") >= _DECON_MIN_RUN)
        .select("doc_id", "s", "e")
    )
    # union-merge per doc (adjacent islands' token intervals can
    # overlap: a 1-2 position gap still bridges via the +2 token tail)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = removal.withColumn(
        "_b",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("_sid", F.sum("_b").over(w_run))
    merged = flagged.groupBy("doc_id", "_sid").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    ivs = merged.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_ivs"),
        F.count(F.lit(1)).alias("_nruns"),
    )
    out = wdocs.join(ivs, "doc_id", "left").withColumn(
        "_iv2",
        F.coalesce(F.col("_ivs"), F.array().cast("array<struct<s:int,e:int>>")),
    )
    gaps = F.concat(
        F.transform(
            F.col("_iv2"),
            lambda iv, i: F.struct(
                F.when(i == F.lit(0), F.lit(0))
                .otherwise(F.element_at(F.col("_iv2"), i)["e"] + 1)
                .alias("gs"),
                (iv["s"] - 1).alias("ge"),
            ),
        ),
        F.array(
            F.struct(
                F.when(F.size("_iv2") == 0, F.lit(0))
                .otherwise(F.element_at(F.col("_iv2"), -1)["e"] + 1)
                .alias("gs"),
                (F.size("_w") - 1).alias("ge"),
            )
        ),
    )
    kept = F.flatten(
        F.transform(
            F.filter(gaps, lambda g: g["ge"] >= g["gs"]),
            lambda g: F.slice(F.col("_w"), g["gs"] + 1, g["ge"] - g["gs"] + 1),
        )
    )
    return (
        out.withColumn("_kept", kept)
        .withColumn(
            "_rem",
            F.aggregate(
                F.col("_iv2"),
                F.lit(0),
                lambda acc, iv: acc + (iv["e"] - iv["s"] + 1),
            ),
        )
        .select(
            "doc_id",
            "source",
            F.size("_w").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("_nruns"), F.lit(0))
            .cast("bigint")
            .alias("contaminated_runs"),
            F.col("_rem").cast("bigint").alias("removed_tokens"),
            F.size("_kept").cast("bigint").alias("kept_tokens"),
            F.array_join("_kept", " ").alias("kept_text"),
        )
        .orderBy("doc_id")
    )


_DECON_EMIT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
), train AS (
  SELECT * FROM toks WHERE doc_id % 20 <> 0
), grams AS (
  SELECT doc_id, i - 1 AS pos, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ng
  FROM train, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
), bench AS (
  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ng
  FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
  WHERE doc_id % 20 = 0
), hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN bench b USING (ng)
), isl AS (
  SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
), removal AS (
  SELECT doc_id, min(pos) AS sp, max(pos) + 2 AS ep
  FROM isl GROUP BY doc_id, grp
  HAVING count(*) >= {_DECON_MIN_RUN}
), flagged AS (
  SELECT doc_id, sp, ep,
    CASE WHEN sp > coalesce(max(ep) OVER (PARTITION BY doc_id ORDER BY sp
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 1 ELSE 0 END AS b
  FROM removal
), sw AS (
  SELECT doc_id, sp, ep, sum(b) OVER (PARTITION BY doc_id ORDER BY sp
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), merged AS (
  SELECT doc_id, min(sp) AS sp, max(ep) AS ep FROM sw GROUP BY doc_id, sid
), removed_pos AS (
  SELECT m.doc_id, u.p FROM merged m, unnest(range(m.sp, m.ep + 1)) AS u(p)
), pos_all AS (
  SELECT doc_id, i - 1 AS p, t[i] AS tok
  FROM train, unnest(range(1, len(t) + 1)) AS u(i)
), keptagg AS (
  SELECT a.doc_id,
    count(*) FILTER (WHERE r.doc_id IS NULL) AS kept_tokens,
    coalesce(string_agg(a.tok, ' ' ORDER BY a.p)
             FILTER (WHERE r.doc_id IS NULL), '') AS kept_text
  FROM pos_all a
  LEFT JOIN removed_pos r ON a.doc_id = r.doc_id AND a.p = r.p
  GROUP BY a.doc_id
), remagg AS (
  SELECT doc_id, count(*) AS nruns, sum(ep - sp + 1) AS removed
  FROM merged GROUP BY doc_id
)
SELECT t.doc_id, t.source,
  len(t.t)::BIGINT AS n_tokens,
  coalesce(r.nruns, 0)::BIGINT AS contaminated_runs,
  coalesce(r.removed, 0)::BIGINT AS removed_tokens,
  coalesce(ka.kept_tokens, 0)::BIGINT AS kept_tokens,
  coalesce(ka.kept_text, '') AS kept_text
FROM train t
LEFT JOIN remagg r USING (doc_id)
LEFT JOIN keptagg ka USING (doc_id)
ORDER BY doc_id
"""

register(
    "decontaminate_span_emit", decontaminate_span_emit, _DECON_EMIT_ORACLE
)


# ---------------------------------------------------------------------------
# X157: MIPS top-k via the norm-augmentation reduction to cosine
# ---------------------------------------------------------------------------


def similarity_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X157: exact MAX-INNER-PRODUCT top-5 — the recommendation-scoring
    objective the cosine family deliberately doesn't cover (a long
    vector with mediocre angle can beat a short well-aligned one) —
    computed through the classic NORM-AUGMENTATION reduction
    (Bachrach et al. 2014; Neyshabur & Srebro 2015): corpus vectors
    augment to [x, sqrt(M^2 - |x|^2)] (M = corpus max norm, so every
    augmented vector has constant norm M), queries to [q, 0]; cosine
    over the augmented space is then q.x / (|q| * M) — strictly
    monotone in the inner product per query, so the UNMODIFIED cosine
    top-k machinery (brute force here; the same augmentation feeds
    IVF/LSH at scale) returns exact MIPS ranks.  The oracle ranks by
    RAW ``list_dot_product`` — hash equality proves the reduction
    exact, including ties (broken by neighbor id on both sides).
    Tie-exactness holds because the cosine denominator uses the
    EXACT broadcast constant M as the corpus-side norm
    (``corpus_norm_col``), so per-query cosine order is strictly
    monotonic in the raw inner product — a per-vector recomputed
    norm would inject ~1-ulp noise into raw-dot ties.

    Shape: a 2-row aggregate for M^2 broadcast onto one corpus
    projection; the reduction adds one dimension and zero shuffles."""
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    m2 = emb.agg(
        F.max(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            )
        ).alias("_m2")
    )
    n2 = F.aggregate(
        "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
    )
    aug = (
        emb.crossJoin(F.broadcast(m2))
        .select(
            "vec_id",
            F.concat(
                F.transform("embedding", lambda x: x.cast("double")),
                F.array(
                    F.sqrt(F.greatest(F.col("_m2") - n2, F.lit(0.0)))
                ),
            ).alias("embedding"),
            # Every augmented vector's norm is EXACTLY M by
            # construction; recomputing it per vector costs ~1 ulp of
            # noise that can flip raw-dot ties, so the
            # exact broadcast constant rides along as the corpus norm.
            F.sqrt("_m2").alias("aug_norm"),
        )
    )
    queries = aug.filter(F.col("vec_id") < 20).select(
        "vec_id",
        F.concat(
            F.slice("embedding", 1, F.size("embedding") - 1),
            F.array(F.lit(0.0)),
        ).alias("embedding"),
    )
    return sim.topk_bruteforce(queries, aug, k=5, corpus_norm_col="aug_norm")


register(
    "similarity_topk_mips",
    similarity_topk_mips,
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.embedding) AS s
  FROM q, embeddings c
  WHERE q.query_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
    bounded=True,
)
