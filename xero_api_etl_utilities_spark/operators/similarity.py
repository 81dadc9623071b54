"""X2 — similarity search over embedding columns.

Brute-force cosine top-k as the exactness baseline, an LSH-bucketed
variant as the 100 TB scale path. Dot products are computed with
built-in higher-order array functions (`zip_with` + `aggregate`) —
JVM-side, no Python in the loop; at very high dimensionality a
vectorized Pandas UDF over `mapInPandas` would batch through Arrow,
but 64-dim arrays are comfortably in built-in territory.

Scale design:
- the query set is broadcast (top-k searches are many-queries ×
  huge-corpus; the corpus never shuffles);
- ranking uses a per-query window with `row_number`, so only k rows
  per query survive the final shuffle;
- the LSH variant buckets by random-hyperplane sign bits: candidate
  generation is an equi-join on the bucket id (configurable number of
  hyperplane tables to trade recall vs cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.litfold import lit_doubles

# The id and vector columns of the embedding tables every search runs on.
_ID_COL, _VEC_COL = "vec_id", "embedding"


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    """Cosine similarity between two array<numeric> columns.

    A zero vector scores 0 against everything: the raw 0/0 would be
    NaN, and Spark orders NaN ABOVE every real number under ``desc``,
    so an unguarded NaN doesn't just noise one row — it wins rank 1.
    Clamping the zero denominator to 1 keeps the numerator's 0.
    """
    den = _norm(a) * _norm(b)
    return _dot(a, b) / F.when(den == 0.0, F.lit(1.0)).otherwise(den)


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    corpus_norm_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank) — rank 1 = most similar.
    Ties broken by neighbor id so results are total-order deterministic.
    Excludes self-matches when query and corpus share ids.

    ``corpus_norm_col``: optional precomputed corpus-side norm column.
    When the caller knows the norm analytically (e.g. the MIPS
    norm-augmentation reduction makes every corpus vector's norm the
    SAME constant M), recomputing it per vector in floating point
    introduces ~1-ulp per-vector noise that can flip raw-dot ties;
    supplying the exact constant keeps per-query ranking
    exactly monotonic in the raw inner product. Also the realistic
    100 TB shape — corpus norms are precomputed once, not re-reduced
    per query batch.

    Guard: this is the EXACTNESS BASELINE — a broadcast nested-loop
    scoring every query against the whole corpus, O(Q×N). It refuses
    more than 100 query vectors (eagerly counted — one cheap job) so
    the cartesian shape can't silently become a default route at
    scale; large query sets belong on ``topk_lsh`` / ``topk_ivf``.
    """
    n_q = queries.count()
    if n_q > 100:
        raise ValueError(
            f"topk_bruteforce got {n_q} query vectors (> max_queries=100):"
            " the exact form scores O(queries x corpus) and must not run on"
            " a large query set — use topk_lsh/topk_ivf (the scale paths)."
        )
    # Norms are precomputed ONCE PER ROW in each side's projection
    # (the cosine-inside-the-join form re-folds both
    # 64-element norm aggregates per PAIR — Q×N times instead of Q+N).
    # Bit-identical to the inline form: same _norm expression over the
    # same values, same den==0 guard, same division association.
    q = F.broadcast(
        queries.select(
            F.col(_ID_COL).alias("query_id"),
            F.col(_VEC_COL).alias("qv"),
            _norm(F.col(_VEC_COL)).alias("_qn"),
        )
    )
    c_cols = [F.col(_ID_COL).alias("neighbor_id"), F.col(_VEC_COL).alias("cv")]
    if corpus_norm_col is not None:
        c_cols.append(F.col(corpus_norm_col).alias("_cn"))
    else:
        c_cols.append(_norm(F.col(_VEC_COL)).alias("_cn"))
    c = corpus.select(*c_cols)
    den = F.col("_qn") * F.col("_cn")
    sim = _dot(F.col("qv"), F.col("cv")) / F.when(
        den == 0.0, F.lit(1.0)
    ).otherwise(den)
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def topk_bruteforce_pandas(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact top-5 cosine neighbors via an Arrow-batched numpy matmul —
    the high-dimensionality twin of :func:`topk_bruteforce`.

    Same contract and same results as the built-in-expression form
    (returns (query_id, neighbor_id, rank)); different physical plan:
    the bounded query set is collected to a (Q × d) numpy matrix and
    closed over a ``mapInPandas`` stage, so each Arrow batch of the
    corpus is scored with ONE BLAS matmul instead of per-element
    ``zip_with``/``aggregate`` expression trees. At 64 dims the
    built-in form wins on plan simplicity; past a few hundred dims the
    matmul wins by an order of magnitude — this variant exists so the
    engine has that path ready and benchmarked.

    Exactness: each batch emits its own per-query top-5 (global
    top-5 ⊆ union of per-batch top-5), then one window rank over the
    ~5 × batches × Q survivors picks the global answer. The corpus
    never shuffles; the final shuffle carries only candidates.  The
    same 100-query guard as :func:`topk_bruteforce` applies.
    """
    n_q = queries.count()
    if n_q > 100:
        raise ValueError(
            f"topk_bruteforce_pandas got {n_q} query vectors (> max_queries=100):"
            " the exact form scores O(queries x corpus) — use topk_lsh/topk_ivf."
        )
    import numpy as np

    qrows = queries.select(_ID_COL, _VEC_COL).collect()  # bounded by the guard above
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    # Zero vectors must score 0 against everything (the built-in
    # topk_bruteforce / oracle behavior), not NaN — clamp norms to 1.
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    qnorm = qmat / np.where(qn == 0.0, 1.0, qn)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["_nid"].to_numpy(dtype=np.int64)
            vmat = np.array(list(pdf["_vec"]), dtype=np.float64)
            vn = np.linalg.norm(vmat, axis=1, keepdims=True)
            vnorm = vmat / np.where(vn == 0.0, 1.0, vn)
            sims = vnorm @ qnorm.T  # (batch, Q)
            sims[ids[:, None] == qids[None, :]] = -np.inf  # self-matches
            out_q, out_n, out_s = [], [], []
            for j in range(len(qids)):
                # top-k within the batch, ties broken by smaller id
                # (lexsort: last key is primary)
                order = np.lexsort((ids, -sims[:, j]))[:5]
                keep = order[np.isfinite(sims[order, j])]
                out_q.extend([qids[j]] * len(keep))
                out_n.extend(ids[keep])
                out_s.extend(sims[keep, j])
            import pandas as pd

            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    cands = corpus.select(
        F.col(_ID_COL).alias("_nid"), F.col(_VEC_COL).alias("_vec")
    ).mapInPandas(score, "query_id long, neighbor_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane vectors — exported so the
    DuckDB oracle generator inlines the SAME plane literals the Spark
    plan uses (sign margins on the test corpora are ≥6.5e-5, far above
    the ~1e-14 cross-engine double-summation noise, so bucket ids are
    engine-stable)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _plane_bucket(vec_col, planes_lit, n_planes: int):
    """Sign-bit bucket id: Σ_i (dot(vec, plane_i) >= 0 ? 1<<i : 0),
    folded left-to-right from 0L exactly like the unrolled form (the
    bit values ride as a literal long array — integer sums are exact,
    so the bucket id is identical)."""
    bits = F.lit([1 << i for i in range(n_planes)])
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.element_at(planes_lit, i + 1),
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            >= 0,
            F.element_at(bits, i + 1),
        ).otherwise(F.lit(0).cast("long")),
    )


def topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    n_planes: int = 4,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-5 over 64-dim vectors: multi-table hyperplane
    LSH candidate generation, then exact cosine rank within the
    candidate union.

    Single-table sign-LSH recall is (1-θ/π)^n_planes per neighbor —
    poor for moderate similarities — so candidates are unioned across
    ``n_tables`` independent hyperplane sets: recall
    1-(1-p^planes)^tables, tunable against cost.

    Single-pass layout: all tables' bucket ids are computed in ONE
    projection over each side (the per-table-join formulation would
    scan the corpus ``n_tables`` times), exploded to (tbl, bucket)
    rows, and candidates come from ONE equi-join on that composite
    key — shrinks candidates ~2^n_planes-fold per table; the cross
    join never happens. Candidate SET is identical to the union of
    per-table joins, so the algorithmic oracle is unaffected.
    """
    all_planes = [hyperplanes(n_planes, 64, seed=7 + t) for t in range(n_tables)]
    # all tables' planes as ONE folded 3-level literal; per-table
    # bucket via the same left-to-right sign-bit fold as the unrolled
    # form (see _plane_bucket) — identical bucket ids, constant-size
    # plan instead of tables·planes·dim literal nodes
    tables_lit = lit_doubles(
        [[[float(x) for x in p] for p in planes] for planes in all_planes]
    )

    def bucketed(df: DataFrame, out_id: str) -> DataFrame:
        entries = F.transform(
            tables_lit,
            lambda tp, t: F.struct(
                t.alias("tbl"),
                _plane_bucket(F.col(_VEC_COL), tp, n_planes).alias("bkt"),
            ),
        )
        return df.select(
            F.col(_ID_COL).alias(out_id), F.explode(entries).alias("e")
        ).select(out_id, F.col("e.tbl").alias("tbl"), F.col("e.bkt").alias("bkt"))

    qb = bucketed(queries, "query_id")
    cb = bucketed(corpus, "neighbor_id")
    cands = (
        F.broadcast(qb)
        .join(cb, ["tbl", "bkt"])
        .select("query_id", "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )

    # per-row norm precompute before the candidate join (see
    # topk_bruteforce) — bit-identical to cosine() per pair
    qv = queries.select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).alias("qv"),
        _norm(F.col(_VEC_COL)).alias("_qn"),
    )
    cv = corpus.select(
        F.col(_ID_COL).alias("neighbor_id"),
        F.col(_VEC_COL).alias("cv"),
        _norm(F.col(_VEC_COL)).alias("_cn"),
    )
    den = F.col("_qn") * F.col("_cn")
    sim_expr = _dot(F.col("qv"), F.col("cv")) / F.when(
        den == 0.0, F.lit(1.0)
    ).otherwise(den)
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", sim_expr.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )
