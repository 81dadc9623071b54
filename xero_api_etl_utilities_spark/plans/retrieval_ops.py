"""Vector retrieval catalog queries: the ``similarity_``, ``embedding_``
and ``cluster_`` families.

Exact and approximate top-k (LSH, IVF, IVF-PQ with and without residual
coding), range search, MIPS, matryoshka truncation recall, index
drift, retrain and maintenance, scalar and product quantization, and
embedding-quality censuses over the ``embeddings`` table.  No
reference counterpart (the reference ETL has no vector tier).  Cosine
top-k emits ranks only, and the oracles re-train the same geometry
from the same parquet (``plans/sketch_oracles.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import similarity as sim
from xero_api_etl_utilities_spark.operators.materialize import materialize, session_memo
from xero_api_etl_utilities_spark.plans import sketch_oracles as sk
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.plans.dedup_ops import HASH_P, catalog_dir, prune_stale_runs
from xero_api_etl_utilities_spark.plans.sketch_oracles import vec_lit
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline: exact brute-force cosine top-5 neighbors for a
    deterministic 20-vector query set against the full corpus. The
    query set broadcasts; the corpus never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim.topk_bruteforce(queries, emb, k=5)


# Shared by similarity_topk and similarity_topk_pandas (plans/retrieval_ops.py):
# the two Spark variants implement the same contract, so one oracle serves both.
TOPK_EXACT_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, c.embedding) AS s
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
"""

register("similarity_topk", similarity_topk, TOPK_EXACT_ORACLE, bounded=True)


def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: multi-table random-hyperplane LSH candidate
    generation then exact rank within candidates. Oracle re-runs the
    algorithm with the same inlined planes (margin-checked signs);
    recall vs similarity_topk is also unit-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim.topk_lsh(queries, emb, n_planes=4, n_tables=4)


register("similarity_topk_lsh", similarity_topk_lsh, sk.topk_lsh_oracle)


def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path #2: IVF — driver-trained centroids (bounded
    ordered sample, deterministic), JVM-side cell assignment, equi-join
    candidate search. Oracle re-trains bit-identical centroids via the
    Sparkless twin and re-runs the search in SQL; recall is also
    unit-tested on clustered fixtures."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf(queries, emb, centroids, k=5, nprobe=4)


register("similarity_topk_ivf", similarity_topk_ivf, sk.topk_ivf_oracle)


def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius similarity search (FAISS range_search) — every
    corpus vector within cosine >= 0.30 of each probe, candidates
    from nprobe=4 IVF cells: the "give me ALL near matches" member of
    the similarity family (top-k answers a different question; dedup
    sweeps and recall-first retrieval want the radius form).  Pair
    SET engine-stable: tau margin measured >= 2.2e-5 at every sf,
    ~10^7 x the double-summation noise of a 64-dim dot.  Oracle
    re-trains bit-identical centroids and replays cells + cosine
    filter in SQL."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.range_search_ivf(queries, emb, centroids)


register("similarity_range_search", similarity_range_search, sk.range_search_ivf_oracle)


def cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster id per embedding (the corpus
    side of IVF indexing, exposed as a first-class clustering query —
    partitioning a 100 TB corpus into semantic shards is pure column
    math against inlined centroids, embarrassingly parallel)."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    return ivf.assign_cells(emb, centroids, "embedding", nprobe=1).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )


register("cluster_assign", cluster_assign, sk.cluster_assign_oracle)


# ---------------------------------------------------------------------------
# IVF cell-balance diagnostic
# ---------------------------------------------------------------------------


def similarity_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-health census — every corpus vector assigned
    to its nearest cell (the same driver-trained deterministic
    centroids the search queries use), counted per cell, INCLUDING
    empty cells.  A dead cell wastes a probe; a hot cell makes every
    query that probes it scan a corpus-sized list — the imbalance this
    table surfaces is exactly why FAISS tutorials say "re-train k or
    re-balance when max/mean load drifts".  ``share_bp`` is the cell's
    corpus share and ``load_x100`` its load factor vs perfect balance
    (100 = balanced), both cross-multiplied integers.

    Shape: assignment is the JVM-side in-row argmax projection
    (operators/ivf.assign_cells, centroids inlined as literals — no
    join), the census is one 16-cell aggregate, and the empty-cell
    completion joins against a 16-row range frame.  Corpus-linear, one
    tiny shuffle."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    assigned = ivf.assign_cells(emb, centroids, nprobe=1)
    census = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    total = emb.select(F.count(F.lit(1)).alias("_tot"))
    cells = spark.range(16).select(F.col("id").cast("int").alias("cell"))
    return (
        cells.join(F.broadcast(census), "cell", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "cell",
            F.coalesce(F.col("n_vecs"), F.lit(0)).cast("bigint").alias("n_vecs"),
            F.expr("coalesce(n_vecs, 0) * 10000 div _tot")
            .cast("bigint")
            .alias("share_bp"),
            F.expr("coalesce(n_vecs, 0) * 100 * 16 div _tot")
            .cast("bigint")
            .alias("load_x100"),
        )
        .orderBy("cell")
    )


def _ivf_cell_balance_oracle() -> str:
    import os as _os

    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), corpus AS (
  SELECT vec_id, ({cells})[1] AS cell FROM e
), census AS (
  SELECT cell, count(*)::BIGINT AS n_vecs FROM corpus GROUP BY cell
), tot AS (SELECT count(*)::BIGINT AS t FROM e)
SELECT CAST(r.range AS INT) AS cell,
  coalesce(c.n_vecs, 0)::BIGINT AS n_vecs,
  CAST(coalesce(c.n_vecs, 0) * 10000 // t AS BIGINT) AS share_bp,
  CAST(coalesce(c.n_vecs, 0) * 100 * 16 // t AS BIGINT) AS load_x100
FROM range(16) r LEFT JOIN census c ON c.cell = r.range
CROSS JOIN tot ORDER BY cell
"""


register(
    "similarity_ivf_cell_balance",
    similarity_ivf_cell_balance,
    _ivf_cell_balance_oracle,
)


# --------------------------------------------------------------------------
# Arrow-batched exact similarity twin
# --------------------------------------------------------------------------

def similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force top-k again, but through the
    Arrow-batched numpy-matmul path (mapInPandas) — the
    high-dimensionality strategy, verified against the same oracle as
    the built-in-expression form."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim.topk_bruteforce_pandas(queries, emb)


register("similarity_topk_pandas", similarity_topk_pandas, TOPK_EXACT_ORACLE)


# --------------------------------------------------------------- SQ8 codes

def embedding_quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization codes for every embedding
    dimension (operators/quantize.py — stats pass + broadcast encode,
    no corpus-sized shuffle). Output is exploded (vec_id, dim, code)
    rows: all-integer, so the oracle hash is exact."""
    from xero_api_etl_utilities_spark.operators.quantize import sq8_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_codes(emb, "vec_id", "embedding")


register(
    "embedding_quantize_sq8",
    embedding_quantize_sq8,
    """
WITH d AS (
  SELECT vec_id, CAST(r.i - 1 AS INT) AS dim, CAST(embedding[r.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
), st AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim
)
SELECT d.vec_id, d.dim,
  CAST(CASE WHEN st.mx - st.mn > 0
            THEN floor(((d.x - st.mn) * 255.0) / (st.mx - st.mn) + 0.5)
            ELSE 0 END AS INT) AS code
FROM d JOIN st USING (dim)
""",
)


# the PQ index (codebooks + encoded corpus) materializes once per
# session: one encode feeds both the code-dump query and the ADC
# search.
@session_memo("pq_index")
def _pq_index(spark: SparkSession, sf_dir: str):
    import os as _os

    from xero_api_etl_utilities_spark.operators.quantize import (
        pq_codes,
        train_pq_codebooks_from_parquet,
    )

    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.train_centroids(emb)
    books = train_pq_codebooks_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    )
    cells = ivf.assign_cells(emb, cents, "embedding", 1).select("vec_id", "cell")
    codes = pq_codes(emb, "vec_id", "embedding", books)
    index = materialize(cells.join(codes, "vec_id"))
    return cents, books, index


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second half — PRODUCT quantization (FAISS PQ recipe): the
    64-dim embedding splits into 4 subvectors, each encoded as its
    nearest centroid in a per-subspace L2 codebook (16 codes → 4
    bytes/vector vs 256 for float32). Training is a bounded
    driver-side sample (standard PQ recipe, same contract as IVF
    seeding); ENCODING is the distributed part — a pure scan
    projection against inlined centroid literals, zero shuffle, zero
    Python. The oracle re-runs the identical argmin on bit-identical
    codebooks (fixed-association distance sums; struct-sort ties)."""
    import os as _os

    from xero_api_etl_utilities_spark.operators.quantize import (
        pq_codes,
        train_pq_codebooks_from_parquet,
    )

    _, _, index = _pq_index(spark, sf_dir)
    return index.select("vec_id", "code_0", "code_1", "code_2", "code_3")


def _pq_oracle() -> str:
    import os as _os

    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )

    sf_dir = oracle_sf_dir()
    books = train_pq_codebooks_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    )
    ds = len(books[0][0])
    sel = []
    for s, book in enumerate(books):
        dists = []
        for c in book:
            terms = " + ".join(
                f"(v[{s * ds + d + 1}] - {float(cd)!r}) * (v[{s * ds + d + 1}] - {float(cd)!r})"
                for d, cd in enumerate(c)
            )
            dists.append(f"({terms})")
        lst = f"[{', '.join(dists)}]"
        sel.append(
            f"CAST(list_position({lst}, list_min({lst})) - 1 AS INT) AS code_{s}"
        )
    cols = ",\n  ".join(sel)
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT vec_id,
  {cols}
FROM e
"""


register("embedding_pq_codes", embedding_pq_codes, _pq_oracle)


def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path #3 — IVF-PQ with asymmetric distance: candidates
    from probed cells, scored from 4-byte PQ codes via per-query
    distance tables (operators/ivf.topk_ivf_pq). The searchable index
    never materializes a float vector; this is the shape that holds
    when the corpus embedding table itself is too large to scan per
    query. Oracle recomputes cells, codes and the ADC sum on
    bit-identical centroid/codebook literals."""
    import os as _os

    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf_pq(
        queries, emb, centroids, books, k=5, nprobe=4, corpus_index=index
    )


def _ivfpq_oracle() -> str:
    return _ivfpq_oracle_sql(rerank=None)


def _ivfpq_rerank_oracle() -> str:
    return _ivfpq_oracle_sql(rerank=50)


def _ivfpq_oracle_sql(rerank: int | None) -> str:
    import os as _os

    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )
    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    books = train_pq_codebooks_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    )
    ds = len(books[0][0])
    cell_structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{cell_structs}])), s -> s.cell)"
    # per-subspace code: argmin over sorted (distance, code) structs,
    # distances with the SAME fixed association as the Spark encode
    code_cols = []
    for s, book in enumerate(books):
        dists = []
        for c in book:
            terms = " + ".join(
                f"(v[{s * ds + d + 1}] - {float(cd)!r}) * (v[{s * ds + d + 1}] - {float(cd)!r})"
                for d, cd in enumerate(c)
            )
            dists.append(f"({terms})")
        lst = f"[{', '.join(dists)}]"
        code_cols.append(
            f"list_position({lst}, list_min({lst})) - 1 AS code_{s}"
        )
    book_lits = ", ".join(
        "[" + ", ".join(vec_lit(c) for c in book) + f"] AS b{s}"
        for s, book in enumerate(books)
    )
    # ADC score: for subspace s the selected centroid is b{s}[code_s+1];
    # the 16-term distance sum uses the same left-to-right association
    score_terms = " + ".join(
        "("
        + " + ".join(
            f"(eq.v[{s * ds + d + 1}] - b{s}[c.code_{s} + 1][{d + 1}])"
            f" * (eq.v[{s * ds + d + 1}] - b{s}[c.code_{s} + 1][{d + 1}])"
            for d in range(ds)
        )
        + ")"
        for s in range(len(books))
    )
    base = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), books AS (
  SELECT {book_lits}
), corpus AS (
  SELECT vec_id, ({cells})[1] AS cell, {", ".join(code_cols)} FROM e
), probes AS (
  SELECT vec_id, UNNEST(({cells})[1:4]) AS cell
  FROM e WHERE vec_id < 20
), scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {score_terms} AS sc
  FROM probes p
  JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.vec_id
  JOIN e eq ON eq.vec_id = p.vec_id
  CROSS JOIN books
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sc ASC, neighbor_id ASC) AS rank
  FROM scored
)"""
    if rerank is None:
        return (
            base
            + """
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
        )
    # refine: exact cosine over the ADC shortlist only (same
    # list_cosine_similarity primitive the exact-top-k oracle uses)
    return (
        base
        + f""", refined AS (
  SELECT r.query_id, r.neighbor_id,
         list_cosine_similarity(qe.v, ne.v) AS sim
  FROM ranked r
  JOIN e qe ON qe.vec_id = r.query_id
  JOIN e ne ON ne.vec_id = r.neighbor_id
  WHERE r.rank <= {rerank}
), reranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM refined
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM reranked WHERE rank <= 5
"""
    )


register("similarity_topk_ivfpq", similarity_topk_ivfpq, _ivfpq_oracle)


def similarity_topk_ivfpq_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale completion — the SAME IVF-PQ ADC search forced down
    the >10k-queries path: per-query distance tables built in an
    Arrow-batched mapInPandas stage over the query frame (no driver
    collect, plain cell equi-join instead of a broadcast). The table
    math (_probe_tables) is shared verbatim with the driver-side
    builder, so both paths are bit-identical and this query reuses the
    exact-literal oracle of similarity_topk_ivfpq — a continuous proof
    that cloud-scale query fan-in returns the same ranks."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf_pq(
        queries,
        emb,
        centroids,
        books,
        k=5,
        nprobe=4,
        corpus_index=index,
        force_distributed=True,
    )


register("similarity_topk_ivfpq_dist", similarity_topk_ivfpq_dist, _ivfpq_oracle)


def similarity_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refine stage — IVF-PQ + exact re-rank (the FAISS
    IndexRefineFlat recipe, and the setting a production deployment
    should default to): ADC produces a 50-candidate shortlist per
    query from codes alone, then ONLY those candidates' float vectors
    are fetched (broadcast candidate frame → point-lookup equi-join;
    the corpus float table still never scans per query) and re-ranked
    by exact cosine. tools/ann_recall.py measures why this stage is
    not optional: pure-ADC recall@5 collapses to ~0.2 on a clustered
    corpus — true neighbors sit WITHIN PQ quantization error of each
    other, so their table distances tie and the shortlist order is
    arbitrary — while the reranked form restores recall to the IVF
    cell-probe ceiling (0.96 at nprobe=2, 1.0 at nprobe=4)."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf_pq(
        queries, emb, centroids, books, k=5, nprobe=4, corpus_index=index, rerank=50
    )


register(
    "similarity_topk_ivfpq_rerank", similarity_topk_ivfpq_rerank, _ivfpq_rerank_oracle
)


def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality AS A QUERY — recall@5 of the production
    IVF-PQ + exact-rerank search against the brute-force cosine truth
    over the same probe set, driver-hash-verified: the dedup_lsh_quality pattern
    (LSH recall/precision promoted into the catalog) applied to the
    similarity family, so the index's headline quality number is
    continuously verified instead of living only in
    tools/ann_recall.py.

    Engine stability: both sides are rank SETS already proven
    engine-stable (the exact truth is the similarity_label_purity
    ranking; the approx side is similarity_topk_ivfpq_rerank, both
    oracle-green) — the census only counts their intersection.  Shape:
    the two shortlists are (20 x 5)-row frames; everything after the
    searches is dimension-sized."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    approx = ivf.topk_ivf_pq(
        queries, emb, centroids, books, k=5, nprobe=4, corpus_index=index,
        rerank=50,
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    truth = sim.topk_bruteforce(queries, emb, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        truth.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "n_queries",
            "n_truth",
            "n_hits",
            F.expr("n_hits * 10000 div n_truth").alias("recall_bp"),
        )
    )


def _ivfpq_recall_oracle() -> str:
    return f"""
WITH truth AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
             c.vec_id ASC) <= 5
), approx AS (
  SELECT query_id, neighbor_id FROM ({_ivfpq_oracle_sql(rerank=50)})
), agg AS (
  SELECT count(DISTINCT t.query_id)::BIGINT AS n_queries,
    count(*)::BIGINT AS n_truth,
    count(a.query_id)::BIGINT AS n_hits
  FROM truth t
  LEFT JOIN approx a
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
)
SELECT n_queries, n_truth, n_hits,
  (n_hits * 10000 // n_truth)::BIGINT AS recall_bp
FROM agg
"""


register("similarity_ivfpq_recall", similarity_ivfpq_recall, _ivfpq_recall_oracle)


# ---------------------------------------------------------------------------
# per-dimension SQ8 health census (dead/coarse dimension detector)
# ---------------------------------------------------------------------------


def embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "is my vector index wasting bytes" diagnostic — for
    every embedding dimension, the SQ8 code census: how many distinct
    8-bit levels the dimension actually uses (``n_levels``), the code
    range, and the EXACT integer code variance as the cross-multiplied
    rational numerator ``n·Σc² − (Σc)²`` (the ``agg_value_variance_exact``
    convention, VARCHAR
    both sides so pandas dtype drift can never fail the hash).  A
    ``dead`` dimension (one level) carries zero signal and its byte
    should be dropped from the code; a ``coarse`` one (<16 levels)
    signals the train-set min/max clipped the live range — the two
    pathologies every FAISS-style SQ index audit looks for.

    Shape: the corpus-sized explode feeds a (dim, code) HISTOGRAM
    aggregate first — map-side combine collapses onto <= dims×256
    cells, so the second (per-dim) aggregate and everything after it
    run on a bounded frame no matter the corpus size.  Variance over
    the histogram (Σ code·cnt, Σ code²·cnt) is exactly the
    sufficient-statistics pass, just pre-binned — order-independent,
    digit-exact, no floats anywhere past the quantizer itself."""
    from xero_api_etl_utilities_spark.operators.quantize import sq8_codes

    emb = load_table(spark, sf_dir, "embeddings")
    codes = sq8_codes(emb, "vec_id", "embedding")
    hist = codes.groupBy("dim", "code").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    d38 = "decimal(38,0)"
    per_dim = hist.groupBy("dim").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("n_levels"),
        F.min("code").alias("c_min"),
        F.max("code").alias("c_max"),
        F.sum((F.col("code").cast("long") * F.col("cnt")).cast(d38)).alias("s"),
        F.sum(
            (
                F.col("code").cast("long") * F.col("code") * F.col("cnt")
            ).cast(d38)
        ).alias("ss"),
    )
    return per_dim.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_levels").cast("bigint").alias("n_levels"),
        F.col("c_min").cast("int").alias("c_min"),
        F.col("c_max").cast("int").alias("c_max"),
        (F.col("n").cast(d38) * F.col("ss") - F.col("s") * F.col("s"))
        .cast(d38)
        .cast("string")
        .alias("var_num"),
        F.when(F.col("n_levels") == 1, F.lit("dead"))
        .when(F.col("n_levels") < 16, F.lit("coarse"))
        .otherwise(F.lit("ok"))
        .alias("health"),
    ).orderBy("dim")


register(
    "embedding_dim_health",
    embedding_dim_health,
    """
WITH d AS (
  SELECT vec_id, CAST(r.i - 1 AS INT) AS dim,
         CAST(embedding[r.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
), st AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim
), codes AS (
  SELECT d.vec_id, d.dim,
    CAST(CASE WHEN st.mx - st.mn > 0
              THEN floor(((d.x - st.mn) * 255.0) / (st.mx - st.mn) + 0.5)
              ELSE 0 END AS INT) AS code
  FROM d JOIN st USING (dim)
), hist AS (
  SELECT dim, code, CAST(count(*) AS HUGEINT) AS cnt
  FROM codes GROUP BY 1, 2
), pd AS (
  SELECT dim, sum(cnt) AS n, count(*) AS n_levels,
         min(code) AS c_min, max(code) AS c_max,
         sum(code * cnt) AS s, sum(code * code * cnt) AS ss
  FROM hist GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
  CAST(n_levels AS BIGINT) AS n_levels, c_min, c_max,
  CAST(CAST(n * ss - s * s AS DECIMAL(38,0)) AS VARCHAR) AS var_num,
  CASE WHEN n_levels = 1 THEN 'dead' WHEN n_levels < 16 THEN 'coarse'
       ELSE 'ok' END AS health
FROM pd ORDER BY dim
""",
)


# ---------------------------------------------------------------------------
# kNN label purity — embedding-quality / label-noise census
# ---------------------------------------------------------------------------


# The 80-probe / k=10 brute-force shortlist feeds TWO catalog
# consumers (``similarity_label_purity`` purity and ``label_noise_kappa``
# kappa) — built once per session, so
# the second consumer's marginal cost is a broadcast join, not a
# second exact search (~5 s at sf0.1).
@session_memo("knn_shortlist")
def probe_knn_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 80)
    nn = sim.topk_bruteforce(queries, emb, k=10)
    return materialize(nn)


def similarity_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label kNN agreement — for a bounded deterministic
    query set, the share (bp) of each query's 10 nearest cosine
    neighbors that carry the query's own label. The standard
    embedding-quality / label-noise probe (a low-purity label is
    either under-clustered or mislabeled) a curation pipeline runs
    before trusting ``label`` for stratified sampling.

    Shape: the exactness-baseline ``topk_bruteforce`` (guard-caged to
    the 80-query probe set; the production-scale route would feed the
    same purity aggregate from the IVF shortlist, see
    ``similarity_topk_ivfpq_rerank``). The (80 x 10)-row neighbor
    shortlist is BROADCAST against the corpus label table, so the
    label join is map-side and the corpus never shuffles; the final
    aggregate is label-dimension-sized.
    """
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    nn = probe_knn_shortlist(spark, sf_dir)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    ql = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "ql"
    )
    nl = labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "label", "nl"
    )
    joined = (
        F.broadcast(nn)
        .join(ql, "query_id")
        .join(nl, "neighbor_id")
    )
    return (
        joined.groupBy(F.col("ql").alias("label"))
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.sum(
                F.when(F.col("nl") == F.col("ql"), F.lit(1)).otherwise(F.lit(0))
            ).alias("_match"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "label",
            "n_queries",
            F.expr("_match * 10000 div _n").cast("bigint").alias("knn_match_bp"),
        )
        .orderBy("label")
    )


register(
    "similarity_label_purity",
    similarity_label_purity,
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS ql
  FROM embeddings WHERE vec_id < 80
), scored AS (
  SELECT q.query_id, q.ql, c.vec_id AS nid, c.label AS nl,
         list_cosine_similarity(q.qv, c.embedding) AS s
  FROM q, embeddings c
  WHERE q.query_id <> c.vec_id
), ranked AS (
  SELECT query_id, ql, nl,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, nid ASC) AS rank
  FROM scored
)
SELECT CAST(ql AS INT) AS label,
       CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS knn_match_bp
FROM ranked WHERE rank <= 10
GROUP BY ql ORDER BY label
""",
)


# ---------------------------------------------------------------------------
# label-centroid pairwise cosine (class entanglement)
# ---------------------------------------------------------------------------

_CENTROID_COS_T = 0.12  # margin >= 3.6e-3 from every pair at sf0.001/0.01/0.1


def embedding_label_centroid_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which label centroids are entangled — pairwise cosine
    between per-label embedding centroids, emitting the pairs with
    cos >= 0.12: the class-confusion early warning a labeling run
    checks before training (entangled centroids predict the
    confusion-matrix hot spots ``similarity_label_purity``'s kNN purity measures at the
    instance grain).

    Engine stability: centroids are float means, so raw cosines
    differ across engines in the last ulp — the output is therefore
    IDS ONLY with a threshold sitting >= 3.6e-3 away from every
    pair's cosine at every sf (measured; the dedup_embedding_cosine
    argument).  The predicate is applied as dot > 0 AND
    dot² >= t²·n2a·n2b — no sqrt.

    Shape: ONE fact-sized aggregate (posexplode -> (label, dim) mean
    — map-side-combinable); everything after is labels x dims (~640
    rows): broadcast self-join on dim, pair aggregate, norm join.
    At 100 TB the fact aggregate is still the only big stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("cv"))
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("cv").alias("va")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("cv").alias("vb")
    )
    dots = (
        a.join(F.broadcast(b), "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    norms = cent.groupBy("label").agg(F.sum(F.col("cv") * F.col("cv")).alias("n2"))
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("n2b"))
    t2 = _CENTROID_COS_T * _CENTROID_COS_T
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .filter(
            (F.col("dot") > 0)
            & (F.col("dot") * F.col("dot") >= F.lit(t2) * F.col("n2a") * F.col("n2b"))
        )
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
        )
        .orderBy("label_a", "label_b")
    )


def _centroid_sim_oracle() -> str:
    t2 = _CENTROID_COS_T * _CENTROID_COS_T
    return f"""
WITH cent AS (
  SELECT label, CAST(t.d AS INT) AS dim, avg(embedding[t.d]) AS cv
  FROM embeddings, unnest(range(1, 65)) AS t(d)
  GROUP BY 1, 2
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.cv * b.cv) AS dot
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
), norms AS (
  SELECT label, sum(cv * cv) AS n2 FROM cent GROUP BY 1
)
SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b
FROM dots
JOIN norms na ON label_a = na.label
JOIN norms nb ON label_b = nb.label
WHERE dot > 0 AND dot * dot >= {t2!r} * na.n2 * nb.n2
ORDER BY label_a, label_b
"""


register(
    "embedding_label_centroid_sim",
    embedding_label_centroid_sim,
    _centroid_sim_oracle,
)


# ---------------------------------------------------------------------------
# MIPS top-k via the norm-augmentation reduction to cosine
# ---------------------------------------------------------------------------


def similarity_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MAX-INNER-PRODUCT top-5 — the recommendation-scoring
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


# ---------------------------------------------------------------------------
# embedding truncation-recall census (matryoshka-style)
# ---------------------------------------------------------------------------

_TRUNC_DIMS = (16, 32, 48, 64)


def similarity_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much nearest-neighbor fidelity survives truncating the
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


_K_CELLS = 16
_IVF_ITERS = 4
_IVF_SAMPLE = 1000


# ---------------------------------------------------------------------------
# truncation recall on the IVF scale path
# ---------------------------------------------------------------------------

_TRUNC_NPROBE = 2


def _trunc_cents_from_parquet(sf_dir: str, d: int) -> list[list[float]]:
    """Pyarrow twin of the per-width training: the first _IVF_SAMPLE
    rows by vec_id, sliced to the prefix width, through the shared
    k-means core — bit-identical to ivf.train_centroids over the
    sliced DataFrame."""
    import pyarrow.parquet as pq

    from xero_api_etl_utilities_spark.operators.ivf import _kmeans_unit

    tb = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = tb.column("vec_id").to_pylist()
    raw = tb.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])[:_IVF_SAMPLE]
    vecs = [[float(v) for v in raw[i][:d]] for i in order]
    return _kmeans_unit(vecs, _K_CELLS, _IVF_ITERS, 11)


def similarity_truncation_recall_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka truncation recall measured on the SCALE PATH —
    for each prefix width d' in ``_TRUNC_DIMS``, an IVF index is
    trained and searched entirely under the truncated vectors
    (centroids, cell assignment, candidate generation, exact-cosine
    rank within candidates all at d'), and its top-5 is scored against
    the full-dimension exact ground truth.  Where the brute-force
    truncation census answers "what does truncation alone cost", this
    answers the production question: "what recall does the index I
    would actually DEPLOY at width d' deliver" — truncation loss and
    IVF probe loss priced together (the d'=64 row isolates the latter).

    Lowering: ONE brute-force truth pass (20 query vectors, the
    exactness-instrument convention) + one ``ivf.topk_ivf`` per width —
    each is the production candidate shape (broadcast probe frame →
    cell equi-join, never all-pairs).  Membership compare is a
    (query, neighbor) semi-join per width; totals attach as the
    audited 1-row broadcast.  At 100 TB the same census runs on a
    sampled query set with no change of shape — the corpus-sized work
    is the per-width cell assignment, a zero-shuffle scan projection.

    Cross-engine exactness: cosine ties broken by neighbor id on both
    sides; recall_bp is the exact rounded integer division."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    # truth stays a plan subtree on purpose (measured): its five
    # references share one physical exchange via ReuseExchange, and
    # its stages overlap the per-width assignment stages inside the
    # one union job — a localCheckpoint here measured SLOWER (12.98 s
    # vs 10.55 s baseline) because it serializes the 20-partition
    # truth window into its own job.  What IS shared: all four widths
    # train on prefix slices of the SAME first-_IVF_SAMPLE rows, so
    # one TakeOrdered collect replaces four (guide §1.2; bit-identical
    # centroids — the oracle twin already trains from exactly this
    # collect-once-slice-per-width recipe).
    truth = sim.topk_bruteforce(
        emb.filter(F.col("vec_id") < 20), emb, k=5
    ).select("query_id", "neighbor_id")
    cents_by_width = ivf.train_centroids_prefix_widths(emb, _TRUNC_DIMS)

    tagged = None
    for d in _TRUNC_DIMS:
        tr = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        cents = cents_by_width[d]
        approx = ivf.topk_ivf(
            tr.filter(F.col("vec_id") < 20),
            tr,
            cents,
            k=5,
            nprobe=_TRUNC_NPROBE,
        ).select("query_id", "neighbor_id")
        m = truth.join(
            F.broadcast(approx), ["query_id", "neighbor_id"], "left_semi"
        ).select(F.lit(d).cast("int").alias("dims"))
        tagged = m if tagged is None else tagged.unionByName(m)

    total = truth.agg(F.count(F.lit(1)).alias("total"))
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


def _truncation_recall_ivf_oracle() -> str:
    sf_dir = oracle_sf_dir()

    def ivf_at(d: int) -> str:
        cents = _trunc_cents_from_parquet(sf_dir, d)
        structs = ", ".join(
            f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
            for i, c in enumerate(cents)
        )
        cells = (
            f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
        )
        return f"""
e{d} AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[])[1:{d}] AS v FROM embeddings
), corpus{d} AS (
  SELECT vec_id, v, ({cells})[1] AS cell FROM e{d}
), probes{d} AS (
  SELECT vec_id, UNNEST(({cells})[1:{_TRUNC_NPROBE}]) AS cell
  FROM e{d} WHERE vec_id < 20
), a{d} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, neighbor_id ASC) AS rank
    FROM (
      SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(eq.v, c.v) AS s
      FROM probes{d} p
      JOIN corpus{d} c ON c.cell = p.cell AND c.vec_id <> p.vec_id
      JOIN e{d} eq ON eq.vec_id = p.vec_id
    )
  ) WHERE rank <= 5
)"""

    chains = ",".join(ivf_at(d) for d in _TRUNC_DIMS)
    matched = "\nUNION ALL ".join(
        f"SELECT {d} AS dims, CAST(COUNT(*) AS BIGINT) AS matched"
        f" FROM truth t JOIN a{d} a USING (query_id, neighbor_id)"
        for d in _TRUNC_DIMS
    )
    return f"""
WITH truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                      c.vec_id ASC) AS rank
    FROM (SELECT * FROM embeddings WHERE vec_id < 20) q, embeddings c
    WHERE q.vec_id <> c.vec_id
  ) WHERE rank <= 5
), {chains},
m AS ({matched}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM truth)
SELECT CAST(dims AS INT) AS dims, matched, total,
  CAST((20000 * matched + total) // (2 * total) AS BIGINT) AS recall_bp
FROM m, tot
ORDER BY dims
"""


register(
    "similarity_truncation_recall_ivf",
    similarity_truncation_recall_ivf,
    _truncation_recall_ivf_oracle,
)


# ---------------------------------------------------------------------------
# IVF drift census — indexed corpus vs new arrivals under frozen cells
# ---------------------------------------------------------------------------

_DRIFT_HOT_X100 = 300


def similarity_ivf_drift_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-maintenance decision table.  The embeddings
    table splits into the INDEXED corpus (vec_id % 5 != 4)
    and NEW ARRIVALS (vec_id % 5 == 4); centroids train on the corpus
    only and are then FROZEN — exactly the state of a deployed index
    when fresh data lands.  Per cell: corpus and arrival counts, load
    factors vs perfect balance (100 = balanced, integer
    cross-multiplied), and the hot flag (arrival load factor past
    ``_DRIFT_HOT_X100``) that tells the scheduler this cell is
    absorbing disproportionate new mass — the "re-train k or
    re-balance" signal, ``similarity_ivf_cell_balance``'s rule
    applied to the arrival stream.

    Shape: two zero-shuffle assignment projections (inlined centroid
    literals), two 16-cell aggregates, a k-row range completion, two
    1-row broadcast totals.  Corpus-linear, no window, no data
    collect."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    arrivals = emb.filter(F.col("vec_id") % 5 == 4)
    cents = ivf.train_centroids(corpus)

    # the corpus census, arrival census and the two 1-row totals would
    # each re-scan and re-assign the table — four passes where one
    # suffices.  One tagged assignment pass feeds a
    # single per-cell aggregate; the totals are the column sums of
    # that ≤k-row frame (every vector gets exactly one nprobe=1 cell,
    # so the sums equal the global counts), which is checkpointed so
    # its two consumers don't re-run the scan.
    counts = materialize(
        ivf.assign_cells(
            emb.withColumn("_new", F.col("vec_id") % 5 == 4), cents, nprobe=1
        )
        .groupBy("cell")
        .agg(
            F.sum((~F.col("_new")).cast("long")).alias("n_index"),
            F.sum(F.col("_new").cast("long")).alias("n_new"),
        )
    )
    totals = counts.agg(
        F.sum("n_index").alias("_ti"), F.sum("n_new").alias("_tn")
    )
    cells = spark.range(_K_CELLS).select(F.col("id").cast("int").alias("cell"))
    return (
        cells.join(F.broadcast(counts), "cell", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "cell",
            F.coalesce(F.col("n_index"), F.lit(0)).cast("bigint").alias("n_index"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new"),
            F.expr(f"coalesce(n_index, 0) * 100 * {_K_CELLS} div _ti")
            .cast("bigint")
            .alias("index_load_x100"),
            F.expr(f"coalesce(n_new, 0) * 100 * {_K_CELLS} div _tn")
            .cast("bigint")
            .alias("new_load_x100"),
            (
                F.expr(f"coalesce(n_new, 0) * 100 * {_K_CELLS} div _tn")
                > F.lit(_DRIFT_HOT_X100)
            ).alias("hot"),
        )
        .orderBy("cell")
    )


def _drift_census_oracle() -> str:
    import pyarrow.parquet as pq

    from xero_api_etl_utilities_spark.operators.ivf import _kmeans_unit

    sf_dir = oracle_sf_dir()
    tb = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = tb.column("vec_id").to_pylist()
    raw = tb.column("embedding").to_pylist()
    kept = [i for i in sorted(range(len(ids)), key=lambda i: ids[i]) if ids[i] % 5 != 4]
    vecs = [[float(v) for v in raw[i]] for i in kept[:_IVF_SAMPLE]]
    cents = _kmeans_unit(vecs, _K_CELLS, _IVF_ITERS, 11)
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cell1 = f"(list_transform(list_reverse(list_sort([{structs}])), s -> s.cell))[1]"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), a_idx AS (
  SELECT {cell1} AS cell, count(*)::BIGINT AS n_index
  FROM e WHERE vec_id % 5 != 4 GROUP BY 1
), a_new AS (
  SELECT {cell1} AS cell, count(*)::BIGINT AS n_new
  FROM e WHERE vec_id % 5 = 4 GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM e WHERE vec_id % 5 != 4)::BIGINT AS ti,
         (SELECT count(*) FROM e WHERE vec_id % 5 = 4)::BIGINT AS tn
)
SELECT CAST(r.range AS INT) AS cell,
  coalesce(i.n_index, 0)::BIGINT AS n_index,
  coalesce(n.n_new, 0)::BIGINT AS n_new,
  CAST(coalesce(i.n_index, 0) * 100 * {_K_CELLS} // ti AS BIGINT) AS index_load_x100,
  CAST(coalesce(n.n_new, 0) * 100 * {_K_CELLS} // tn AS BIGINT) AS new_load_x100,
  (coalesce(n.n_new, 0) * 100 * {_K_CELLS} // tn > {_DRIFT_HOT_X100}) AS hot
FROM range({_K_CELLS}) r
LEFT JOIN a_idx i ON i.cell = r.range
LEFT JOIN a_new n ON n.cell = r.range
CROSS JOIN tot
ORDER BY cell
"""


register(
    "similarity_ivf_drift_census",
    similarity_ivf_drift_census,
    _drift_census_oracle,
)


# ---------------------------------------------------------------------------
# residual-encoded IVF-PQ (IVFADC) search
# ---------------------------------------------------------------------------

# the residual index materializes once per session: one encode feeds
# every search
@session_memo("rpq_index")
def _rpq_index(spark: SparkSession, sf_dir: str):
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.train_centroids(emb)
    books = train_pq_codebooks_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"),
        residual_centroids=cents,
    )
    index = materialize(ivf.encode_ivfpq_residual(emb, cents, books))
    return cents, books, index


def similarity_topk_ivfpq_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the full IVFADC recipe
    (Jégou et al. 2011): the index stores PQ codes of v − c(cell), and
    each query builds its ADC distance tables per probed cell from
    q − c(cell).  The residual distribution is far tighter than the
    raw one (the centroid absorbed the coarse structure), so the same
    16-codes-per-subspace budget quantizes it with materially less
    error — the standard accuracy upgrade at identical index bytes
    (4 B/vector), and the reason FAISS's IndexIVFPQ encodes residuals
    by default.

    Scale shape identical to similarity_topk_ivfpq: the searchable
    index is (id, cell, m codes); candidates come from ONE cell
    equi-join; corpus float vectors are never touched at search time.
    The only delta is table construction cost — nprobe tables per
    query instead of one — which is O(nprobe·k·dim) driver/executor
    float math per query, unchanged in shape.

    Oracle: bit-identical geometry via the pyarrow twins
    (residual_centroids re-derives cells with the assign_cells tie
    rule), then SQL replays residual encode + per-probe-cell ADC with
    the repo's fixed-association float sums."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    cents, books, index = _rpq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf_pq(
        queries,
        emb,
        cents,
        books,
        k=5,
        nprobe=4,
        corpus_index=index,
        residual=True,
    )


def _ivfpq_residual_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )
    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    books = train_pq_codebooks_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), residual_centroids=cents
    )
    ds = len(books[0][0])
    cell_structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{cell_structs}])), s -> s.cell)"
    cent_lits = "[" + ", ".join(vec_lit(c) for c in cents) + "]"
    book_lits = ", ".join(
        "[" + ", ".join(vec_lit(c) for c in book) + f"] AS b{s}"
        for s, book in enumerate(books)
    )
    # corpus residual codes: ((v[i] - cl[cell+1][i]) - cd)^2 summed
    # with the exact left-to-right association of the Spark encode
    # (zip_with residual materialized, then the fixed-order sum)
    code_cols = []
    for s, book in enumerate(books):
        dists = []
        for c in book:
            terms = " + ".join(
                f"((v[{s * ds + d + 1}] - cl[cell + 1][{s * ds + d + 1}])"
                f" - {float(cd)!r})"
                f" * ((v[{s * ds + d + 1}] - cl[cell + 1][{s * ds + d + 1}])"
                f" - {float(cd)!r})"
                for d, cd in enumerate(c)
            )
            dists.append(f"({terms})")
        lst = f"[{', '.join(dists)}]"
        code_cols.append(f"list_position({lst}, list_min({lst})) - 1 AS code_{s}")
    # ADC score: query residual vs the coded residual centroid — the
    # residual tables' ((q_d - c_d) - y_d)^2 with matching association
    score_terms = " + ".join(
        "("
        + " + ".join(
            f"((eq.v[{s * ds + d + 1}] - cl[p.cell + 1][{s * ds + d + 1}])"
            f" - b{s}[c.code_{s} + 1][{d + 1}])"
            f" * ((eq.v[{s * ds + d + 1}] - cl[p.cell + 1][{s * ds + d + 1}])"
            f" - b{s}[c.code_{s} + 1][{d + 1}])"
            for d in range(ds)
        )
        + ")"
        for s in range(len(books))
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), geom AS (
  SELECT {cent_lits} AS cl, {book_lits}
), corpus0 AS (
  SELECT vec_id, v, ({cells})[1] AS cell FROM e
), corpus AS (
  SELECT vec_id, cell, {", ".join(code_cols)}
  FROM corpus0 CROSS JOIN geom
), probes AS (
  SELECT vec_id, UNNEST(({cells})[1:4]) AS cell
  FROM e WHERE vec_id < 20
), scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {score_terms} AS sc
  FROM probes p
  JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.vec_id
  JOIN e eq ON eq.vec_id = p.vec_id
  CROSS JOIN geom
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sc ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


register(
    "similarity_topk_ivfpq_residual",
    similarity_topk_ivfpq_residual,
    _ivfpq_residual_oracle,
)


# ---------------------------------------------------------------------------
# retrain delta census — the "what does acting on the drift flag buy"
# ---------------------------------------------------------------------------


def _split_cents_from_parquet(sf_dir: str, corpus_only: bool) -> list[list[float]]:
    """Pyarrow twin of the ``similarity_ivf_retrain_delta`` trainings: the
    first _IVF_SAMPLE rows
    by vec_id — over the indexed corpus (vec_id % 5 != 4) for the OLD
    geometry, over the full table for the NEW one — through the shared
    k-means core, bit-identical to train_centroids over the same
    DataFrame filter."""
    import pyarrow.parquet as pq

    from xero_api_etl_utilities_spark.operators.ivf import _kmeans_unit

    tb = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = tb.column("vec_id").to_pylist()
    raw = tb.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    if corpus_only:
        order = [i for i in order if ids[i] % 5 != 4]
    vecs = [[float(v) for v in raw[i]] for i in order[:_IVF_SAMPLE]]
    return _kmeans_unit(vecs, _K_CELLS, _IVF_ITERS, 11)


def similarity_ivf_retrain_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain DELTA census — the third act of the ANN lifecycle.
    ``similarity_ivf_drift_census`` flags drift under the frozen
    geometry; this
    query prices the retrain the flag asks for: centroids re-trained
    on the full table (indexed corpus + arrivals, same sample recipe)
    against the OLD corpus-only geometry, and per OLD cell: how many
    vectors it held (n_before), how many the retrained geometry puts
    in the same cell id (n_after), how many of its members MOVED to a
    different cell (moved_out), and the churn rate in rounded bp.
    Reassignment churn is the real cost of acting on the drift flag —
    every moved vector is an index-build write at 100 TB — so the
    scheduler weighs churn_bp against the hot-cell imbalance the drift
    census reported.

    Shape: both assignments ride ONE zero-shuffle scan projection
    (two inlined-literal argmax expressions per row, no join between
    geometries), then two 16-row aggregates and a k-row range
    completion.  Corpus-linear, no window, no data collect; at 100 TB
    the projection is the same map-only pass the index rebuild itself
    performs.  Integer bp division is the repo's exact
    round-half-up convention (cross-engine safe)."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators.ivf import _centroid_scores

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    old = ivf.train_centroids(corpus)
    new = ivf.train_centroids(emb)

    def top1(cents):
        scored = F.reverse(F.array_sort(_centroid_scores(F.col("embedding"), cents)))
        return scored[0]["cell"]

    both = emb.select(
        top1(old).alias("old_cell"), top1(new).alias("new_cell")
    )
    # before/after would aggregate the SAME scan projection on two
    # branches — each branch re-evaluating both 16-centroid
    # argmax expressions over the whole table.  Pre-aggregate to the
    # k×k transition grid in one pass (map-side combinable), checkpoint
    # the ≤256-row grid, and derive both census sides from it — counts
    # are identical by associativity of the grouped sums.
    grid = materialize(
        both.groupBy("old_cell", "new_cell").agg(F.count(F.lit(1)).alias("n"))
    )
    before = grid.groupBy("old_cell").agg(
        F.sum("n").alias("n_before"),
        F.sum(
            F.when(F.col("new_cell") != F.col("old_cell"), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("moved_out"),
    )
    after = grid.groupBy("new_cell").agg(F.sum("n").alias("n_after"))
    cells = spark.range(_K_CELLS).select(F.col("id").cast("int").alias("cell"))
    return (
        cells.join(F.broadcast(before), cells.cell == before.old_cell, "left")
        .join(F.broadcast(after), cells.cell == after.new_cell, "left")
        .select(
            "cell",
            F.coalesce(F.col("n_before"), F.lit(0)).cast("bigint").alias("n_before"),
            F.coalesce(F.col("n_after"), F.lit(0)).cast("bigint").alias("n_after"),
            F.coalesce(F.col("moved_out"), F.lit(0)).cast("bigint").alias("moved_out"),
            F.expr(
                "CASE WHEN coalesce(n_before, 0) = 0 THEN 0 ELSE "
                "(20000 * moved_out + n_before) div (2 * n_before) END"
            ).cast("bigint").alias("churn_bp"),
        )
        .orderBy("cell")
    )


def _retrain_delta_oracle() -> str:
    sf_dir = oracle_sf_dir()

    def cell1(cents) -> str:
        structs = ", ".join(
            f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
            for i, c in enumerate(cents)
        )
        return (
            f"(list_transform(list_reverse(list_sort([{structs}])),"
            f" s -> s.cell))[1]"
        )

    old1 = cell1(_split_cents_from_parquet(sf_dir, corpus_only=True))
    new1 = cell1(_split_cents_from_parquet(sf_dir, corpus_only=False))
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), a AS (
  SELECT {old1} AS old_cell, {new1} AS new_cell FROM e
), b AS (
  SELECT old_cell AS cell, count(*)::BIGINT AS n_before,
         sum(CASE WHEN new_cell <> old_cell THEN 1 ELSE 0 END)::BIGINT
           AS moved_out
  FROM a GROUP BY 1
), c AS (
  SELECT new_cell AS cell, count(*)::BIGINT AS n_after FROM a GROUP BY 1
)
SELECT CAST(r.range AS INT) AS cell,
  coalesce(b.n_before, 0)::BIGINT AS n_before,
  coalesce(c.n_after, 0)::BIGINT AS n_after,
  coalesce(b.moved_out, 0)::BIGINT AS moved_out,
  CAST(CASE WHEN coalesce(b.n_before, 0) = 0 THEN 0 ELSE
    (20000 * b.moved_out + b.n_before) // (2 * b.n_before) END AS BIGINT)
    AS churn_bp
FROM range({_K_CELLS}) r
LEFT JOIN b ON b.cell = r.range
LEFT JOIN c ON c.cell = r.range
ORDER BY cell
"""


register(
    "similarity_ivf_retrain_delta",
    similarity_ivf_retrain_delta,
    _retrain_delta_oracle,
)


# ---------------------------------------------------------------------------
# retrain recall delta — the benefit side of the retrain churn cost
# ---------------------------------------------------------------------------

_RETRAIN_NPROBE = 2


def similarity_ivf_retrain_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the retrain BUYS — top-5 recall of the deployed IVF
    index under the FROZEN corpus-only geometry vs the RETRAINED
    full-table geometry, both searching the full vector set (arrivals
    included, as the maintenance sink leaves it), both scored against
    the same 20-query full-dimension exact truth.  Together with the
    drift census (the drift flag) and the retrain delta (the
    reassignment churn the retrain costs), this closes the index-lifecycle decision table: retrain
    when recall_bp(retrained) − recall_bp(frozen) justifies churn_bp.

    Shape: the truncation-recall per-geometry search loop at full width — ONE
    guard-caged brute-force truth pass, one ``ivf.topk_ivf`` per
    geometry (broadcast probe frame → cell equi-join, never
    all-pairs), membership semi-joins, the audited 1-row broadcast
    total.  At 100 TB the census runs on a sampled query set
    unchanged; the only corpus-sized work is each geometry's
    zero-shuffle cell assignment."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 4)
    geoms = [
        ("frozen", ivf.train_centroids(corpus)),
        ("retrained", ivf.train_centroids(emb)),
    ]
    truth = sim.topk_bruteforce(
        emb.filter(F.col("vec_id") < 20), emb, k=5
    ).select("query_id", "neighbor_id")

    tagged = None
    for gname, cents in geoms:
        approx = ivf.topk_ivf(
            emb.filter(F.col("vec_id") < 20),
            emb,
            cents,
            k=5,
            nprobe=_RETRAIN_NPROBE,
        ).select("query_id", "neighbor_id")
        m = truth.join(
            F.broadcast(approx), ["query_id", "neighbor_id"], "left_semi"
        ).select(F.lit(gname).alias("geometry"))
        tagged = m if tagged is None else tagged.unionByName(m)

    total = truth.agg(F.count(F.lit(1)).alias("total"))
    # a geometry whose semi-join matches ZERO truth pairs
    # would vanish from the groupBy while the oracle's UNION ALL
    # always emits both geometry rows with matched=0 — anchor the
    # census on a literal two-row geometry frame so both engines emit
    # exactly two rows regardless of matched count.
    geom_names = spark.createDataFrame(
        [(g,) for g, _ in geoms], "geometry string"
    )
    counts = tagged.groupBy("geometry").agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_raw")
    )
    return (
        geom_names.join(F.broadcast(counts), "geometry", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "geometry",
            F.coalesce("matched_raw", F.lit(0))
            .cast("bigint")
            .alias("matched"),
            F.col("total").cast("bigint").alias("total"),
        )
        .withColumn(
            "recall_bp",
            F.expr(
                "CAST((20000 * matched + total) div (2 * total) AS BIGINT)"
            ),
        )
        .orderBy("geometry")
    )


def _retrain_recall_oracle() -> str:
    sf_dir = oracle_sf_dir()

    def ivf_for(tag: str, cents) -> str:
        structs = ", ".join(
            f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
            for i, c in enumerate(cents)
        )
        cells = (
            f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
        )
        return f"""
corpus_{tag} AS (
  SELECT vec_id, v, ({cells})[1] AS cell FROM e
), probes_{tag} AS (
  SELECT vec_id, UNNEST(({cells})[1:{_RETRAIN_NPROBE}]) AS cell
  FROM e WHERE vec_id < 20
), a_{tag} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, neighbor_id ASC) AS rank
    FROM (
      SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(eq.v, c.v) AS s
      FROM probes_{tag} p
      JOIN corpus_{tag} c ON c.cell = p.cell AND c.vec_id <> p.vec_id
      JOIN e eq ON eq.vec_id = p.vec_id
    )
  ) WHERE rank <= 5
)"""

    old = ivf_for("frozen", _split_cents_from_parquet(sf_dir, corpus_only=True))
    new = ivf_for(
        "retrained", _split_cents_from_parquet(sf_dir, corpus_only=False)
    )
    matched = "\nUNION ALL ".join(
        f"SELECT '{tag}' AS geometry, CAST(COUNT(*) AS BIGINT) AS matched"
        f" FROM truth t JOIN a_{tag} a USING (query_id, neighbor_id)"
        for tag in ("frozen", "retrained")
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                      c.vec_id ASC) AS rank
    FROM (SELECT * FROM e WHERE vec_id < 20) q, e c
    WHERE q.vec_id <> c.vec_id
  ) WHERE rank <= 5
), {old}, {new},
m AS ({matched}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM truth)
SELECT geometry, matched, total,
  CAST((20000 * matched + total) // (2 * total) AS BIGINT) AS recall_bp
FROM m, tot
ORDER BY geometry
"""


register(
    "similarity_ivf_retrain_recall",
    similarity_ivf_retrain_recall,
    _retrain_recall_oracle,
)


# ---------------------------------------------------------------------------
# IVF index absorb — append-maintained ANN, censused vs re-assignment
# ---------------------------------------------------------------------------


@session_memo("ivf_index")
def publish_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the IVF cell index as the similarity tier's store-side
    artifact, once per session: the frozen coarse quantizer (the
    standard k=16 / iters=4 / sample=1000 trainer every IVF entry in
    this repo uses) assigns the corpus vectors (vec_id % 5 != 4) under
    ``index/part=corpus``, then the crawl arrivals (vec_id % 5 == 4)
    are assigned with the SAME centroids — map-only, broadcast
    literals, no shuffle — and appended as ``index/part=arrivals``.

    100 TB shape: the index is the ~8 B/vector (vec_id, cell) sidecar
    an ANN store keeps; absorbing a crawl costs one scan of the batch
    against 16 inlined centroids, and the quantizer retrain decision
    is a separate drift-gated operation (the retrain lifecycle)."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    path = os.path.abspath(
        os.path.join(
            os.path.dirname(catalog_dir(sf_dir, "x")),
            "..",
            "ivf_index",
            f"{os.path.basename(sf_dir.rstrip(os.sep))}"
            f"-{spark.sparkContext.applicationId}",
        )
    )
    prune_stale_runs(path, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.train_centroids(emb)
    for part, pred in (
        ("corpus", F.col("vec_id") % 5 != 4),
        ("arrivals", F.col("vec_id") % 5 == 4),
    ):
        ivf.assign_cells(emb.filter(pred), cents).select(
            "vec_id", "cell"
        ).write.mode("overwrite").parquet(
            os.path.join(path, "index", f"part={part}")
        )
    return path


def similarity_index_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorb-vs-rebuild for the ANN index — the combined
    read-back (corpus partition ∪ the arrivals absorbed under the
    frozen quantizer) censused per cell: vector count, how many came
    from the absorbed crawl, and an id checksum.  The oracle
    re-assigns EVERY vector from the raw embeddings with the same
    inlined centroid literals; hash-equality proves
    absorb(arrivals) ≡ rebuild(all vectors) — cell assignment is a
    pure per-vector function of the frozen centroids, which is
    exactly why a production IVF index is maintained by appending
    each crawl's assignments instead of re-indexing the corpus."""
    path = publish_ivf_index(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(path, "index")).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )
    return idx.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum((F.col("vec_id") % 5 == 4).cast("int"))
        .cast("bigint")
        .alias("n_absorbed"),
        F.sum(F.col("vec_id") % HASH_P).cast("bigint").alias("id_hash_sum"),
    )


def _index_absorb_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    cents = train_centroids_from_parquet(os.path.join(oracle_sf_dir(), "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assigned AS (
  SELECT vec_id, ({cells})[1] AS cell FROM e
)
SELECT CAST(cell AS INT) AS cell,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_absorbed,
  CAST(SUM(vec_id % {HASH_P}) AS BIGINT) AS id_hash_sum
FROM assigned GROUP BY cell
"""


register(
    "similarity_index_absorb", similarity_index_absorb, _index_absorb_oracle
)


# ---------------------------------------------------------------------------
# IVF index expiry — tombstone deletes on the ANN sidecar
# ---------------------------------------------------------------------------

# vec_id % 7 == 3 plays the takedown list (``dedup_catalog_expire``'s rule)
_VEC_TOMBSTONE_MOD = 7


def similarity_index_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expire a takedown list from the persisted IVF index — the
    right-to-be-forgotten operation on the similarity tier, without
    touching an embedding.  The tombstone set (vec_id % 7 == 3, the
    ``dedup_catalog_expire`` convention) broadcast-anti-joins the full persisted index
    (corpus ∪ absorbed arrivals, off parquet); survivors are censused
    per cell — count, absorbed-crawl count, id checksum — against an
    oracle that RE-ASSIGNS the shrunk vector set from the raw
    embeddings with the same frozen centroid literals.  Equality
    proves expire(tombstones) ≡ rebuild(vectors ∖ tombstones):
    deletes are id-local in the ~8 B/vector sidecar, exactly like
    absorbs are batch-local, so the index never rebuilds.

    Lowering: a legal takedown list is dimension-sized at any corpus
    scale, so it broadcasts; the index never shuffles — one sidecar
    scan, one broadcast anti-join, one 16-group aggregate."""
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    path = publish_ivf_index(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(path, "index")).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )
    tombstones = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _VEC_TOMBSTONE_MOD == 3)
        .select("vec_id")
    )
    surviving = idx.join(F.broadcast(tombstones), "vec_id", "left_anti")
    return surviving.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum((F.col("vec_id") % 5 == 4).cast("int"))
        .cast("bigint")
        .alias("n_absorbed"),
        F.sum(F.col("vec_id") % HASH_P).cast("bigint").alias("id_hash_sum"),
    )


def _index_expire_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    cents = train_centroids_from_parquet(os.path.join(oracle_sf_dir(), "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id % {_VEC_TOMBSTONE_MOD} <> 3
), assigned AS (
  SELECT vec_id, ({cells})[1] AS cell FROM e
)
SELECT CAST(cell AS INT) AS cell,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_absorbed,
  CAST(SUM(vec_id % {HASH_P}) AS BIGINT) AS id_hash_sum
FROM assigned GROUP BY cell
"""


register(
    "similarity_index_expire", similarity_index_expire, _index_expire_oracle
)
