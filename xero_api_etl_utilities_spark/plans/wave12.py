"""Round-12 wave (X164–X166): the ANN index-lifecycle queries.

The r11 wave closed the matryoshka EXACTNESS instrument (X162:
brute-force truncation recall, bounded by design); this wave adds the
pieces a production vector platform runs continuously:

- X164 ``similarity_truncation_recall_ivf`` — truncation recall on the
  SCALE PATH: an IVF index per prefix width, searched under truncated
  vectors, scored against the full-dimension exact truth.  This is the
  sizing table matryoshka serving actually consults (Kusupati et al.
  2022): it prices truncation AND the approximate index together, so
  the d'=64 row doubles as the pure-IVF recall baseline.
- X165 ``similarity_ivf_drift_census`` — the index-maintenance drift
  trigger: newly-arrived vectors assigned under the FROZEN
  corpus-trained centroids, per-cell load factors for the indexed
  corpus vs the arrivals, and the hot-cell flag that says "retrain".
- X166 ``similarity_topk_ivfpq_residual`` — IVF-PQ with RESIDUAL
  encoding (the FAISS IVFADC recipe, Jégou et al. 2011): codes model
  v − c(cell) instead of v, spending the same 4 bytes/vector on the
  much tighter residual distribution.  Same ADC search shape as
  similarity_topk_ivfpq — per-query distance tables are simply built
  per probed cell from q − c(cell).

Reference provenance: the reference ETL (src/queries.ts) has no vector
tier; these extend the training-data-pipeline surface the brief
requires.  Oracles re-train bit-identical geometry via the pyarrow
twins and replay assignment/encoding/ADC in SQL with the repo's
fixed-association float convention.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.materialize import materialize, session_memo
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table

_K_CELLS = 16
_IVF_ITERS = 4
_IVF_SAMPLE = 1000


# ---------------------------------------------------------------------------
# X164: truncation recall on the IVF scale path
# ---------------------------------------------------------------------------

_TRUNC_DIMS = (16, 32, 48, 64)
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
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    sf_dir = oracle_sf_dir()

    def ivf_at(d: int) -> str:
        cents = _trunc_cents_from_parquet(sf_dir, d)
        structs = ", ".join(
            f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
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
# X165: IVF drift census — indexed corpus vs new arrivals under frozen cells
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
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

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
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
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
# X166: residual-encoded IVF-PQ (IVFADC) search
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
    """X166: IVF-PQ with RESIDUAL encoding — the full IVFADC recipe
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
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    books = train_pq_codebooks_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), residual_centroids=cents
    )
    ds = len(books[0][0])
    cell_structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{cell_structs}])), s -> s.cell)"
    cent_lits = "[" + ", ".join(_vec_lit(c) for c in cents) + "]"
    book_lits = ", ".join(
        "[" + ", ".join(_vec_lit(c) for c in book) + f"] AS b{s}"
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
# X167: retrain delta census — the "what does acting on the drift flag buy"
# ---------------------------------------------------------------------------


def _split_cents_from_parquet(sf_dir: str, corpus_only: bool) -> list[list[float]]:
    """Pyarrow twin of the X167 trainings: the first _IVF_SAMPLE rows
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
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    sf_dir = oracle_sf_dir()

    def cell1(cents) -> str:
        structs = ", ".join(
            f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
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
# X168: funnel with NEGATION — view→purchase within 7 days, no error between
# ---------------------------------------------------------------------------


def events_funnel_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X168: MATCH_RECOGNIZE-style sequence pattern with an EXCLUSION
    term — per user, a purchase CONVERTS when (a) a view precedes it,
    (b) the purchase lands within 7 days of the LATEST such view, and
    (c) no error event falls strictly between that view and the
    purchase.  The existing funnel family (events_funnel,
    events_top_paths) covers positive progressions; the negated
    middle term is the shape ANSI row-pattern matching exists for
    (A B* C with B excluded), re-expressed here without any engine
    extension.

    Spark-first shape: ONE shuffle (groupBy user) + an ordered
    linear-time fold over each user's event array tracking the last
    view and last error as (ts, event_id) structs — the exclusion test
    is one lexicographic struct compare (last_error < last_view), so
    ties at identical timestamps resolve identically in both engines
    via the event_id tiebreak.  The oracle runs the window-function
    formulation (row_number sequencing + two running maxes + a
    join-back for the view timestamp); both provably classify each
    purchase identically.  Per-user event counts are bounded
    (sessionized upstream), so the collected arrays stay small; at
    100 TB this stays one pass per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    pair_t = "struct<ts:timestamp_ntz,id:bigint>"

    def mark(e):
        return F.struct(e["ts"].alias("ts"), e["event_id"].alias("id"))

    def repack(acc, lv=None, le=None, np=None, nc=None, fc=None):
        return F.struct(
            (lv if lv is not None else acc["lv"]).alias("lv"),
            (le if le is not None else acc["le"]).alias("le"),
            (np if np is not None else acc["np"]).alias("np"),
            (nc if nc is not None else acc["nc"]).alias("nc"),
            (fc if fc is not None else acc["fc"]).alias("fc"),
        )

    def step(acc, e):
        converts = (
            acc["lv"].isNotNull()
            & (e["ts"] <= acc["lv"]["ts"] + F.expr("INTERVAL 7 DAYS"))
            & (acc["le"].isNull() | (acc["le"] < acc["lv"]))
        )
        return (
            F.when(e["event_type"] == "view", repack(acc, lv=mark(e)))
            .when(e["event_type"] == "error", repack(acc, le=mark(e)))
            .when(
                e["event_type"] == "purchase",
                repack(
                    acc,
                    np=acc["np"] + F.lit(1).cast("bigint"),
                    nc=acc["nc"]
                    + F.when(converts, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
                    fc=F.when(
                        converts & acc["fc"].isNull(), e["ts"]
                    ).otherwise(acc["fc"]),
                ),
            )
            .otherwise(acc)
        )

    init = F.struct(
        F.lit(None).cast(pair_t).alias("lv"),
        F.lit(None).cast(pair_t).alias("le"),
        F.lit(0).cast("bigint").alias("np"),
        F.lit(0).cast("bigint").alias("nc"),
        F.lit(None).cast("timestamp_ntz").alias("fc"),
    )
    return (
        ev.groupBy("user_id")
        .agg(F.aggregate(arr, init, step).alias("f"))
        .filter(F.col("f.np") > 0)
        .select(
            "user_id",
            F.col("f.np").alias("n_purchases"),
            F.col("f.nc").alias("n_converted"),
            F.col("f.fc").alias("first_conversion_ts"),
        )
    )


_FUNNEL_EXCLUSION_ORACLE = """
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), o AS (
  SELECT user_id, ts, event_type, rn,
         max(CASE WHEN event_type = 'view' THEN rn END) OVER w AS lv_rn,
         max(CASE WHEN event_type = 'error' THEN rn END) OVER w AS le_rn
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), p AS (
  SELECT o.user_id, o.ts,
         (o.lv_rn IS NOT NULL
          AND o.ts <= v.ts + INTERVAL 7 DAY
          AND (o.le_rn IS NULL OR o.le_rn < o.lv_rn)) AS conv
  FROM o
  LEFT JOIN s v ON v.user_id = o.user_id AND v.rn = o.lv_rn
  WHERE o.event_type = 'purchase'
)
SELECT user_id,
  count(*)::BIGINT AS n_purchases,
  sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT AS n_converted,
  min(CASE WHEN conv THEN ts END) AS first_conversion_ts
FROM p
GROUP BY user_id
"""


register(
    "events_funnel_exclusion",
    events_funnel_exclusion,
    _FUNNEL_EXCLUSION_ORACLE,
)


# ---------------------------------------------------------------------------
# X169: retrain recall delta — the benefit side of the X167 churn cost
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
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    sf_dir = oracle_sf_dir()

    def ivf_for(tag: str, cents) -> str:
        structs = ", ".join(
            f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
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
