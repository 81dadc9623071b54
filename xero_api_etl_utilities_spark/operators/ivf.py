"""IVF (inverted-file) approximate nearest neighbor search.

The second scale path next to hyperplane LSH (operators/similarity.py):
partition the corpus into k centroid cells, search only the query's
``nprobe`` nearest cells.

Division of labor at 100 TB:
- centroid TRAINING is a driver-side k-means over a bounded sample
  (centroids are tiny — k×dim floats — and k-means over a sample is
  the standard IVF recipe);
- cell ASSIGNMENT is pure column math (dot products against inlined
  centroid literals — JVM-side, codegen'd, no Python);
- SEARCH is an equi-join on cell id: corpus cells are the shuffle
  unit, the probe set broadcasts, candidates shrink ~k/nprobe-fold.

Determinism contract: the training sample is the first ``sample`` rows
ORDERED BY the id column, and the k-means core is a single shared
numpy routine — so ``train_centroids`` (Spark collect path) and
``train_centroids_from_parquet`` (pyarrow path, used to generate the
DuckDB oracle with inlined centroid literals) produce bit-identical
centroids from the same file.
"""

from __future__ import annotations

import random

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.litfold import lit_doubles
from xero_api_etl_utilities_spark.operators.similarity import (
    _ID_COL,
    _VEC_COL,
    _dot,
    _norm,
    cosine,
)


def _kmeans_unit(
    vecs: list[list[float]], k: int, iters: int, seed: int
) -> list[list[float]]:
    """Spherical k-means (unit-normalized, cosine space) over an
    ordered vector list. Shared by the Spark and parquet twins so the
    oracle's centroids are bit-identical to the plan's."""
    x = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0.0] = 1.0
    x = x / norms[:, None]
    rng = random.Random(seed)
    idx = rng.sample(range(len(vecs)), min(k, len(vecs)))
    cents = x[idx].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for ci in range(len(cents)):
            members = x[assign == ci]
            if len(members):
                s = members.sum(axis=0)
                n = np.linalg.norm(s) or 1.0
                cents[ci] = s / n
    return [[float(v) for v in c] for c in cents]


def train_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 4,
    sample: int = 1000,
    seed: int = 11,
) -> list[list[float]]:
    """Driver-side k-means over the first ``sample`` rows by ``vec_id``
    (deterministic regardless of scan/partition order — a bounded
    TakeOrdered, the FAISS-style IVF training recipe). Returns k unit
    centroids.  The defaults are the catalog's index; tests train
    smaller ones on small clustered fixtures."""
    rows = df.select(_ID_COL, _VEC_COL).orderBy(_ID_COL).limit(sample).collect()
    vecs = [[float(v) for v in r[1]] for r in rows]
    return _kmeans_unit(vecs, k, iters, seed)


def train_centroids_prefix_widths(
    df: DataFrame, widths: tuple[int, ...]
) -> dict[int, list[list[float]]]:
    """Per-prefix-width centroids from ONE ordered-sample collect.

    Bit-identical to calling :func:`train_centroids` on
    ``df.select(slice(vec, 1, d))`` per width — the sample rows are
    chosen by ``vec_id`` alone, and slicing the collected doubles
    driver-side is the same bytes as slicing in the plan — but pays a
    single TakeOrdered job instead of ``len(widths)`` (a per-width
    collect would read the SAME sample rows once per width).  The
    DuckDB oracle twin (plans/retrieval_ops._trunc_cents_from_parquet)
    uses exactly this collect-once-slice-per-width recipe."""
    rows = df.select(_ID_COL, _VEC_COL).orderBy(_ID_COL).limit(1000).collect()
    base = [[float(v) for v in r[1]] for r in rows]
    return {d: _kmeans_unit([v[:d] for v in base], 16, 4, 11) for d in widths}


def train_centroids_from_parquet(path: str) -> list[list[float]]:
    """Sparkless twin of :func:`train_centroids` with its defaults
    (pyarrow read, same ordered sample, same k-means core) — used by
    the DuckDB oracle generators to inline the exact centroid literals
    the plan uses."""
    import pyarrow.parquet as pq

    tb = pq.read_table(path, columns=[_ID_COL, _VEC_COL])
    ids = tb.column(_ID_COL).to_pylist()
    raw = tb.column(_VEC_COL).to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])[:1000]
    vecs = [[float(v) for v in raw[i]] for i in order]
    return _kmeans_unit(vecs, 16, 4, 11)


def _centroid_scores(vec_col, centroids: list[list[float]]):
    """Array of (dot, cell_id) structs against each centroid.

    Centroids ride as ONE folded array-of-arrays literal consumed by a
    ``transform``: the original per-centroid ``F.array(64 ×
    F.lit)`` unrolling built a ~1100-node expression tree through
    ~1100 py4j calls — ~2 s of DRIVER time per call, and every IVF
    query builds this expression several times (both join sides, every
    prefix width).  The dot is the same ``zip_with`` + left-fold as
    :func:`similarity._dot` over the same doubles, so scores are
    bit-identical; only the plan size changes (constant in k·dim).
    The literal itself is rendered as one SQL expression string
    (operators/litfold.py): ``F.lit`` on a nested list still pays one
    py4j call per element — measured 0.6–4 s of driver time per build
    for 16×64, charged to every timed plan construction."""
    cents = lit_doubles([[float(x) for x in c] for c in centroids])
    return F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    vec_col, c, lambda x, y: x.cast("double") * y.cast("double")
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            i.alias("cell"),
        ),
    )


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Attach the vector's ``nprobe`` nearest cell ids (exploded) —
    nprobe=1 for corpus indexing, >1 for query probing."""
    scored = F.reverse(F.array_sort(_centroid_scores(F.col(vec_col), centroids)))
    cells = F.slice(scored, 1, nprobe)
    return df.withColumn("cell", F.explode(F.transform(cells, lambda s: s["cell"])))


def topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: candidates from the query's nprobe cells, exact
    cosine rank within candidates."""
    # per-row norm precompute before the cell join (similarity.
    # topk_bruteforce note): cosine() per candidate re-folds both
    # norms per PAIR; hoisting them into each side's projection is
    # bit-identical (same expressions, same guard, same association)
    cq = assign_cells(queries, centroids, _VEC_COL, nprobe).select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).alias("qv"),
        _norm(F.col(_VEC_COL)).alias("_qn"),
        "cell",
    )
    cc = assign_cells(corpus, centroids, _VEC_COL, 1).select(
        F.col(_ID_COL).alias("neighbor_id"),
        F.col(_VEC_COL).alias("cv"),
        _norm(F.col(_VEC_COL)).alias("_cn"),
        "cell",
    )
    den = F.col("_qn") * F.col("_cn")
    sim_expr = _dot(F.col("qv"), F.col("cv")) / F.when(
        den == 0.0, F.lit(1.0)
    ).otherwise(den)
    scored = (
        F.broadcast(cq)
        .join(cc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim_expr.alias("sim"))
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def range_search_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """IVF RANGE search (FAISS ``range_search``): ALL candidates in
    the query's 4 nearest cells with exact cosine >= 0.3 — the
    radius twin of :func:`topk_ivf` for callers who want "everything
    this similar", not "the 5 most similar" (dedup sweeps, recall-
    oriented retrieval).  Same candidate shape (broadcast probe
    frame -> cell equi-join, never all-pairs); the output is the
    (query_id, neighbor_id) pair SET, engine-stable because 0.3
    keeps a margin above cross-engine float noise (measured >= 2.2e-5
    on every test sf)."""
    # per-row norm precompute (see topk_ivf) — bit-identical scores
    cq = assign_cells(queries, centroids, _VEC_COL, 4).select(
        F.col(_ID_COL).alias("query_id"),
        F.col(_VEC_COL).alias("qv"),
        _norm(F.col(_VEC_COL)).alias("_qn"),
        "cell",
    )
    cc = assign_cells(corpus, centroids, _VEC_COL, 1).select(
        F.col(_ID_COL).alias("neighbor_id"),
        F.col(_VEC_COL).alias("cv"),
        _norm(F.col(_VEC_COL)).alias("_cn"),
        "cell",
    )
    den = F.col("_qn") * F.col("_cn")
    sim_expr = _dot(F.col("qv"), F.col("cv")) / F.when(
        den == 0.0, F.lit(1.0)
    ).otherwise(den)
    return (
        F.broadcast(cq)
        .join(cc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            sim_expr.alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
        .select("query_id", "neighbor_id")
        .distinct()
        .orderBy("query_id", "neighbor_id")
    )


def _probe_tables(
    qv: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int,
    ds: int,
) -> tuple[list[int], list[list[float]]]:
    """Per-query probe cells + ADC distance tables. Pure Python float
    math, shared verbatim by the driver-side and mapInPandas builders
    so both paths are bit-identical (explicit left-to-right sums —
    the oracle's fixed-association SQL; numpy would pairwise-sum and
    drift the last bit). Probe order: dot desc, cell desc on ties —
    the exact order of reverse(array_sort(struct(d, cell))) in
    assign_cells/the oracle."""
    dots = []
    for i, c in enumerate(centroids):
        d = 0.0
        for a, b in zip(qv, c):
            d += a * b
        dots.append((d, i))
    probes = [cell for _, cell in sorted(dots)[::-1][:nprobe]]
    tables = []
    for s, book in enumerate(codebooks):
        sub = qv[s * ds : (s + 1) * ds]
        tab = []
        for c in book:
            acc = 0.0
            for a, b in zip(sub, c):
                t = a - b
                acc += t * t
            tab.append(acc)
        tables.append(tab)
    return probes, tables


def _probe_tables_residual(
    qv: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int,
    ds: int,
) -> list[tuple[int, list[list[float]]]]:
    """Residual-encoding twin of :func:`_probe_tables` (Jégou et al.'s
    IVFADC): the index stores codes of the RESIDUAL r = v − c(cell),
    so the query's distance tables must be built per probed cell from
    q − c(cell), not from q.  Returns [(cell, tables)] in probe order.
    Same explicit left-to-right float64 sums as _probe_tables so the
    oracle's fixed-association SQL is bit-identical; the residual
    element is (q_d − c_d) − y_d with the same association the SQL
    spells out."""
    dots = []
    for i, c in enumerate(centroids):
        d = 0.0
        for a, b in zip(qv, c):
            d += a * b
        dots.append((d, i))
    probes = [cell for _, cell in sorted(dots)[::-1][:nprobe]]
    out = []
    for cell in probes:
        cent = centroids[cell]
        rq = [a - b for a, b in zip(qv, cent)]
        tables = []
        for s, book in enumerate(codebooks):
            sub = rq[s * ds : (s + 1) * ds]
            tab = []
            for c in book:
                acc = 0.0
                for a, b in zip(sub, c):
                    t = a - b
                    acc += t * t
                tab.append(acc)
            tables.append(tab)
        out.append((cell, tables))
    return out


def encode_ivfpq_residual(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Residual-encoded IVF-PQ index rows (id, cell, code_0..m−1):
    assign the nearest cell, subtract its centroid element-wise, and
    PQ-encode the residual.  Residuals concentrate around the origin
    (the centroid has absorbed the coarse structure), so the same
    k-per-subspace codebook budget spends its resolution on a much
    tighter distribution — the standard FAISS IVFADC accuracy upgrade
    over raw-vector PQ at identical index bytes.  Pure column math:
    the chosen centroid is one ``element_at`` into an inlined
    array-of-arrays literal, the residual a ``zip_with`` — zero
    shuffle beyond the id join of cells to codes."""
    from xero_api_etl_utilities_spark.operators.quantize import pq_codes

    assigned = assign_cells(corpus, centroids, _VEC_COL, 1)
    # one folded nested-array literal (see _centroid_scores) — same
    # doubles, constant-size plan, one-call construction
    cent_arr = lit_doubles([[float(x) for x in c] for c in centroids])
    rv = F.zip_with(
        F.col(_VEC_COL).cast("array<double>"),
        F.element_at(cent_arr, F.col("cell") + 1),
        lambda a, b: a - b,
    )
    with_res = assigned.withColumn("_rv", rv)
    codes = pq_codes(with_res, _ID_COL, "_rv", codebooks)
    return with_res.select(_ID_COL, "cell").join(codes, _ID_COL)


def _query_tables_distributed(
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int,
    residual: bool = False,
) -> DataFrame:
    """Distance-table build as an executor-side stage: one output row
    per (query, probe cell) with the m ADC tables as array<double>
    columns. Centroids/codebooks ride the task closure (k·dim floats —
    kilobytes). This is the >10k-queries path: table build is
    embarrassingly parallel over the query frame, and nothing is
    collected to the driver.  ``residual`` switches to the per-cell
    residual tables (:func:`_probe_tables_residual`)."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    m = len(codebooks)
    ds = len(codebooks[0][0])
    id_type = queries.schema[_ID_COL].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", id_type, False),
            T.StructField("cell", T.IntegerType(), False),
            *[
                T.StructField(f"_t{s}", T.ArrayType(T.DoubleType()), False)
                for s in range(m)
            ],
        ]
    )

    def _gen(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for qid, vec in zip(pdf[_ID_COL], pdf[_VEC_COL]):
                qv = [float(x) for x in vec]
                if residual:
                    for cell, tables in _probe_tables_residual(
                        qv, centroids, codebooks, nprobe, ds
                    ):
                        rows.append((qid, cell, *tables))
                else:
                    probes, tables = _probe_tables(
                        qv, centroids, codebooks, nprobe, ds
                    )
                    for cell in probes:
                        rows.append((qid, cell, *tables))
            yield pd.DataFrame(
                rows, columns=["query_id", "cell", *[f"_t{s}" for s in range(m)]]
            )

    return queries.select(_ID_COL, _VEC_COL).mapInPandas(_gen, schema)


def topk_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    corpus_index: DataFrame | None = None,
    force_distributed: bool = False,
    rerank: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ search with asymmetric distance (ADC) — the full FAISS
    IVFPQ recipe: candidates from the query's nprobe cells, scored
    from PQ CODES alone. Each query precomputes one distance TABLE per
    subspace (array of k subvector distances, inlined-centroid column
    math); a candidate's approximate distance is then m table lookups
    + an m-term sum — the corpus's float vectors are never touched at
    search time, which is the entire point: the searchable index is
    codes (4 bytes/vector) + cells, ~64× smaller than float32.

    Scale shape: corpus side carries (id, cell, m codes) through ONE
    equi-join on cell; ranking is a per-query window over candidates.
    Query tables for ≤10k queries are built DRIVER-SIDE from the
    collected query set — exactly what FAISS does, table build is
    O(k·dim) per query — and ship as a small broadcast frame of DATA;
    past 10k the identical math runs as a mapInPandas stage over the
    query frame (_query_tables_distributed — no driver collect, plain
    cell join), so cloud-scale query fan-in needs no cap.
    The first build inlined them as literal column expressions instead:
    measured ~12 s PER SEARCH at sf0.1 with a fully cached index,
    all of it Catalyst analyzing/serializing ~3000-node literal trees
    (the rows cost microseconds). Constants belong in rows, not in
    the plan. Table sums use an explicit left-to-right float64 loop —
    bit-identical to the oracle's fixed-association SQL sums (numpy
    .sum() would pairwise-sum and drift the last bit)."""
    from xero_api_etl_utilities_spark.operators.quantize import pq_codes

    m = len(codebooks)
    ds = len(codebooks[0][0])
    if corpus_index is not None:
        # the fully-materialized (id, cell, codes) index: searches pay
        # only query-side cost — built once, served many, the actual
        # production deployment shape.  With ``residual`` the caller
        # must hand a RESIDUAL-encoded index (encode_ivfpq_residual);
        # codes and tables must agree on the encoding space.
        index = corpus_index.withColumnRenamed(_ID_COL, "neighbor_id")
    elif residual:
        index = encode_ivfpq_residual(
            corpus, centroids, codebooks
        ).withColumnRenamed(_ID_COL, "neighbor_id")
    else:
        cells = assign_cells(corpus, centroids, _VEC_COL, 1).select(_ID_COL, "cell")
        codes = pq_codes(corpus, _ID_COL, _VEC_COL, codebooks)
        index = cells.join(codes, _ID_COL).withColumnRenamed(_ID_COL, "neighbor_id")

    # size probe: counts a 10k-limited id projection (no vectors move).
    # force_distributed skips the probe and takes the executor-side
    # table-build path regardless of size — used to keep the >10k path
    # continuously oracle-verified on small fixtures.
    n_queries = (
        0 if force_distributed else queries.select(_ID_COL).limit(10_001).count()
    )
    spark = queries.sparkSession
    if force_distributed or n_queries > 10_000:
        # Cloud-scale query sets: the same table-build math runs as an
        # Arrow-batched mapInPandas stage over the query frame — no
        # driver collect, no broadcast (the table frame can be bigger
        # than the index side; the cell equi-join shuffles it instead,
        # and AQE still broadcasts when it turns out small).
        cq = _query_tables_distributed(
            queries, centroids, codebooks, nprobe, residual
        )
        broadcast_tables = False
    else:
        qrows = queries.select(_ID_COL, _VEC_COL).orderBy(_ID_COL).collect()
        table_rows = []
        for r in qrows:
            qid, qv = r[0], [float(x) for x in r[1]]
            if residual:
                for cell, tables in _probe_tables_residual(
                    qv, centroids, codebooks, nprobe, ds
                ):
                    table_rows.append((qid, cell, *tables))
                continue
            probes, tables = _probe_tables(qv, centroids, codebooks, nprobe, ds)
            for cell in probes:
                table_rows.append((qid, cell, *tables))
        cq = spark.createDataFrame(
            table_rows,
            ["query_id", "cell", *[f"_t{s}" for s in range(m)]],
        )
        broadcast_tables = True
    score = None
    for s in range(m):
        term = F.element_at(F.col(f"_t{s}"), F.col(f"code_{s}") + 1)
        score = term if score is None else score + term
    w = Window.partitionBy("query_id").orderBy(F.asc("_sc"), F.asc("neighbor_id"))
    shortlist = rerank if rerank is not None else k
    if shortlist < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")
    adc_ranked = (
        (F.broadcast(cq) if broadcast_tables else cq)
        .join(index, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("_sc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
    )
    if rerank is None:
        return adc_ranked.select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank")
        )
    # REFINE stage (the FAISS IndexRefineFlat recipe): ADC ranks are
    # resolution-limited — once true neighbors sit within PQ
    # quantization error of each other (tight clusters, k' = 16 codes
    # per subspace), their table-lookup distances collapse to near-ties
    # and the ADC ordering inside the shortlist is arbitrary
    # (tools/ann_recall.py measures ~0.2 recall@5 pure-ADC on a
    # clustered corpus vs 1.0 after refine). Fix is never "more
    # codes": fetch the float vectors for the SHORTLIST ONLY
    # (rerank·|queries| point lookups — the candidate frame
    # broadcasts, the corpus float table never shuffles) and re-rank
    # those by exact cosine. Search still never scans corpus floats.
    cand = adc_ranked.select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(_ID_COL).alias("query_id"), F.col(_VEC_COL).alias("_qv")
    )
    nv = corpus.select(
        F.col(_ID_COL).alias("neighbor_id"), F.col(_VEC_COL).alias("_nv")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        F.broadcast(cand)
        .join(nv, "neighbor_id")
        .join(qv, "query_id")
        .select("query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_nv")).alias("_sim"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )
