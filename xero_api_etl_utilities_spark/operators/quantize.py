"""X2 adjunct — embedding scalar quantization (int8 codes).

An ANN index over a 100 TB corpus does not store float32 vectors: the
standard first compression step (FAISS ``SQ8``; the same recipe behind
most vector stores' "scalar quantization") maps each dimension to an
8-bit code against per-dimension min/max trained ON the corpus:

    code_d(x) = floor((x - mn_d) * 255 / (mx_d - mn_d) + 0.5)

4× smaller than float32, decoded on the fly during scan. The whole
thing is column math:

- the stats pass is ONE map-side-combinable aggregation (min/max per
  dimension — no sums, so results are exact and engine-identical);
- the stats frame is dimensions-sized (tiny) and broadcast back, so
  encoding is a corpus-scan projection — no corpus-sized shuffle,
  embarrassingly parallel at any scale.

Float discipline for the oracle: float32 → float64 widening is exact,
min/max involve no arithmetic, and the code formula is written with
ONE association — ``((x - mn) * 255.0) / span + 0.5`` — in both
engines, so every intermediate double is bit-identical and the floor
is deterministic cross-engine (no round-to-nearest-ties to argue
about).

Constant dimensions (span 0) code to 0 by definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.litfold import lit_doubles


def sq8_codes(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dim, code) int8 scalar-quantization codes, one row per
    vector dimension; ``dim`` is 0-based. Stats (per-dim min/max) are
    trained on ``df`` itself in the same lazy plan."""
    dims = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "_x"),
    ).select(id_col, "dim", F.col("_x").cast("double").alias("x"))
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    code = F.when(
        F.col("mx") - F.col("mn") > 0,
        F.floor(
            ((F.col("x") - F.col("mn")) * F.lit(255.0)) / (F.col("mx") - F.col("mn"))
            + F.lit(0.5)
        ),
    ).otherwise(F.lit(0))
    return dims.join(F.broadcast(stats), "dim").select(
        F.col(id_col),
        F.col("dim").cast("int").alias("dim"),
        code.cast("int").alias("code"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the second FAISS compression recipe
# ---------------------------------------------------------------------------

def _kmeans_l2(vecs, k: int, iters: int, seed: int):
    """Plain Lloyd L2 k-means over an ordered list (float64,
    first-index argmin ties) — deterministic twin shared by the Spark
    path and the oracle generator, mirroring ivf._kmeans_unit but in
    EUCLIDEAN space: PQ minimizes reconstruction error, not cosine."""
    import random

    import numpy as np

    x = np.asarray(vecs, dtype=np.float64)
    rng = random.Random(seed)
    idx = rng.sample(range(len(vecs)), min(k, len(vecs)))
    cents = x[idx].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for ci in range(len(cents)):
            members = x[assign == ci]
            if len(members):
                cents[ci] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cents]


def train_pq_codebooks_from_parquet(
    path: str,
    m: int = 4,
    residual_centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of 16 centroids each (4
    k-means rounds, seed 7 + subspace) from the first 1000 rows
    ordered by ``vec_id`` (same determinism contract as
    ivf.train_centroids_from_parquet): codebooks are tiny
    (m·16·(dim/m) floats), training is driver-side on a bounded sample
    — the standard PQ recipe; encoding is the distributed part.

    ``residual_centroids`` switches to RESIDUAL training (the FAISS
    IVFADC recipe, Jégou et al.): each sampled vector is replaced by
    v − c(cell) for its nearest IVF centroid before the per-subspace
    k-means, so the codebooks model the residual distribution instead
    of the raw one.  The nearest-cell rule mirrors
    ``ivf.assign_cells`` exactly — max dot product, ties to the LARGER
    cell id (the reverse(array_sort) order) — with the same explicit
    left-to-right float64 dot the probe-table builders use."""
    import pyarrow.parquet as pq

    tb = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = tb.column("vec_id").to_pylist()
    raw = tb.column("embedding").to_pylist()
    order = sorted(range(len(ids)), key=lambda i: ids[i])[:1000]
    vecs = [[float(v) for v in raw[i]] for i in order]
    if residual_centroids is not None:
        cents = residual_centroids

        def _dot(v: list[float], c: list[float]) -> float:
            d = 0.0
            for a, b in zip(v, c):
                d += a * b
            return d

        res = []
        for v in vecs:
            dots = [_dot(v, c) for c in cents]
            cell = max(range(len(cents)), key=lambda i: (dots[i], i))
            res.append([a - b for a, b in zip(v, cents[cell])])
        vecs = res
    dim = len(vecs[0])
    ds = dim // m
    books = []
    for s in range(m):
        sub = [v[s * ds : (s + 1) * ds] for v in vecs]
        books.append(_kmeans_l2(sub, 16, 4, 7 + s))
    return books


def pq_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, code_0..code_{m-1}): each subvector's nearest-codebook-
    centroid index. Pure scan projection — centroids inline as
    literals, no Python, no shuffle. Argmin is array_position of the
    array minimum (first match, so ties break on the smaller code —
    DuckDB's list_position has the identical contract): measured 4×
    faster than the (distance, code) struct-sort form, because the
    expression is big enough to trip the whole-stage-codegen size
    fallback and the interpreted path pays dearly for 16 struct
    allocations + a sort per subspace, but only pennies for a plain
    double-array min/position scan."""
    cols = [F.col(id_col)]
    ds = len(codebooks[0][0])
    # Codebooks ride as ONE folded nested-array literal consumed by a
    # per-subspace ``transform``: an expression unrolled per code and
    # dimension would build ~2000 nodes through as many py4j calls —
    # ~12 s of Python-side plan construction per index build.  The
    # distance fold sums (v-c)² with FIXED left-to-right association
    # (a leading 0.0 is exact: squares are never -0.0), so the
    # oracle's identically-ordered sum is bit-equal.
    books = lit_doubles(
        [[[float(x) for x in c] for c in book] for book in codebooks]
    )
    # NOTE: the per-code lambda must stay SINGLE-ARG — pyspark binds a
    # two-parameter lambda as the (element, index) form, which would
    # silently rebind any defaulted closure arg to the array index.
    def _dist_fn(lo: int):
        def _dist(c):
            return F.aggregate(
                F.sequence(F.lit(0), F.lit(ds - 1)),
                F.lit(0.0),
                lambda acc, d: acc
                + (
                    (
                        F.element_at(F.col(vec_col), d + lo + 1).cast("double")
                        - F.element_at(c, d + 1)
                    )
                    * (
                        F.element_at(F.col(vec_col), d + lo + 1).cast("double")
                        - F.element_at(c, d + 1)
                    )
                ),
            )

        return _dist

    for s, _book in enumerate(codebooks):
        arr = F.transform(F.element_at(books, s + 1), _dist_fn(s * ds))
        cols.append(
            (F.array_position(arr, F.array_min(arr)) - 1)
            .cast("int")
            .alias(f"code_{s}")
        )
    return df.select(*cols)
