"""Count-min sketch — fixed-memory frequency estimation.

No reference counterpart (the reference is a bookkeeping ETL,
src/queries.ts); north-star training-data-pipeline surface: at 100 TB
an exact per-key count over an exploding key domain (URLs, shingles,
user ids) shuffles one row per distinct key, while a CMS shuffles at
most ``d × w`` partial counters per task regardless of cardinality —
the classic Cormode/Muthukrishnan guarantee (est >= true;
est <= true + eps·N with prob 1-delta, eps = e/w, delta = e^-d).

Hashing is the repo's cross-engine md5 scheme
(:mod:`functions/crosshash`), so a DuckDB oracle can re-run the SAME
sketch bit-for-bit — the estimate itself is oracle-checkable, not just
sanity-bounded.

Spark shape:
- build: ONE scan; each row posexplodes into its ``d`` (row, bucket)
  pairs (pre-shuffle blowup is d×, but partial aggregation collapses
  each task's contribution to <= d·w counters before the exchange —
  the fixed-memory property holds end to end);
- estimate: candidate keys join the d·w-row sketch (broadcast — it is
  bounded by construction) on (row, bucket); est = MIN over the d
  rows, the standard CMS read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32


def _bucket(key_col, i: int, w: int):
    """Row-``i`` bucket of ``key_col``: H32(i || ':' || key) mod w."""
    return (h32(F.concat(F.lit(str(i)), F.lit(":"), key_col.cast("string"))) % w).cast(
        "int"
    )


def cms_pairs(df: DataFrame, key: str, d: int, w: int) -> DataFrame:
    """The stateless projection under the sketch: each row exploded to
    its ``d`` ``(cms_row, cms_bucket)`` cells; :func:`cms_build`
    counts them."""
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("r"), _bucket(F.col(key), i, w).alias("b"))
            for i in range(d)
        ]
    )
    return df.select(F.explode(pairs).alias("p")).select(
        F.col("p.r").alias("cms_row"), F.col("p.b").alias("cms_bucket")
    )


def cms_build(df: DataFrame, key: str, d: int, w: int) -> DataFrame:
    """The d×w sketch as rows ``(cms_row, cms_bucket, cms_count)``.

    One scan of ``df``; at most ``d·w`` output rows (absent cells are
    simply missing — treat as count 0 when reading).
    """
    return cms_pairs(df, key, d, w).groupBy("cms_row", "cms_bucket").agg(
        F.count(F.lit(1)).alias("cms_count")
    )


def cms_estimate(
    candidates: DataFrame, sketch: DataFrame, key: str, d: int, w: int
) -> DataFrame:
    """Attach ``est_count`` (the CMS upper-bound estimate) to every row
    of ``candidates``, read from a ``cms_build`` sketch of the same
    ``d × w`` shape: another shape hashes keys into the wrong cells.
    The sketch side is broadcast (<= d·w rows by construction); missing
    cells read as 0 via the left join."""
    keyed = candidates.select(
        F.col(key),
        F.posexplode(
            F.array(*[_bucket(F.col(key), i, w) for i in range(d)])
        ).alias("cms_row", "cms_bucket"),
    )
    return (
        keyed.join(F.broadcast(sketch), ["cms_row", "cms_bucket"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("cms_count"), F.lit(0))).alias("est_count"))
    )
