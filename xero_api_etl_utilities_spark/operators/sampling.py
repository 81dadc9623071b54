"""Deterministic sampling & dataset-split operators.

Training pipelines need REPRODUCIBLE sampling: ``df.sample()`` /
``sampleBy()`` draw from engine-and-partitioning-dependent RNG streams
— rerun the job, get a different corpus. These operators derive every
decision from a content hash (crosshash — md5-based, engine-portable),
so the same row lands in the same sample/split on any engine, any
partitioning, any rerun; membership is a pure scan predicate (no
shuffle, pushes into the row filter).

- ``systematic_sample``: keep rows whose key hashes into the first
  ``num/den`` fraction of hash space.
- ``assign_split``: label each row train/val/test by hash bucket —
  a disjoint, exhaustive, stable partition of the corpus. Its fixed
  salt ``"split"`` decorrelates split assignment from any other hash
  use of the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32


def _bucket(key_col, salt: str, den: int):
    """Stable bucket in [0, den) from the salted key hash."""
    return h32(F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string"))) % den


def systematic_sample(df: DataFrame, key_col: str, num: int, den: int) -> DataFrame:
    """Keep ~num/den of rows, chosen by the key hash salted with
    ``"sample"`` — deterministic across engines, reruns and
    repartitioning."""
    if not 0 < num <= den:
        raise ValueError(f"need 0 < num <= den, got {num}/{den}")
    return df.filter(_bucket(key_col, "sample", den) < num)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, tuple[int, int]],
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its
    own (num, den) keep-rate — the reproducible twin of
    ``df.sampleBy()``. A training pipeline uses this to rebalance a
    corpus (e.g. downsample the dominant language) without the
    rerun-instability of RNG sampling; membership stays a pure scan
    predicate.

    Strata not listed in ``rates`` keep 1 row in 4. The salt includes
    the stratum so the same key draws independently in different
    strata.
    """
    for stratum, (num, den) in rates.items():
        if not 0 < num <= den:
            raise ValueError(f"need 0 < num <= den for {stratum!r}, got {num}/{den}")

    def b(den: int):
        # the stratum value joins the salt, so the same key draws an
        # independent coin in each stratum (and rebalancing one
        # stratum's rate never perturbs another's membership)
        return (
            h32(
                F.concat_ws(
                    "|",
                    F.lit("stratified"),
                    F.col(stratum_col).cast("string"),
                    F.col(key_col).cast("string"),
                )
            )
            % den
        )

    cond = None
    for stratum, (num, den) in rates.items():
        this = (F.col(stratum_col) == stratum) & (b(den) < num)
        cond = this if cond is None else cond | this
    if rates:
        listed = [F.lit(s) for s in rates]
        dcond = ~F.col(stratum_col).isin(*listed) & (b(4) < 1)
    else:
        dcond = b(4) < 1
    cond = dcond if cond is None else cond | dcond
    return df.filter(cond)


def assign_split(df: DataFrame, key_col: str) -> DataFrame:
    """Attach a ``split`` column by hash bucket out of 100: 80 train,
    10 val, the remaining 10 test. Disjoint and exhaustive by
    construction."""
    b = _bucket(key_col, "split", 100)
    return df.withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    )


def per_group_topk(df: DataFrame, key_col: str, group_col: str, k: int) -> DataFrame:
    """Deterministic k-row sample PER GROUP: rank rows inside each
    group by their salted content hash (doc_id tiebreak) and keep the
    first ``k`` — the reproducible, engine-portable replacement for
    "grab k random docs per source".

    A hash ORDER (not a hash predicate) is what makes the quota exact:
    rate-based sampling of a group with n rows yields Binomial(n, p)
    rows, never exactly k. Cost is one hash-partitioned window sort
    per group — the shuffle carries (key, group, hash), not payloads,
    and each group sorts independently, so skew in group sizes spreads
    across tasks. (For k·groups small a groupBy + slice(sort_array)
    variant trades the window for an agg; the window form keeps rows
    streaming and needs no per-group array in memory.)
    """
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    from pyspark.sql import Window

    h = h32(
        F.concat_ws(
            "|",
            F.lit("grouptopk"),
            F.col(group_col).cast("string"),
            F.col(key_col).cast("string"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(F.col("_h").asc(), F.col(key_col).asc())
    return (
        df.withColumn("_h", h)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("_h")
    )


def mixture_rebalance(
    df: DataFrame,
    key_col: str,
    group_col: str,
    targets_ppm: dict[str, int],
) -> DataFrame:
    """Deterministic downsampling toward a TARGET MIXTURE: each listed
    group is kept at rate ``min(1, target_share · N_total / n_g)`` so
    its expected share of the ORIGINAL corpus size matches
    ``targets_ppm`` (parts-per-million). Groups not listed are dropped
    — an explicit mixture spec is exhaustive, like a training-data
    recipe ("40% web, 30% code, 30% books").

    Rates are derived FROM the data (one tiny groupBy), which is what
    separates a mixture from stratified_sample's fixed per-stratum
    rates: rebalancing adapts to whatever the corpus actually
    contains. All math is integer (ppm cross-multiplication), and the
    keep decision is the usual salted content-hash predicate —
    rerun/engine/partitioning stable.

    Scale shape: the group census is one map-side-combinable
    aggregation over group keys only; the per-group rate frame is
    groups-sized (tiny) and broadcast back, so the corpus is scanned
    once and filtered in place — no corpus-sized shuffle.
    """
    for g, ppm in targets_ppm.items():
        if not 0 <= ppm <= 1_000_000:
            raise ValueError(f"target for {g!r} must be in [0, 1e6] ppm, got {ppm}")
    counts = df.groupBy(F.col(group_col).alias("_g")).agg(F.count(F.lit(1)).alias("_n"))
    total = counts.select(F.sum("_n").alias("_total"))
    target = None
    for g, ppm in targets_ppm.items():
        t = F.when(F.col("_g") == g, F.lit(ppm))
        target = t if target is None else target.when(F.col("_g") == g, F.lit(ppm))
    target = (target.otherwise(F.lit(0)) if target is not None else F.lit(0)).cast("bigint")
    # integer `div`, not `/`: float division then floor would round
    # through double and lose exactness once target*total > 2^53
    rates = (
        counts.crossJoin(total)
        .withColumn("_target", target)
        .select(
            "_g",
            F.least(
                F.lit(1_000_000).cast("bigint"),
                F.expr("(_target * _total) div _n"),
            ).alias("_keep_ppm"),
        )
    )
    b = h32(
        F.concat_ws(
            "|",
            F.lit("mixture"),
            F.col(group_col).cast("string"),
            F.col(key_col).cast("string"),
        )
    ) % 1_000_000
    return (
        df.join(F.broadcast(rates), df[group_col] == rates["_g"])
        .filter(b < F.col("_keep_ppm"))
        .drop("_g", "_keep_ppm")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_num,
    weight_den: int,
) -> DataFrame:
    """Per-row importance sampling: keep a row with probability
    weight_num/weight_den (clamped to 1), where ``weight_num`` is a
    Column (per-row integer weight) and ``weight_den`` a constant —
    the quality-weighted corpus-sampling primitive (upweight long /
    high-quality documents, downweight boilerplate) with the same
    determinism contract as the rest of this module: the keep
    decision is a pure scan predicate on the salted content hash, so
    membership survives reruns, repartitioning and engine changes.

    Exact integer form: keep ⟺ h32("wlen"‖key) · den < num · 2³²
    (h32 uniform on [0, 2³²); both products fit a bigint for
    den ≤ ~2²⁰), so no float rounding can disagree across engines."""
    h = h32(F.concat_ws("|", F.lit("wlen"), F.col(key_col).cast("string")))
    return df.filter(
        h * F.lit(weight_den) < weight_num.cast("long") * F.lit(2**32)
    )
