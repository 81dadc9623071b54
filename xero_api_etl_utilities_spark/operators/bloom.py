"""Bloom-filter join pruning — an explicit runtime filter.

No reference counterpart; north-star scale surface. The pattern is
what Spark's own InjectRuntimeFilter does for selective joins: build a
compact bit-set over the build side's join keys, push a membership
test into the PROBE side's scan, and only then run the exact join.
At 100 TB the win is shuffle volume: a fact row that fails the bloom
test never leaves its input task, and with a selective build side
that's most of the table. The exact join afterwards removes the false
positives, so the final result is IDENTICAL to the unfiltered join —
which is why the catalog query's DuckDB oracle is simply the PLAIN
semi-join: no false negatives, provably same rows.

Implementation choices:
- hashing is the repo's cross-engine md5 scheme (functions/crosshash),
  k independent rows via an ``i:key`` prefix — deterministic,
  engine-independent, unit-testable in pure python;
- the bit-set is built as a BOUNDED aggregate (``m/64`` bigint words
  via bit_or of shifted bits — partial aggregation collapses each
  task to <= m/64 rows before the shuffle), then collected and
  embedded as a LITERAL ARRAY in the probe-side filter expression.
  That follows the repo's "constants in rows, not plans" lesson in
  reverse: 128 longs is far below the literal-tree cliff PLANS.md
  measured (the IVF-PQ distance tables were ~100k floats), and a
  literal keeps the probe a pure zero-join scan filter;
- every dynamic shift runs through the SQL ``shiftleft/shiftright``
  expressions (the python wrappers require literal distances).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32
from xero_api_etl_utilities_spark.operators.litfold import lit_longs

M_BITS_DEFAULT = 8192
K_HASHES = 4


def _positions(key: Column, m: int) -> list[Column]:
    return [
        (h32(F.concat(F.lit(f"{i}:"), key.cast("string"))) % m).cast("long")
        for i in range(K_HASHES)
    ]


def bloom_build(keys: DataFrame, key_col: str, m: int = M_BITS_DEFAULT) -> list[int]:
    """The filter as ``m/64`` bigint words (python list, driver-side).

    One bounded aggregate over the build side: explode each key into
    its ``K_HASHES`` bit positions, map to (word, bit), bit_or the
    shifted bits per word. Output <= m/64 rows by construction — a documented
    driver-side scalar in the same sense as the IVF training samples.
    """
    pos = F.explode(F.array(*_positions(F.col(key_col), m))).alias("pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            (F.col("pos") % 64).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(1L, b))").alias("bits"))
        .collect()
    )
    arr = [0] * (m // 64)
    for r in words:
        arr[r["w"]] = r["bits"]
    return arr


def bloom_might_contain(
    key: Column, words: list[int], m: int = M_BITS_DEFAULT
) -> Column:
    """Membership-test expression over the literal word array: true iff
    ALL ``K_HASHES`` bits are set. Pure codegen — no join, no shuffle,
    no python."""
    # one-parser-call literal (operators/litfold.py): at the 2^17-bit
    # cap this is 2048 longs — element-wise F.lit cost ~1.5 s of
    # driver time per plan build
    lit_words = lit_longs(words)
    cond = None
    for p in _positions(key, m):
        word = F.element_at(lit_words, (p / 64).cast("int") + 1)
        # getbit takes the shift distance as an EXPRESSION (the python
        # shiftright wrappers accept only literal distances)
        test = F.call_function("getbit", word, (p % 64).cast("int")) == F.lit(1)
        cond = test if cond is None else (cond & test)
    return cond


def auto_bits(n_keys: int) -> int:
    """Filter size for ~0.2% FP at ``K_HASHES`` hashes: m = 16·n
    rounded up to a power of two (word-aligned shifts), floored at the 8192-bit
    default and capped at 2^17 — 2048 literal longs, well under the
    literal-tree cliff PLANS.md measured (~100k constants). Sizing
    matters: the fixed default measured 36% FP once the build side
    grew to 3k keys at sf0.1 (PLANS.md)."""
    m = M_BITS_DEFAULT
    while m < 16 * n_keys and m < (1 << 17):
        m <<= 1
    return m


def bloom_pruned_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
) -> DataFrame:
    """``probe LEFT SEMI JOIN build`` with the bloom prefilter pushed
    into the probe scan. Row-identical to the plain semi join.

    The filter is sized from the build-side key count (one extra
    1-row aggregate on the SMALL side — the documented driver-scalar
    pattern): a fixed m silently degrades to near-pass-through as the
    build side grows."""
    keys = build.select(build_key).distinct()
    m = auto_bits(keys.count())
    words = bloom_build(keys, build_key, m)
    pruned = probe.filter(bloom_might_contain(F.col(probe_key), words, m))
    return pruned.join(
        keys,
        pruned[probe_key] == F.col(build_key),
        "left_semi",
    )
