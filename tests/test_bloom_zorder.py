"""Unit pins for the X43–X45 wave: bloom runtime filter (no false
negatives, bounded false positives, join equivalence) and z-order
encoding (python-reference bit-exactness, locality property).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.zorder import (
    py_z_interleave16,
    z_interleave16,
)
from xero_api_etl_utilities_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_pruned_semi_join,
)


class TestBloom:
    def test_no_false_negatives(self, spark):
        build = spark.range(0, 3000, 3).withColumnRenamed("id", "k")  # 1000 keys
        words = bloom_build(build, "k")
        survivors = build.filter(bloom_might_contain(F.col("k"), words))
        assert survivors.count() == 1000  # every inserted key passes

    def test_false_positive_rate_bounded(self, spark):
        build = spark.range(0, 3000, 3).withColumnRenamed("id", "k")
        probe = spark.range(0, 30000).withColumnRenamed("id", "pk")
        words = bloom_build(build, "k")
        passed = probe.filter(bloom_might_contain(F.col("pk"), words)).count()
        exact = probe.join(build, probe.pk == build.k, "left_semi").count()
        n_negative = 30000 - exact
        fp_rate = (passed - exact) / n_negative
        # m=8192, k=4, n=1000 → theoretical FP ≈ (1-e^(-kn/m))^4 ≈ 2.2%
        assert fp_rate < 0.06, fp_rate

    def test_pruned_join_equals_plain_semi_join(self, spark):
        build = spark.range(0, 5000, 11).withColumnRenamed("id", "k")
        probe = spark.range(0, 20000).withColumnRenamed("id", "pk")
        got = sorted(
            r["pk"] for r in bloom_pruned_semi_join(probe, build, "pk", "k").collect()
        )
        want = sorted(
            r["pk"]
            for r in probe.join(build, probe.pk == build.k, "left_semi").collect()
        )
        assert got == want


class TestZOrder:
    def test_matches_python_reference(self, spark):
        rows = [(x, y) for x in (0, 1, 5, 1023, 4095, 65535) for y in (0, 2, 7, 900, 65535)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = df.select(
            "x", "y", z_interleave16(F.col("x"), F.col("y")).alias("z")
        ).collect()
        for r in got:
            assert r["z"] == py_z_interleave16(r["x"], r["y"]), (r["x"], r["y"])

    def test_known_values(self):
        # canonical Morton pins
        assert py_z_interleave16(0, 0) == 0
        assert py_z_interleave16(1, 0) == 1
        assert py_z_interleave16(0, 1) == 2
        assert py_z_interleave16(3, 3) == 15
        assert py_z_interleave16(65535, 0) == 0x55555555
        assert py_z_interleave16(0, 65535) == 0xAAAAAAAA

    def test_bucket_locality(self, spark):
        # z-bucketing must confine each bucket to a narrow rectangle:
        # every 8-bit bucket of a 10+10-bit z-space spans at most 64
        # values per dimension (the exact guarantee file skipping uses)
        df = spark.range(0, 20000).select(
            (F.col("id") % 1024).alias("x"), ((F.col("id") * 7) % 1024).alias("y")
        )
        z = z_interleave16(F.col("x"), F.col("y"))
        stats = (
            df.withColumn("bucket", F.shiftright(z, 12))
            .groupBy("bucket")
            .agg(
                (F.max("x") - F.min("x")).alias("xspan"),
                (F.max("y") - F.min("y")).alias("yspan"),
            )
            .collect()
        )
        assert len(stats) > 100
        assert max(r["xspan"] for r in stats) <= 63
        assert max(r["yspan"] for r in stats) <= 63


class TestZOrderProperties:
    def test_roundtrip_hypothesis(self):
        from hypothesis import given, strategies as st

        from xero_api_etl_utilities_spark.functions.zorder import (
            py_z_deinterleave16,
            py_z_interleave16,
        )

        @given(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        )
        def check(x, y):
            assert py_z_deinterleave16(py_z_interleave16(x, y)) == (x, y)

        check()

    def test_quadrant_prefix_property(self):
        # the property file skipping relies on: equal high bits of both
        # dims ⇔ equal high bits of z (same quadrant → contiguous z)
        from hypothesis import given, strategies as st

        from xero_api_etl_utilities_spark.functions.zorder import py_z_interleave16

        @given(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        )
        def check(x1, y1, x2, y2):
            same_quadrant = (x1 >> 8 == x2 >> 8) and (y1 >> 8 == y2 >> 8)
            z1, z2 = py_z_interleave16(x1, y1), py_z_interleave16(x2, y2)
            assert same_quadrant == (z1 >> 16 == z2 >> 16)

        check()


class TestBloomSizing:
    def test_auto_bits_tracks_build_cardinality(self):
        from xero_api_etl_utilities_spark.operators.bloom import (
            M_BITS_DEFAULT,
            auto_bits,
        )

        assert auto_bits(10) == M_BITS_DEFAULT      # floor: tiny builds
        assert auto_bits(512) == 8192               # 16*512 = floor exactly
        assert auto_bits(3006) == 65536             # the measured sf0.1 case
        assert auto_bits(10**9) == 1 << 17          # capped literal size
        # power-of-two and monotone
        prev = 0
        for n in (1, 100, 1000, 5000, 20000, 10**6):
            m = auto_bits(n)
            assert m & (m - 1) == 0 and m >= prev
            prev = m
