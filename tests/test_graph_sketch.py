"""Unit pins for the X40–X42 wave: triangle counting (degree-ordered
orientation vs hand-counted truth), count-min sketch invariants, and
the two-level sweep-line prefix decomposition (cross-midnight carry).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.graph import triangles
from xero_api_etl_utilities_spark.operators.sketches import cms_build, cms_estimate


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "u1 long, u2 long"
    )


class TestTriangles:
    def test_k4_has_four_triangles(self, spark):
        k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        got = sorted(tuple(r) for r in triangles(_edges(spark, k4)).collect())
        assert got == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]

    def test_square_has_none(self, spark):
        sq = [(1, 2), (2, 3), (3, 4), (1, 4)]
        assert triangles(_edges(spark, sq)).count() == 0

    def test_hub_star_with_one_closure(self, spark):
        # a hub of degree 6 (the skew case orientation exists for)
        # plus exactly one closing edge → exactly one triangle
        star = [(1, k) for k in range(2, 8)] + [(2, 3)]
        got = [tuple(r) for r in triangles(_edges(spark, star)).collect()]
        assert got == [(1, 2, 3)]

    def test_two_disjoint_triangles(self, spark):
        es = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
        got = sorted(tuple(r) for r in triangles(_edges(spark, es)).collect())
        assert got == [(1, 2, 3), (10, 11, 12)]


class TestCms:
    def _df(self, spark):
        rows = [(k,) for k in [1] * 50 + [2] * 30 + [3] * 20 + list(range(4, 24))]
        return spark.createDataFrame(rows, "k long")

    def test_estimate_never_undercounts(self, spark):
        df = self._df(spark)
        sketch = cms_build(df, "k", d=4, w=8)  # tiny w → forced collisions
        exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
        est = cms_estimate(exact, sketch, "k", d=4, w=8)
        joined = exact.join(est, "k").collect()
        assert len(joined) == 23
        assert all(r["est_count"] >= r["exact"] for r in joined)
        assert any(r["est_count"] > r["exact"] for r in joined)

    def test_wide_sketch_is_exact(self, spark):
        # w >> n_keys → collisions vanishingly unlikely at these keys;
        # deterministic given the fixed md5 hash family
        df = self._df(spark)
        sketch = cms_build(df, "k", d=4, w=4096)
        exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
        est = cms_estimate(exact, sketch, "k", d=4, w=4096)
        assert all(
            r["est_count"] == r["exact"] for r in exact.join(est, "k").collect()
        )

    def test_sketch_is_bounded(self, spark):
        sketch = cms_build(self._df(spark), "k", d=4, w=8)
        assert sketch.count() <= 4 * 8


class TestSweepLineDecomposition:
    def test_cross_midnight_carry(self, spark):
        # three sessions overlap 23:50-00:05: the day-2 peak depends
        # entirely on the cross-day offset the two-level prefix carries
        base = dt.datetime(2024, 1, 1, 23, 40)

        def ev(i, minutes):
            return (i, base + dt.timedelta(minutes=minutes))

        rows = [ev(1, 0), ev(2, 5), ev(3, 15), ev(4, 60)]
        events = spark.createDataFrame(rows, "event_id long, ts timestamp")
        from xero_api_etl_utilities_spark.plans.graph_ops import (
            events_max_concurrency,
        )
        import tempfile, os

        with tempfile.TemporaryDirectory() as d:
            events.write.parquet(os.path.join(d, "events.parquet"))
            got = {
                str(r["day"]): r["max_concurrency"]
                for r in events_max_concurrency(spark, d).collect()
            }
        # day 1: events 1,2,3 all open 23:55-00:10 → peak 3
        # day 2: carries 3 open sessions past midnight; first end at
        # 00:10; event 4 (00:40) overlaps nothing → day-2 peak is the
        # carried 3, provable only if the offset term is correct
        assert got == {"2024-01-01": 3, "2024-01-02": 3}


class TestPageRankInt:
    def test_star_center_dominates(self, spark):
        from xero_api_etl_utilities_spark.operators.graph import pagerank_int

        star = spark.createDataFrame(
            [(1, k) for k in range(2, 12)], "u1 long, u2 long"
        )
        ranks = {r["v"]: r["rank"] for r in pagerank_int(star).collect()}
        center, leaves = ranks[1], [ranks[k] for k in range(2, 12)]
        assert center > max(leaves) * 3
        assert len(set(leaves)) == 1  # symmetry → identical integer ranks

    def test_symmetric_cycle_is_uniform_and_mass_conserved(self, spark):
        from xero_api_etl_utilities_spark.operators.graph import pagerank_int

        n = 8
        cyc = spark.createDataFrame(
            [(i, (i + 1) % n) if i < (i + 1) % n else ((i + 1) % n, i) for i in range(n)],
            "u1 long, u2 long",
        )
        scale = 10**12
        ranks = [r["rank"] for r in pagerank_int(cyc).collect()]
        assert len(set(ranks)) == 1  # vertex-transitive graph → equal ranks
        total = sum(ranks)
        # integer truncation loses a bounded amount of mass, never gains
        assert scale * 0.99 < total <= scale

    def test_lazy_rounds_match_materialized_rounds(self, spark, request, monkeypatch):
        """The fixed-round recurrences run as one lazy plan; the value
        must equal the per-round-materialized form byte for byte."""
        from xero_api_etl_utilities_spark.operators.graph import (
            label_propagation,
            pagerank_int,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (6, 7)],
            "u1 long, u2 long",
        )
        lazy = {r["v"]: r["rank"] for r in pagerank_int(edges).collect()}
        lpa_lazy = {
            r["v"]: r["label"] for r in label_propagation(edges).collect()
        }
        # reference: under a session checkpoint directory every round is
        # materialized (a completely different physical plan, same
        # recurrence)
        ckpt = request.getfixturevalue("ckpt_dir")
        # the session removes a round's checkpoint once the round is
        # unreachable, so count the checkpoints as they are written
        written = []
        frame = type(edges)
        checkpoint = frame.checkpoint

        def spy(df, *args):
            out = checkpoint(df, *args)
            written.append(out._jdf.queryExecution().analyzed().rdd().getCheckpointFile().get())
            return out

        monkeypatch.setattr(frame, "checkpoint", spy)
        pr_ck = {r["v"]: r["rank"] for r in pagerank_int(edges).collect()}
        lpa_ck = {r["v"]: r["label"] for r in label_propagation(edges).collect()}
        assert lazy == pr_ck
        assert lpa_lazy == lpa_ck
        # one checkpoint per materialize: the edge list and its directed
        # form, then one per round (5 PageRank, 4 LPA)
        assert len(written) == len(set(written)) == 2 * 2 + 5 + 4
        assert all(w.startswith(f"file:{ckpt}/") for w in written)


class TestKCore:
    def test_clique_survives_chain_peels(self, spark):
        from xero_api_etl_utilities_spark.operators.graph import kcore

        # K5 clique (every vertex degree 4) + a pendant chain off it:
        # the 3-core is exactly the clique; the chain peels away in
        # cascading rounds (the iterative part that a single filter
        # pass would get wrong)
        k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
        chain = [(5, 10), (10, 11), (11, 12)]
        edges = spark.createDataFrame(k5 + chain, "u1 long, u2 long")
        got = {r["v"]: r["core_degree"] for r in kcore(edges, k=3).collect()}
        assert got == {1: 4, 2: 4, 3: 4, 4: 4, 5: 4}

    def test_empty_core(self, spark):
        from xero_api_etl_utilities_spark.operators.graph import kcore

        tree = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 4), (2, 5)], "u1 long, u2 long"
        )
        assert kcore(tree, k=2).count() == 0  # trees have no 2-core


class TestCCStar:
    """Large-Star/Small-Star CC (X103): row-identical to min-label
    propagation, but in O(log n) rounds."""

    def _both(self, spark, edges):
        from xero_api_etl_utilities_spark.operators.graph import (
            cc_large_star_small_star,
            connected_components,
        )

        df = spark.createDataFrame(edges, ["u1", "u2"])
        star = {
            (r["doc"], r["cluster_id"])
            for r in cc_large_star_small_star(df).collect()
        }
        lp = {
            (r["doc"], r["cluster_id"])
            for r in connected_components(df, max_iters=200).collect()
        }
        return star, lp

    def test_matches_label_propagation_on_shapes(self, spark):
        for edges in (
            [(i, i + 1) for i in range(10)],                      # chain
            [(0, i) for i in range(1, 8)],                        # star
            [(a, b) for a in range(5) for b in range(a + 1, 5)]
            + [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
            + [(4, 10)],                                          # bridged cliques
            [(100, 7), (3, 50), (50, 2)],                         # scattered
        ):
            star, lp = self._both(spark, edges)
            assert star == lp

    def test_logarithmic_rounds_on_long_chain(self, spark):
        # a 100-edge chain has diameter 100: label propagation needs
        # ~100 rounds, the star alternation must finish in <= 8 —
        # the entire point of the algorithm.
        from xero_api_etl_utilities_spark.operators.graph import (
            cc_large_star_small_star,
        )

        df = spark.createDataFrame(
            [(i, i + 1) for i in range(100)], ["u1", "u2"]
        )
        labels = cc_large_star_small_star(df, max_iters=8).collect()
        assert {r["cluster_id"] for r in labels} == {0}
        assert len(labels) == 101

    def test_corpus_graph_matches(self, spark, sf_dir):
        from xero_api_etl_utilities_spark.operators.graph import (
            cc_large_star_small_star,
            connected_components,
        )
        from xero_api_etl_utilities_spark.plans.graph_ops import _co_edges

        e = _co_edges(spark, sf_dir)
        star = {
            (r["doc"], r["cluster_id"])
            for r in cc_large_star_small_star(e).collect()
        }
        lp = {
            (r["doc"], r["cluster_id"])
            for r in connected_components(e, max_iters=200).collect()
        }
        assert star == lp
