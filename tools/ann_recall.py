"""IVF / IVF-PQ recall sweep: measures recall@k of the two quantized
ANN routes against exact brute-force top-k, across the knobs a user
actually tunes — ``nprobe`` (cells probed per query) for IVF, and
``nprobe × m`` (subspace count — the compression/accuracy trade) for
IVF-PQ — so index parameters are chosen from a curve, not folklore.
Companion to tools/lsh_sweep.py, which swept the MinHash/hyperplane
knobs (and caught a silent 4× recall loss there — the same risk
applies here).

Methodology: recall@k = |approx top-k ∩ exact top-k| / k, averaged
over queries (self-matches excluded on both sides). Two corpora:

- the driver's sf embeddings (near-random vectors — the HARD case:
  neighbors are barely closer than strangers, so cell pruning is
  expected to cost recall roughly ∝ probed fraction; the sweep shows
  how much the catalog's nprobe=4/16-cells setting keeps);
- a clustered corpus (tight intra-cluster cosine ≈ 0.99 — the shape
  real embedding corpora have), where a well-probed IVF should sit
  near 1.0 and any banding/codebook bug shows up as a cliff. The
  pytest floor (tests/test_ann_recall.py) pins this fixture.

Usage: python tools/ann_recall.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import math
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 5
NPROBES = [1, 2, 4, 8, 16]
MS = [2, 4, 8]
RERANK = 50  # ADC shortlist size for the refine stage


def _per_query_sets(rows):
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(exact: dict, approx: dict) -> float:
    if not exact:
        return float("nan")
    tot = 0.0
    for q, ex in exact.items():
        tot += len(ex & approx.get(q, set())) / len(ex)
    return tot / len(exact)


def clustered_corpus(spark):
    """8 tight unit-norm clusters of 40 64-dim vectors (σ=0.02 noise)
    — deterministic."""
    rng = random.Random(7)
    rows = []
    for c in range(8):
        center = [rng.gauss(0, 1) for _ in range(64)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [x / nrm for x in center]
        for i in range(40):
            rows.append((c * 1000 + i, [x + rng.gauss(0, 0.02) for x in center]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def sweep(spark, emb, parquet_path: str, label: str, query_pred) -> list[dict]:
    from pyspark.sql import functions as F

    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators import similarity as sim
    from xero_api_etl_utilities_spark.operators.materialize import materialize
    from xero_api_etl_utilities_spark.operators.quantize import (
        pq_codes,
        train_pq_codebooks_from_parquet,
    )

    emb = materialize(emb)
    queries = emb.filter(query_pred(F.col("vec_id")))
    n_q = queries.count()
    exact = _per_query_sets(sim.topk_bruteforce(queries, emb, k=K).collect())
    cents = ivf.train_centroids(emb)
    results = []

    print(f"\n== {label}: {emb.count()} vectors, {n_q} queries, recall@{K} ==")
    print(f"{'route':>8} {'m':>3} {'nprobe':>6} {'recall':>7} {'sec':>6}")
    for nprobe in NPROBES:
        t0 = time.perf_counter()
        approx = _per_query_sets(
            ivf.topk_ivf(queries, emb, cents, k=K, nprobe=nprobe).collect()
        )
        dt = time.perf_counter() - t0
        rec = _recall(exact, approx)
        results.append({"route": "ivf", "m": None, "nprobe": nprobe, "recall": rec})
        print(f"{'ivf':>8} {'-':>3} {nprobe:>6} {rec:>7.3f} {dt:>6.1f}")

    for m in MS:
        books = train_pq_codebooks_from_parquet(parquet_path, m=m)
        cells = ivf.assign_cells(emb, cents, "embedding", 1).select("vec_id", "cell")
        index = materialize(
            cells.join(pq_codes(emb, "vec_id", "embedding", books), "vec_id")
        )
        for nprobe in NPROBES:
            t0 = time.perf_counter()
            approx = _per_query_sets(
                ivf.topk_ivf_pq(
                    queries, emb, cents, books, k=K, nprobe=nprobe, corpus_index=index
                ).collect()
            )
            dt = time.perf_counter() - t0
            rec = _recall(exact, approx)
            results.append({"route": "ivfpq", "m": m, "nprobe": nprobe, "recall": rec})
            print(f"{'ivfpq':>8} {m:>3} {nprobe:>6} {rec:>7.3f} {dt:>6.1f}")
        # the refine stage: ADC shortlist of RERANK, exact cosine on top
        for nprobe in NPROBES:
            t0 = time.perf_counter()
            approx = _per_query_sets(
                ivf.topk_ivf_pq(
                    queries, emb, cents, books, k=K, nprobe=nprobe,
                    corpus_index=index, rerank=RERANK,
                ).collect()
            )
            dt = time.perf_counter() - t0
            rec = _recall(exact, approx)
            results.append(
                {"route": "ivfpq+rr", "m": m, "nprobe": nprobe, "recall": rec}
            )
            print(f"{'ivfpq+rr':>8} {m:>3} {nprobe:>6} {rec:>7.3f} {dt:>6.1f}")
    return results


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from xero_api_etl_utilities_spark.session import get_spark
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    spark = get_spark(
        app_name="ann-recall", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sweep(
        spark,
        emb,
        os.path.join(sf_dir, "embeddings.parquet"),
        f"driver embeddings ({sf_dir})",
        lambda v: v < 100,
    )

    clustered = clustered_corpus(spark)
    with tempfile.TemporaryDirectory() as td:
        pq_path = os.path.join(td, "clustered.parquet")
        clustered.toPandas().to_parquet(pq_path)
        sweep(
            spark,
            clustered,
            pq_path,
            "clustered corpus (8×40, σ=0.02)",
            lambda v: v % 1000 < 3,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
