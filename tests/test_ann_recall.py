"""Recall floors for the quantized ANN routes (VERDICT r3 item 4).

tools/ann_recall.py sweeps the full nprobe × m grid; these tests pin
the two load-bearing facts the sweep established so a parameter or
codebook regression fails CI instead of silently degrading search:

1. IVF-PQ **with the refine stage** recovers the IVF cell-probe
   recall ceiling on a clustered corpus (the shape real embedding
   corpora have).
2. Pure-ADC ranking is resolution-limited there — refine must be
   STRICTLY better, because true neighbors sit within PQ quantization
   error of each other and their table distances tie. If this ever
   flips, either the fixture stopped being clustered or the ADC path
   broke in a way that happens to look "fine".

Sizing note the fixture itself teaches: the refine shortlist must
COVER the ADC tie set. Here seeded k-means merges two 30-member
clusters into one cell, so candidates from that cell are ~60 near-ties
— rerank=15 caps recall at 0.83 no matter how many cells are probed
(measured), rerank=60 restores the IVF ceiling. Rule of thumb at
scale: rerank ≳ expected probed-cell population when intra-cluster
distances sit below PQ resolution.
"""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import ivf
from xero_api_etl_utilities_spark.operators import similarity as sim
from xero_api_etl_utilities_spark.operators.quantize import (
    pq_codes,
    train_pq_codebooks_from_parquet,
)

K = 3


def _sets(rows):
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(exact: dict, approx: dict) -> float:
    return sum(
        len(ex & approx.get(q, set())) / len(ex) for q, ex in exact.items()
    ) / len(exact)


@pytest.fixture(scope="module")
def ann_fixture(spark, tmp_path_factory):
    """Clustered corpus (5×30, dim=32, σ=0.02) + trained IVF/PQ index."""
    rng = random.Random(7)
    dim, rows = 32, []
    for c in range(5):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [x / nrm for x in center]
        for i in range(30):
            rows.append((c * 1000 + i, [x + rng.gauss(0, 0.02) for x in center]))
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint()
    path = os.path.join(str(tmp_path_factory.mktemp("ann")), "vecs.parquet")
    vecs.toPandas().to_parquet(path)
    cents = ivf.train_centroids(vecs, k=5, iters=5, sample=200, seed=2)
    books = train_pq_codebooks_from_parquet(path, m=4)
    index = (
        ivf.assign_cells(vecs, cents, "embedding", 1)
        .select("vec_id", "cell")
        .join(pq_codes(vecs, "vec_id", "embedding", books), "vec_id")
        .localCheckpoint()
    )
    queries = vecs.filter(F.col("vec_id") % 1000 < 2)  # 2 per cluster
    exact = _sets(sim.topk_bruteforce(queries, vecs, k=K).collect())
    return vecs, cents, books, index, queries, exact


def test_ivfpq_rerank_recall_floor(ann_fixture):
    vecs, cents, books, index, queries, exact = ann_fixture
    rr = _sets(
        ivf.topk_ivf_pq(
            queries, vecs, cents, books, k=K, nprobe=2, corpus_index=index, rerank=60
        ).collect()
    )
    assert _recall(exact, rr) >= 0.9


def test_ivfpq_rerank_beats_pure_adc(ann_fixture):
    vecs, cents, books, index, queries, exact = ann_fixture
    adc = _sets(
        ivf.topk_ivf_pq(
            queries, vecs, cents, books, k=K, nprobe=2, corpus_index=index
        ).collect()
    )
    rr = _sets(
        ivf.topk_ivf_pq(
            queries, vecs, cents, books, k=K, nprobe=2, corpus_index=index, rerank=60
        ).collect()
    )
    assert _recall(exact, rr) > _recall(exact, adc)


def test_ivf_recall_floor(ann_fixture):
    vecs, cents, books, index, queries, exact = ann_fixture
    approx = _sets(ivf.topk_ivf(queries, vecs, cents, k=K, nprobe=2).collect())
    assert _recall(exact, approx) >= 0.9


def test_rerank_smaller_than_k_rejected(ann_fixture):
    vecs, cents, books, index, queries, _ = ann_fixture
    with pytest.raises(ValueError, match="rerank"):
        ivf.topk_ivf_pq(
            queries, vecs, cents, books, k=5, nprobe=2, corpus_index=index, rerank=3
        )
