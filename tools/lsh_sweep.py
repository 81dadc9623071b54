"""LSH parameter sweep: measures recall/precision of the approximate
dedup and similarity routes against their exact baselines, so the
(bands × rows) / (tables × planes) knobs are chosen from data, not
folklore.

- MinHash-LSH: candidates vs exact token-set Jaccard ≥ 0.7 pairs
  (recall = fraction of true pairs surfaced as candidates; precision
  = fraction of candidates that are true — the rest are filtered by
  the exact verify stage a production pipeline runs on candidates).
  Band theory: candidate probability at similarity s is
  1-(1-s^rows)^bands; the (bands, rows) sweep shows the threshold
  moving.
- Hyperplane LSH top-k: overlap@k vs brute force, the recall knob
  being tables × planes.

Usage: python tools/lsh_sweep.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from xero_api_etl_utilities_spark.operators import dedup as dd
    from xero_api_etl_utilities_spark.operators import similarity as sim
    from xero_api_etl_utilities_spark.session import get_spark
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    spark = get_spark(
        app_name="lsh-sweep", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(docs, "doc_id", "text", max_rows=None).collect()
    }
    print(f"exact Jaccard>=0.7 pairs: {len(truth)}")
    print(f"{'bands':>5} {'rows':>5} {'cands':>8} {'recall':>7} {'precision':>9} {'sec':>6}")
    for bands, rows in [(4, 16), (8, 8), (16, 4), (32, 2)]:
        t0 = time.perf_counter()
        sigs = dd.minhash_signatures(docs, "doc_id", "text", num_hashes=bands * rows)
        cands = {
            (r["doc_a"], r["doc_b"])
            for r in dd.minhash_lsh_candidates(
                sigs, bands=bands, rows_per_band=rows
            ).collect()
        }
        dt = time.perf_counter() - t0
        hit = len(truth & cands)
        rec = hit / len(truth) if truth else float("nan")
        prec = hit / len(cands) if cands else float("nan")
        print(f"{bands:>5} {rows:>5} {len(cands):>8} {rec:>7.3f} {prec:>9.3f} {dt:>6.1f}")

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(queries, emb, k=5).collect()
    }
    print(f"\nexact top-5 pairs: {len(exact)}")
    print(f"{'tables':>6} {'planes':>6} {'overlap@5':>9} {'sec':>6}")
    for tables, planes in [(2, 4), (4, 4), (4, 8), (8, 4), (8, 8)]:
        t0 = time.perf_counter()
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.topk_lsh(
                queries, emb, n_planes=planes, n_tables=tables
            ).collect()
        }
        dt = time.perf_counter() - t0
        print(
            f"{tables:>6} {planes:>6} {len(exact & approx) / len(exact):>9.3f} {dt:>6.1f}"
        )

    from xero_api_etl_utilities_spark.operators import ivf

    centroids = ivf.train_centroids(emb)
    print(f"\n{'nprobe':>6} {'overlap@5':>9} {'sec':>6}")
    for nprobe in [1, 2, 4, 8, 16]:
        t0 = time.perf_counter()
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf.topk_ivf(queries, emb, centroids, k=5, nprobe=nprobe).collect()
        }
        dt = time.perf_counter() - t0
        print(f"{nprobe:>6} {len(exact & approx) / len(exact):>9.3f} {dt:>6.1f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
