"""Extension-operator correctness: hand-computed fixtures for the
hash-based operators (no DuckDB twin) plus recall checks of the
approximate paths against the exact ones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import dedup as dd
from xero_api_etl_utilities_spark.operators import similarity as sim
from xero_api_etl_utilities_spark.operators import textstats as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different words entirely unrelated text"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "the quick brown fox leaps over the lazy dog"),   # near-dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    got = {r["doc_id"]: r["dup_count"] for r in dd.exact_dedup(docs, "text", "doc_id").collect()}
    assert got[0] == 2          # doc 3 collapsed into doc 0
    assert 3 not in got
    assert got[1] == 1 and got[2] == 1 and got[4] == 1


def test_jaccard_pairs_exact_values(docs):
    # token sets: doc0 ={the,quick,brown,fox,jumps,over,lazy,dog} (8)
    # doc1 swaps dog→cat: inter=7, union=9
    pairs = {
        (r["doc_a"], r["doc_b"]): (r["inter_size"], r["union_size"])
        for r in dd.jaccard_pairs(docs, "doc_id", "text").collect()
    }
    assert pairs[(0, 1)] == (7, 9)
    assert pairs[(0, 3)] == (8, 8)  # exact dup
    assert (0, 2) not in pairs      # dissimilar filtered by threshold


def test_minhash_lsh_recall_vs_exact(docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(docs, "doc_id", "text").collect()
    }
    sigs = dd.minhash_signatures(docs, "doc_id", "text")
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4).collect()
    }
    # every >=0.7-Jaccard pair must surface as an LSH candidate
    assert exact <= cands
    # identical docs share identical signatures → always candidates
    assert (0, 3) in cands


def test_token_ngrams_short_and_empty_docs(spark):
    """Docs with fewer than n tokens must yield ZERO shingles, not a
    descending-sequence slice() crash (sequence(0,-1) → [0,-1])."""
    rows = [(0, ""), (1, "one"), (2, "two words"), (3, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id", F.size(dd.token_ngrams(dd.tokens(F.col("text")), 3)).alias("n")
    ).collect()
    got = {r["doc_id"]: r["n"] for r in out}
    assert got == {0: 0, 1: 0, 2: 0, 3: 2}
    # and the full pair pipeline survives short and empty docs (the
    # empty doc has no token, so no signature)
    assert dd.jaccard_pairs(df, "doc_id", "text").count() == 0
    assert dd.minhash_signatures(df, "doc_id", "text").count() == 3


def test_jaccard_pairs_guard_trips(docs):
    with pytest.raises(ValueError, match="max_rows"):
        dd.jaccard_pairs(docs, "doc_id", "text", max_rows=3).count()
    # the explicit opt-out runs the join
    assert (0, 3) in {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(docs, "doc_id", "text", max_rows=None).collect()
    }


def test_minhash_identical_signatures(docs):
    sigs = {r["doc"]: [r[f"mh_{i}"] for i in range(64)] for r in
            dd.minhash_signatures(docs, "doc_id", "text").collect()}
    assert sigs[0] == sigs[3]       # exact dup → identical signature
    assert sigs[0] != sigs[2]       # unrelated → different


def test_simhash_properties(docs):
    fps = {r["doc"]: r["simhash"] for r in dd.simhash64(docs, "doc_id", "text").collect()}
    assert fps[0] == fps[3]         # exact dup → identical fingerprint

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near-dup pairs are closer than unrelated pairs
    assert hamming(fps[0], fps[1]) < hamming(fps[0], fps[2])


def test_simhash_against_python_reference(spark):
    """Pin the bit math to an independent pure-python computation of
    the md5-derived token hash (crosshash.py_h64)."""
    from xero_api_etl_utilities_spark.functions.crosshash import py_h64

    text = "alpha beta gamma delta"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    toks = sorted(set(text.split()))
    fp = 0
    for j in range(64):
        s = sum(1 if (py_h64(t) >> j) & 1 else -1 for t in toks)
        if s > 0:
            fp |= 1 << j
    expected = fp - (1 << 64) if fp >= (1 << 63) else fp  # two's complement
    [row] = dd.simhash64(df, "doc_id", "text").collect()
    assert row["simhash"] == expected


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [1.0, 0.05, 0.0]),  # closest to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_topk_bruteforce_exact(vectors):
    got = [
        (r["neighbor_id"], r["rank"])
        for r in sim.topk_bruteforce(
            vectors.filter(F.col("vec_id") == 0), vectors, k=2
        ).collect()
    ]
    assert got == [(4, 1), (1, 2)]


def test_topk_cosine_value(spark, vectors):
    row = (
        vectors.filter(F.col("vec_id") == 0)
        .crossJoin(
            vectors.filter(F.col("vec_id") == 2).select(F.col("embedding").alias("e2"))
        )
        .select(sim.cosine(F.col("embedding"), F.col("e2")).alias("c"))
        .collect()[0]
    )
    assert abs(row["c"]) < 1e-9  # orthogonal


def test_topk_lsh_recall_on_clustered_vectors(spark):
    """LSH recall is only meaningful when neighbors are actually close
    (the driver's synthetic embeddings are near-random: mean top-3
    cosine ≈ 0.34, where sign-LSH provably cannot prune). Build tight
    clusters (intra-cluster cosine ≈ 0.99) and demand high recall."""
    import math
    import random

    rng = random.Random(3)
    dim, rows = 64, []
    for cluster in range(5):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in center))
        center = [x / norm for x in center]
        for i in range(20):
            rows.append(
                (
                    cluster * 100 + i,
                    [x + rng.gauss(0, 0.02) for x in center],
                )
            )
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = vecs.filter(F.col("vec_id") % 100 == 0)  # one per cluster
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(queries, vecs, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_lsh(queries, vecs, n_planes=4, n_tables=4).collect()
    }
    assert len(exact & approx) >= 0.8 * len(exact)


def test_lang_id_markers(spark):
    rows = [
        (1, "the cat and the dog of a house"),
        (2, "der hund und die katze ist hier"),
        (3, "le chat et la maison des les"),
        (4, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["l"] for r in df.select("doc_id", tx.lang_id(F.col("text")).alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 foo-bar")], "doc_id long, text string")
    [r] = df.select(
        tx.whitespace_token_count(F.col("text")).alias("ws"),
        tx.token_count(F.col("text")).alias("bpe"),
    ).collect()
    assert r["ws"] == 4
    # Hello , world ! 42 foo - bar → 8 BPE-ish tokens
    assert r["bpe"] == 8


def test_topk_ivf_recall_on_clustered_vectors(spark):
    """IVF with nprobe=2 must recover >=80% of exact top-3 on tightly
    clustered vectors (see LSH note above re: the random corpus)."""
    import math
    import random

    from xero_api_etl_utilities_spark.operators import ivf

    rng = random.Random(4)
    dim, rows = 16, []
    for cluster in range(5):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in center))
        center = [x / norm for x in center]
        for i in range(20):
            rows.append((cluster * 100 + i, [x + rng.gauss(0, 0.02) for x in center]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = ivf.train_centroids(vecs, k=5, iters=5, sample=100, seed=2)
    queries = vecs.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(queries, vecs, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf.topk_ivf(queries, vecs, centroids, k=3, nprobe=2).collect()
    }
    assert len(exact & approx) >= 0.8 * len(exact)


def test_simhash_near_dups_banding(spark):
    """Banded near-dup pairs: identical fingerprints always pair at
    hamming 0; pairs differing beyond the radius are excluded; banding
    finds every pair within hamming<=3 (pigeonhole guarantee)."""
    fps = spark.createDataFrame(
        [
            (1, 0x1234_5678_9ABC_DEF0),
            (2, 0x1234_5678_9ABC_DEF0),          # identical to 1
            (3, 0x1234_5678_9ABC_DEF1),          # hamming 1 from 1/2
            (4, 0x1234_5678_9ABC_DE00 ^ 0x70),   # several bits off
            (5, -0x0FED_CBA9_8765_4322),         # far away
        ],
        "doc long, simhash long",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_near_dups(fps).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert all(h <= 3 for h in got.values())
    assert not any(5 in p for p in got)


def test_simhash_near_dups_duplicate_fp_groups(spark):
    """Pin the fp-grouped bucket explosion (hamming once per
    distinct-fingerprint pair, doc expansion only for passing pairs)
    against a brute-force all-pairs reference on a duplicate-heavy
    frame — the shape where the grouped path diverges most from the
    old flat member explosion if it were wrong."""
    base = 0x0123_4567_89AB_CDEF
    rows = []
    # three duplicate clusters (sizes 4/3/2) + two singletons; cluster
    # fps within hamming 1-2 of each other and one far outlier
    for d in range(4):
        rows.append((d, base))
    for d in range(10, 13):
        rows.append((d, base ^ 0x1))           # hamming 1 from base
    for d in range(20, 22):
        rows.append((d, base ^ 0x6))           # hamming 2 from base, 3 from ^1
    rows.append((30, base ^ (0x8000_0000_0000_0001 - 0x1_0000_0000_0000_0000)))
    rows.append((31, -base))                   # far away
    fps = spark.createDataFrame(rows, "doc long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dd.simhash_near_dups(fps).collect()
    }
    # brute-force reference: every pair within hamming<=3 (pigeonhole
    # guarantees banding recall at this radius)
    def ham(a, b):
        return bin((a ^ b) & 0xFFFF_FFFF_FFFF_FFFF).count("1")

    expect = {
        (a, b, ham(fa, fb))
        for i, (a, fa) in enumerate(rows)
        for b, fb in rows[i + 1 :]
        if ham(fa, fb) <= 3
    }
    expect = {(min(a, b), max(a, b), h) for a, b, h in expect}
    assert got == expect
    # duplicate clusters must pair exhaustively at hamming 0
    assert sum(1 for a, b, h in got if h == 0) == 6 + 3 + 1


def test_ivf_centroid_twins_bit_identical(spark):
    """The Spark collect path and the pyarrow oracle path must train
    BIT-IDENTICAL centroids from the same parquet — the whole basis of
    the IVF DuckDB oracle (inlined centroid literals)."""
    from xero_api_etl_utilities_spark.operators import ivf

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = ivf.train_centroids(emb)
    b = ivf.train_centroids_from_parquet(f"{sf_dir}/embeddings.parquet")
    assert a == b  # exact float equality, not approx


def test_minhash_coefficients_are_a_universal_family():
    """The MinHash table that both the Spark plan and its DuckDB oracle
    read: ``(a*x + b) mod P`` is a permutation family only when every
    ``a`` is a non-zero residue and ``b`` a residue; distinct ``a`` keep
    the 64 hashes from collapsing into fewer.  The oracle replays this
    table, so only this test checks it."""
    from xero_api_etl_utilities_spark.operators.dedup import _P, minhash_coeffs

    coeffs = minhash_coeffs(64, 42)
    assert len(coeffs) == 64
    assert all(a % 2 == 1 and 1 <= a < _P for a, _ in coeffs)
    assert all(0 <= b < _P for _, b in coeffs)
    assert len({a for a, _ in coeffs}) == 64


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_hyperplane_and_centroid_margins_clear_float_noise(sf_dir, sf):
    """The hyperplanes and IVF centroids are shared inputs of the Spark
    plans and their DuckDB oracles, so a hash-match cannot check that
    they leave the discrete outputs engine-stable.  This does, without
    Spark: every embedding's dot product with each catalog plane
    (``hyperplanes(4, 64, seed=7+t)``, t < 4) is clear of zero, and its
    best centroid score (as ``ivf.assign_cells`` scores) is clear of the
    second best, by far more than cross-engine double-summation noise
    (~1e-14).  Measured minima: planes 1.28e-4 at sf0.01 and 6.5e-5 at
    sf0.1; centroid gap 3.5e-4 and 1.1e-5."""
    from pathlib import Path

    import numpy as np
    import pyarrow.parquet as pq

    from xero_api_etl_utilities_spark.operators.ivf import train_centroids_from_parquet

    path = str(Path(sf_dir).with_name(sf) / "embeddings.parquet")
    emb = pq.read_table(path, columns=["embedding"]).column(0).to_pylist()
    vecs = np.asarray(emb, dtype=np.float64)
    planes = np.asarray([p for t in range(4) for p in sim.hyperplanes(4, 64, seed=7 + t)])
    assert np.abs(vecs @ planes.T).min() > 1e-9
    scores = np.sort(vecs @ np.asarray(train_centroids_from_parquet(path)).T, axis=1)
    assert (scores[:, -1] - scores[:, -2]).min() > 1e-9


def test_sampling_deterministic_and_disjoint(spark):
    """Systematic sample is rerun/partitioning-stable; split is
    disjoint+exhaustive with roughly the 80/10/10 proportions; the two
    salts decorrelate; bad fractions are refused."""
    from xero_api_etl_utilities_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in sampling.systematic_sample(df, "k", 1, 4).collect()}
    s2 = {
        r["k"]
        for r in sampling.systematic_sample(df.repartition(13), "k", 1, 4).collect()
    }
    assert s1 == s2 and 300 < len(s1) < 700  # stable; ~500 expected
    sp = sampling.assign_split(df, "k")
    counts = {r["split"]: r["n"] for r in sp.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert counts["train"] > 1400 and counts["val"] < 300
    # the split's salt draws independently of the sample's
    s3 = {r["k"] for r in sp.filter(F.col("split") == "test").collect()}
    assert s1 != s3
    import pytest

    with pytest.raises(ValueError):
        sampling.systematic_sample(df, "k", 5, 4)


def test_fuzzy_pairs_distance1(spark):
    from xero_api_etl_utilities_spark.operators.fuzzy import fuzzy_pairs_distance1

    df = spark.createDataFrame(
        [
            (1, "cat"),    # ↔ "cut" (sub), "cats" (ins), "at" (del)
            (2, "cut"),
            (3, "cats"),
            (4, "at"),
            (5, "dog"),    # no neighbor
            (6, "abc"),    # "abc"/"bcd" share variant "bc" but distance 2
            (7, "bcd"),
        ],
        ["id", "name"],
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs_distance1(df, "id", "name").collect()
    }
    # substitution, insertion, deletion all matched; (6,7) VERIFIED
    # AWAY — "abc"/"bcd" share deletion variant "bc" at true distance 2
    assert got == {(1, 2), (1, 3), (1, 4)}


def test_topk_ivf_pq_distributed_matches_driver_path(spark):
    """Past the 10k driver guard the ADC distance tables are built in a
    mapInPandas stage instead of being raised on (r4). Both builders
    share the same float loops, so for identical queries the two paths
    must return IDENTICAL (query, neighbor, rank) rows — proven by
    running a 10,050-query frame (distributed) whose first 50 ids
    duplicate the small frame (driver-side) and comparing."""
    import math
    import random

    from xero_api_etl_utilities_spark.operators import ivf

    rng = random.Random(7)
    dim = 8

    def unit(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    centers = [unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(4)]
    corpus_rows = [
        (c * 1000 + i, [x + rng.gauss(0, 0.05) for x in centers[c]])
        for c in range(4)
        for i in range(25)
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<float>")
    centroids = ivf.train_centroids(corpus, k=4, iters=4, sample=100, seed=3)
    # handcrafted 2x4x4 PQ codebooks: ADC equality doesn't need good
    # codebooks, only shared ones
    codebooks = [
        [[rng.gauss(0, 1) for _ in range(4)] for _ in range(4)] for _ in range(2)
    ]

    q_small_rows = [
        (i, [x + rng.gauss(0, 0.05) for x in centers[i % 4]]) for i in range(50)
    ]
    q_big_rows = q_small_rows + [
        (50 + i, [x + 0.001 * (i % 9) for x in centers[i % 4]]) for i in range(10_000)
    ]
    q_small = spark.createDataFrame(q_small_rows, "vec_id long, embedding array<float>")
    q_big = spark.createDataFrame(q_big_rows, "vec_id long, embedding array<float>")

    def rows(res):
        return {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in res.collect()
            if r["query_id"] < 50
        }

    driver_res = rows(
        ivf.topk_ivf_pq(q_small, corpus, centroids, codebooks, k=3, nprobe=2)
    )
    dist_res = rows(
        ivf.topk_ivf_pq(q_big, corpus, centroids, codebooks, k=3, nprobe=2)
    )
    assert driver_res == dist_res and len(driver_res) == 150


def test_ivf_cell_balance_matches_numpy_assignment(spark, sf_dir):
    # recompute the per-cell census with a numpy argmax over the
    # same deterministically-trained centroids; empty cells must appear
    # with zero counts and the integer shares must replay exactly.
    import numpy as np
    import pyarrow.parquet as pq

    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.plans.extensions import (
        similarity_ivf_cell_balance,
    )

    k_cells = 16
    cents = np.array(
        train_centroids_from_parquet(f"{sf_dir}/embeddings.parquet")
    )
    vecs = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet")
        .column("embedding")
        .to_pylist(),
        dtype=np.float64,
    )
    # ties (none at the shipped sfs, margin-checked by the IVF suite)
    # would break toward the HIGHER cell id under the plan's
    # reverse(array_sort(struct(d, cell))) — replay that orientation.
    scores = vecs @ cents.T
    best = np.zeros(len(vecs), dtype=int)
    for i, row in enumerate(scores):
        m = row.max()
        best[i] = max(np.flatnonzero(row == m))
    n = len(vecs)
    want = {}
    for cell in range(k_cells):
        c = int((best == cell).sum())
        want[cell] = (c, c * 10000 // n, c * 100 * k_cells // n)
    got = {
        r["cell"]: (r["n_vecs"], r["share_bp"], r["load_x100"])
        for r in similarity_ivf_cell_balance(spark, sf_dir).collect()
    }
    assert got == want
    assert set(got) == set(range(k_cells))


def test_lsh_stop_bucket_guard_bounds_degenerate_skew(spark):
    """Adversarial skew: 10^4 IDENTICAL docs —
    the worst single-bucket hot spot LSH can see (every band collapses
    to one bucket of 10^4 members, a naive pair expansion is ~5*10^7
    pairs per band).  The 500-doc stop-bucket cap must drop the hot
    buckets so candidate output stays EXACTLY the genuine near-dup
    pairs hiding beside the degenerate mass, and the verify consumer
    must stay green on the same fixture."""
    from xero_api_etl_utilities_spark.operators import dedup as dd

    boiler = "the same boilerplate sentence repeated in every scraped page"
    fam_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fam_b = "one two three four five six seven eight nine ten"
    rows = [(i, boiler) for i in range(10_000)]
    rows += [
        (20_000, fam_a),
        (20_001, fam_a + " lambda"),
        (20_002, fam_b),
        (20_003, fam_b + " eleven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dd.minhash_signatures(docs, "doc_id", "text")
    cands = dd.minhash_lsh_candidates(
        sigs, bands=16, rows_per_band=4
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in cands}
    # the 10^4-doc bucket is dropped wholesale; ONLY the two small
    # families pair up — bounded output under maximal skew
    assert got == {(20_000, 20_001), (20_002, 20_003)}

    verified = dd.jaccard_verify(
        dd.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4),
        docs,
        "doc_id",
        "text",
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in verified} == got
    for r in verified:
        assert 10 * r["inter_size"] >= 7 * r["union_size"]
