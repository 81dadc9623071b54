"""Unit tests for the round-3 training-pipeline operators: containment
verification, SQ8 quantization, exact-quota group sampling, mixture
rebalancing, and the inter-arrival plan's median convention."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import py_h32
from xero_api_etl_utilities_spark.operators.dedup import containment_verify
from xero_api_etl_utilities_spark.operators.quantize import sq8_codes
from xero_api_etl_utilities_spark.operators.sampling import (
    mixture_rebalance,
    per_group_topk,
)


def test_containment_catches_subset_jaccard_misses(spark):
    # doc 2 is wholly contained in doc 1 but much smaller:
    # J = 3/10 (fails 0.7), containment = 3/3 = 1.0 (passes 0.9)
    big = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, big), (2, "a b c"), (3, "x y z")], "doc_id bigint, text string"
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a bigint, doc_b bigint"
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter_size"], r["min_size"])
        for r in containment_verify(cands, docs, "doc_id", "text").collect()
    }
    assert got == {(1, 2): (3, 3)}  # (1,3): inter 0, fails; subset passes


def test_containment_empty_doc_never_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "")], "doc_id bigint, text string"
    )
    cands = spark.createDataFrame([(1, 2)], "doc_a bigint, doc_b bigint")
    assert containment_verify(cands, docs, "doc_id", "text").count() == 0


def test_sq8_codes_bounds_and_constant_dim(spark):
    emb = spark.createDataFrame(
        [(1, [0.0, 5.0]), (2, [1.0, 5.0]), (3, [2.0, 5.0])],
        "vec_id bigint, embedding array<float>",
    )
    rows = {(r["vec_id"], r["dim"]): r["code"] for r in sq8_codes(emb, "vec_id", "embedding").collect()}
    # dim 0 spans [0,2]: min->0, mid->128 (floor(127.5+0.5)), max->255
    assert rows[(1, 0)] == 0 and rows[(3, 0)] == 255 and rows[(2, 0)] == 128
    # constant dim codes to 0 everywhere
    assert rows[(1, 1)] == rows[(2, 1)] == rows[(3, 1)] == 0


def test_per_group_topk_exact_quota_and_hash_order(spark):
    df = spark.createDataFrame(
        [(i, "g" + str(i % 2)) for i in range(10)], "doc_id bigint, source string"
    )
    out = per_group_topk(df, "doc_id", "source", k=3).collect()
    by_g: dict[str, list] = {}
    for r in out:
        by_g.setdefault(r["source"], []).append(r)
    assert {g: len(v) for g, v in by_g.items()} == {"g0": 3, "g1": 3}
    # winners are the k smallest salted hashes, ranked in hash order
    for g, members in by_g.items():
        ids = [i for i in range(10) if i % 2 == int(g[1])]
        expect = sorted(ids, key=lambda i: (py_h32(f"grouptopk|{g}|{i}"), i))[:3]
        got = [r["doc_id"] for r in sorted(members, key=lambda r: r["rk"])]
        assert got == expect


def test_per_group_topk_rejects_bad_k(spark):
    df = spark.createDataFrame([(1, "g")], "doc_id bigint, source string")
    with pytest.raises(ValueError, match="k > 0"):
        per_group_topk(df, "doc_id", "source", k=0)


def test_mixture_rebalance_rates_and_drops(spark):
    # 100 rows of g0, 100 of g1: target g0 at 25% of the 200-row corpus
    # -> keep rate min(1, 0.25*200/100)=0.5; g1 unlisted -> dropped
    df = spark.createDataFrame(
        [(i, "g0" if i < 100 else "g1") for i in range(200)],
        "doc_id bigint, source string",
    )
    out = mixture_rebalance(df, "doc_id", "source", {"g0": 250_000}).collect()
    assert all(r["source"] == "g0" for r in out)
    expect = [
        i for i in range(100) if py_h32(f"mixture|g0|{i}") % 1_000_000 < 500_000
    ]
    assert sorted(r["doc_id"] for r in out) == expect


def test_mixture_rebalance_caps_at_keep_all(spark):
    df = spark.createDataFrame(
        [(i, "g0") for i in range(50)], "doc_id bigint, source string"
    )
    # target 100% of corpus from a group that IS the corpus -> rate 1
    out = mixture_rebalance(df, "doc_id", "source", {"g0": 1_000_000})
    assert out.count() == 50


def test_mixture_rebalance_rejects_bad_ppm(spark):
    df = spark.createDataFrame([(1, "g")], "doc_id bigint, source string")
    with pytest.raises(ValueError, match="ppm"):
        mixture_rebalance(df, "doc_id", "source", {"g": 2_000_000})


def test_decode_gray_blocks_pins_full_codec_chain(spark):
    # Push a 4x4 image through the REAL decode -> block sums -> resize
    # -> re-encode -> second decode path and check hand-computed values.
    from xero_api_etl_utilities_spark.functions.imagecodec import encode_ppm
    from xero_api_etl_utilities_spark.operators.multimodal import decode_gray_blocks

    d = 7
    raw = bytes((d * 31 + i) % 256 for i in range(48))
    media = spark.createDataFrame(
        [(d, bytearray(encode_ppm(4, 4, raw)))], "media_id bigint, content binary"
    )
    row = decode_gray_blocks(media).collect()[0]
    gray = [(raw[3 * p] + raw[3 * p + 1] + raw[3 * p + 2]) // 3 for p in range(16)]
    for j in range(8):
        assert row[f"f{j}"] == gray[2 * j] + gray[2 * j + 1]
    assert (row["rw"], row["rh"]) == (2, 2)
    # resize 4x4 -> 2x2 picks src pixels p = 8y + 2x: 0, 2, 8, 10
    assert [row[f"r{k}"] for k in range(4)] == [gray[p] for p in (0, 2, 8, 10)]


def test_synth_media_roundtrips_through_any_supported_format(spark):
    # The decode stage sniffs magic bytes: feeding the same pixels as a
    # BMP must produce identical features to the PPM source (codec
    # agnosticism of the downstream operator).
    import struct

    from xero_api_etl_utilities_spark.functions.imagecodec import encode_ppm
    from xero_api_etl_utilities_spark.operators.multimodal import decode_gray_blocks

    pix = bytes(range(2 * 2 * 3))

    def bmp_2x2(flat: bytes) -> bytes:
        rows = [flat[0:6], flat[6:12]]
        data = b""
        for r in reversed(rows):  # bottom-up
            data += b"".join(
                bytes((r[3 * x + 2], r[3 * x + 1], r[3 * x])) for x in range(2)
            ) + b"\x00\x00"
        dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(data), 0, 0, 0, 0)
        return b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54) + dib + data

    media = spark.createDataFrame(
        [(1, bytearray(encode_ppm(2, 2, pix))), (2, bytearray(bmp_2x2(pix)))],
        "media_id bigint, content binary",
    )
    rows = {r["media_id"]: r for r in decode_gray_blocks(media).collect()}
    a, b = rows[1], rows[2]
    assert [a[f] for f in a.asDict() if f != "media_id"] == [
        b[f] for f in b.asDict() if f != "media_id"
    ]


def test_ahash64_matches_python_recompute(spark):
    # the fingerprint must equal the closed-form recompute from the
    # synth rule — pinning the full encode -> real-decode -> gray ->
    # threshold path byte-exactly (X104).
    from xero_api_etl_utilities_spark.operators.multimodal import (
        ahash64,
        synth_ppm_media,
    )

    ids = spark.createDataFrame([(d,) for d in range(40)], "doc_id bigint")
    media = synth_ppm_media(ids, "doc_id", width=8, height=8)
    got = {r["media_id"]: r["ahash"] for r in ahash64(media).collect()}

    def expect(d: int) -> int:
        gray = [
            sum((d * 31 + 3 * p + c) % 256 for c in range(3)) // 3
            for p in range(64)
        ]
        mean = sum(gray) // 64
        fp = 0
        for p, g in enumerate(gray):
            if g > mean:
                fp |= 1 << p
        return fp - (1 << 64) if fp >= 1 << 63 else fp

    assert got == {d: expect(d) for d in range(40)}


def test_ahash_identical_period_images_pair_at_hamming_zero(spark):
    # (d*31) % 256 has period 256: docs 256 apart render identical
    # images, so every (d, d+256) pair must appear at Hamming 0.
    from xero_api_etl_utilities_spark.operators.dedup import simhash_near_dups
    from xero_api_etl_utilities_spark.operators.multimodal import (
        ahash64,
        synth_ppm_media,
    )

    ids = spark.createDataFrame(
        [(d,) for d in list(range(5)) + list(range(256, 261))],
        "doc_id bigint",
    )
    fps = ahash64(synth_ppm_media(ids, "doc_id", width=8, height=8))
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dups(fps, doc_col="media_id", fp_col="ahash").collect()
    }
    for d in range(5):
        assert pairs.get((d, d + 256)) == 0


def test_ahash_rejects_oversized_images(spark):
    from xero_api_etl_utilities_spark.operators.multimodal import (
        ahash64,
        synth_ppm_media,
    )

    ids = spark.createDataFrame([(1,)], "doc_id bigint")
    media = synth_ppm_media(ids, "doc_id", width=9, height=9)
    with pytest.raises(Exception, match="64 pixels"):
        ahash64(media).collect()


def test_neardup_decontam_orientation_and_threshold(spark, sf_dir):
    # every flagged pair must be corpus-side first, benchmark-side
    # second, meet the 0.7 verified-Jaccard threshold, and appear in
    # the underlying verified-pairs frame.
    from xero_api_etl_utilities_spark.plans.dedup_ops import (
        _NDCONTAM_MOD,
        _NDCONTAM_RESIDUE,
        verified_pairs as _verified_pairs,
        decontaminate_neardup,
    )

    m, res = _NDCONTAM_MOD, _NDCONTAM_RESIDUE
    rows = decontaminate_neardup(spark, sf_dir).collect()
    assert rows, "the sf0.001 corpus has near-dup clusters crossing the slice"
    base = {
        frozenset((r["doc_a"], r["doc_b"]))
        for r in _verified_pairs(spark, sf_dir).collect()
    }
    for r in rows:
        assert r["corpus_id"] % m != res
        assert r["bench_id"] % m == res
        assert 10 * r["inter_size"] >= 7 * r["union_size"]
        assert frozenset((r["corpus_id"], r["bench_id"])) in base


def test_cluster_representatives_keep_rule(spark, sf_dir):
    # the kept doc must be the (max n_chars, min doc_id) member of its
    # cluster, size must match the cluster census, and only clusters
    # with >= 2 members may appear.
    from xero_api_etl_utilities_spark.plans.dedup_ops import (
        dedup_cluster_representatives,
        doc_clusters,
    )

    chars = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    members: dict[int, list[int]] = {}
    for r in doc_clusters(spark, sf_dir).collect():
        members.setdefault(r["cluster_id"], []).append(r["doc_id"])

    rows = dedup_cluster_representatives(spark, sf_dir).collect()
    assert rows, "sf0.001 has multi-member near-dup clusters"
    seen = set()
    for r in rows:
        group = members[r["cluster_id"]]
        assert len(group) >= 2 and r["size"] == len(group)
        best = min(group, key=lambda d: (-chars[d], d))
        assert r["kept_doc"] == best
        assert r["kept_chars"] == chars[best]
        assert r["n_dropped"] == len(group) - 1
        seen.add(r["cluster_id"])
    assert seen == {c for c, g in members.items() if len(g) >= 2}


def test_decontam_report_merges_both_detectors(spark, sf_dir):
    # the report must be the full-outer merge of the two stage
    # detectors under the shared %20 benchmark, with coherent verdicts.
    from xero_api_etl_utilities_spark.operators.textnorm import ngram_overlap
    from xero_api_etl_utilities_spark.plans.dedup_ops import (
        verified_pairs as _verified_pairs,
        decontaminate_report,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    exact = {
        r["doc_id"]: r["n_shared"]
        for r in ngram_overlap(train, bench, "doc_id", "text").collect()
    }
    near: dict[int, int] = {}
    for r in _verified_pairs(spark, sf_dir).collect():
        ab, bb = r["doc_a"] % 20 == 0, r["doc_b"] % 20 == 0
        if ab != bb:
            d = r["doc_b"] if ab else r["doc_a"]
            near[d] = near.get(d, 0) + 1

    rows = {r["doc_id"]: r for r in decontaminate_report(spark, sf_dir).collect()}
    assert set(rows) == set(exact) | set(near)
    for d, r in rows.items():
        assert r["n_shared_ngrams"] == exact.get(d, 0)
        assert r["n_neardup"] == near.get(d, 0)
        expect = (
            "both"
            if d in exact and d in near
            else ("neardup" if d in near else "exact")
        )
        assert r["verdict"] == expect


def test_dim_health_census_matches_numpy(spark, sf_dir):
    # X111: recompute the per-dimension SQ8 census with numpy's own
    # quantizer (same one-association formula) — levels, range, and the
    # exact integer variance numerator must agree digit-for-digit.
    import numpy as np
    import pyarrow.parquet as pq

    from xero_api_etl_utilities_spark.plans.retrieval_ops import embedding_dim_health

    vecs = np.array(
        pq.read_table(f"{sf_dir}/embeddings.parquet")
        .column("embedding")
        .to_pylist(),
        dtype=np.float64,
    )
    mn, mx = vecs.min(axis=0), vecs.max(axis=0)
    span = mx - mn
    codes = np.zeros_like(vecs, dtype=np.int64)
    live = span > 0
    codes[:, live] = np.floor(
        ((vecs[:, live] - mn[live]) * 255.0) / span[live] + 0.5
    ).astype(np.int64)
    got = {
        r["dim"]: (
            r["n"],
            r["n_levels"],
            r["c_min"],
            r["c_max"],
            r["var_num"],
            r["health"],
        )
        for r in embedding_dim_health(spark, sf_dir).collect()
    }
    assert set(got) == set(range(vecs.shape[1]))
    for d in range(vecs.shape[1]):
        c = codes[:, d]
        n = len(c)
        levels = len(np.unique(c))
        var_num = n * int((c * c).sum()) - int(c.sum()) ** 2
        health = "dead" if levels == 1 else ("coarse" if levels < 16 else "ok")
        assert got[d] == (
            n,
            levels,
            int(c.min()),
            int(c.max()),
            str(var_num),
            health,
        ), f"dim {d}"


def test_pair_provenance_census_matches_pair_listing(spark, sf_dir):
    # X112: the provenance census must be exactly the verified-pairs
    # frame re-labeled through the documents table — recompute the
    # (src_lo, src_hi) cells in python from the two upstream queries.
    from collections import Counter

    from xero_api_etl_utilities_spark.plans.dedup_ops import (
        dedup_pair_provenance,
        dedup_verified_pairs,
    )

    src = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    cells = Counter()
    for r in dedup_verified_pairs(spark, sf_dir).collect():
        sa, sb = src[r["doc_a"]], src[r["doc_b"]]
        cells[(min(sa, sb), max(sa, sb))] += 1
    got = {
        (r["src_lo"], r["src_hi"]): (r["relation"], r["n_pairs"])
        for r in dedup_pair_provenance(spark, sf_dir).collect()
    }
    want = {
        k: ("within" if k[0] == k[1] else "cross", n)
        for k, n in cells.items()
    }
    assert got == want


def test_dedup_savings_census_matches_python_keep_rule(spark, sf_dir):
    # X114: replay the keep-longest/min-id rule in python over the
    # cluster substrate and recompute per-source droppable mass.
    from collections import defaultdict

    from xero_api_etl_utilities_spark.plans.dedup_ops import dedup_savings_census, doc_clusters

    meta = {
        r["doc_id"]: (r["source"], r["n_chars"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "n_chars")
        .collect()
    }
    clusters = defaultdict(list)
    for r in doc_clusters(spark, sf_dir).collect():
        clusters[r["cluster_id"]].append(r["doc_id"])
    per_src = defaultdict(lambda: [0, 0])  # dropped_docs, dropped_chars
    for members in clusters.values():
        keep = max(members, key=lambda d: (meta[d][1], -d))
        for d in members:
            if d != keep:
                per_src[meta[d][0]][0] += 1
                per_src[meta[d][0]][1] += meta[d][1]
    tot = defaultdict(lambda: [0, 0])  # n_docs, total_chars
    for src, nc in meta.values():
        tot[src][0] += 1
        tot[src][1] += nc
    got = {
        r["source"]: (
            r["n_docs"],
            r["dropped_docs"],
            r["total_chars"],
            r["dropped_chars"],
            r["savings_bp"],
        )
        for r in dedup_savings_census(spark, sf_dir).collect()
    }
    want = {
        src: (
            tot[src][0],
            per_src[src][0],
            tot[src][1],
            per_src[src][1],
            per_src[src][1] * 10000 // tot[src][1],
        )
        for src in tot
    }
    assert got == want
