"""Pins for the X96–X100 wave (plans/corpus_extra.py): subsequence
support semantics, exact TVD algebra, cosine-threshold soundness, the
short-document shingle clamp, and the distributed epoch-shuffle
permutation contract — each checked against an independent pure-Python
recompute at sf0.001."""

from __future__ import annotations

import duckdb

from xero_api_etl_utilities_spark.functions.crosshash import py_h32
from xero_api_etl_utilities_spark.plans.curation_ops import sample_epoch_shuffle
from xero_api_etl_utilities_spark.plans.diagnostics_ops import diag_distribution_drift
from xero_api_etl_utilities_spark.plans.event_ops import events_seq_pairs
from xero_api_etl_utilities_spark.plans.text_ops import (
    text_boilerplate_shingles,
    text_tf_cosine_pairs,
)


def _rows(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).fetchall()


def test_seq_pairs_match_bruteforce_subsequence(spark, sf_dir):
    # a sequence supports a->b iff SOME a precedes SOME b — recompute
    # the support of every ordered pair by scanning each user-day
    # sequence directly, no min/max trick.
    raw = _rows(
        sf_dir,
        "SELECT user_id, ts::DATE, event_type FROM events"
        " ORDER BY user_id, ts::DATE, ts, event_id",
    )
    seqs: dict[tuple, list[str]] = {}
    for u, d, t in raw:
        seqs.setdefault((u, d), []).append(t)
    support: dict[tuple[str, str], int] = {}
    for types in seqs.values():
        seen_pairs = set()
        seen_before: set[str] = set()
        for t in types:
            for a in seen_before:
                if a != t:
                    seen_pairs.add((a, t))
            seen_before.add(t)
        for p in seen_pairs:
            support[p] = support.get(p, 0) + 1
    total = len(seqs)

    got = {
        (r["ante"], r["cons"]): (r["support_seqs"], r["support_bp"], r["frequent"])
        for r in events_seq_pairs(spark, sf_dir).collect()
    }
    assert set(got) == set(support)
    for pair, (s, bp, freq) in got.items():
        assert s == support[pair]
        assert bp == s * 10000 // total
        assert freq == (s * 10000 >= 850 * total)


def test_drift_total_row_is_exact_tvd(spark, sf_dir):
    # TVD in bp = floor(5000 * sum|c*m - d*n| / (n*m)), weekend from
    # epoch-day % 7 in {2, 3} (1970-01-01 was a Thursday).
    raw = _rows(
        sf_dir,
        "SELECT event_type,"
        " (datediff('day', DATE '1970-01-01', ts::DATE) % 7) IN (2,3)"
        " FROM events",
    )
    wd: dict[str, int] = {}
    we: dict[str, int] = {}
    for t, weekend in raw:
        (we if weekend else wd)[t] = (we if weekend else wd).get(t, 0) + 1
    n, m = sum(wd.values()), sum(we.values())
    drift = {
        t: abs(wd.get(t, 0) * m - we.get(t, 0) * n)
        for t in set(wd) | set(we)
    }
    tvd_bp = sum(drift.values()) * 5000 // (n * m)

    rows = {r["event_type"]: r for r in diag_distribution_drift(spark, sf_dir).collect()}
    assert rows["__total__"]["drift_num"] == str(tvd_bp)
    assert rows["__total__"]["wd"] == n and rows["__total__"]["we"] == m
    for t, num in drift.items():
        assert rows[t]["drift_num"] == str(num)
        assert rows[t]["wd"] == wd.get(t, 0)


def test_tf_cosine_pairs_match_bruteforce(spark, sf_dir):
    # recompute every pair's integer predicate from raw counters; the
    # plan's inverted-index join must report exactly the passing set.
    from collections import Counter

    raw = _rows(sf_dir, "SELECT doc_id, text FROM documents")
    tfs = {
        d: Counter(tok for tok in text.split(" ") if tok) for d, text in raw
    }
    # the r7 RELATIVE df guard: tokens in more than
    # max(256, 5% of n_docs) documents are dropped before norms/dots
    df = Counter(t for c in tfs.values() for t in c)
    cap = max(256, len(raw) * 500 // 10000)
    tfs = {
        d: Counter({t: v for t, v in c.items() if df[t] <= cap})
        for d, c in tfs.items()
    }
    norms = {d: sum(v * v for v in c.values()) for d, c in tfs.items()}
    expected = {}
    ids = sorted(tfs)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            common = tfs[d1].keys() & tfs[d2].keys()
            dot = sum(tfs[d1][t] * tfs[d2][t] for t in common)
            if dot and 10000 * dot * dot >= 9025 * norms[d1] * norms[d2]:
                expected[(d1, d2)] = (dot, norms[d1], norms[d2])

    got = {
        (r["d1"], r["d2"]): (r["dot"], r["n2a"], r["n2b"])
        for r in text_tf_cosine_pairs(spark, sf_dir).collect()
    }
    assert got == expected


def test_tf_cosine_max_df_guard_drops_hot_tokens(spark, sf_dir):
    # with the cap forced to 1 (floor=1, 0 bp) every shared token is
    # dropped, so NO pair can form — the guard is live on the Spark
    # side (its oracle mirrors it).
    assert (
        text_tf_cosine_pairs(
            spark, sf_dir, max_df_bp=0, max_df_floor=1
        ).count()
        == 0
    )


def test_boilerplate_shingle_counts_and_short_doc_clamp(spark, sf_dir):
    # per-source occurrence mass is sum(max(0, len(words) - 2)); a doc
    # shorter than n words contributes zero shingles rather than the
    # descending-sequence element_at(words, 0) error.
    raw = _rows(sf_dir, "SELECT source, text FROM documents")
    exp_mass: dict[str, int] = {}
    for src, text in raw:
        L = len([w for w in text.split(" ")])
        exp_mass[src] = exp_mass.get(src, 0) + max(0, L - 2)
    rows = text_boilerplate_shingles(spark, sf_dir).collect()
    got_mass = {r["source"]: r["n_shingles"] for r in rows}
    assert got_mass == {s: c for s, c in exp_mass.items() if c > 0}
    for r in rows:
        assert 0 <= r["n_boiler"] <= r["n_shingles"]
        assert r["boiler_bp"] == r["n_boiler"] * 10000 // r["n_shingles"]


def test_epoch_shuffle_is_total_order_per_epoch(spark, sf_dir):
    # the bucket-decomposed rank must reconstruct the single global
    # row_number over (h, doc_id): positions are a 1..N permutation per
    # epoch and agree with the directly sorted hash order.
    rows = sample_epoch_shuffle(spark, sf_dir).collect()
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    for epoch, rs in by_epoch.items():
        n = len(rs)
        assert sorted(r["pos"] for r in rs) == list(range(1, n + 1))
        expected_order = sorted(
            (py_h32(f"{epoch}:{r['doc_id']}"), r["doc_id"]) for r in rs
        )
        got_order = [
            (py_h32(f"{epoch}:{r['doc_id']}"), r["doc_id"])
            for r in sorted(rs, key=lambda r: r["pos"])
        ]
        assert got_order == expected_order
        assert all(r["shard"] == r["pos"] % 8 for r in rs)


def test_semdedup_census_matches_bruteforce(spark, sf_dir):
    # recompute cells + within-cell drops directly in numpy from the
    # same deterministic centroids; census must match exactly.
    import numpy as np

    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.plans.dedup_ops import _SEMDEDUP_TAU, dedup_semantic_clusters

    rows = _rows(sf_dir, "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id")
    ids = [r[0] for r in rows]
    V = np.array([r[1] for r in rows], dtype=np.float64)
    C = np.array(
        train_centroids_from_parquet(f"{sf_dir}/embeddings.parquet")
    )
    cells = (V @ C.T).argmax(axis=1)
    U = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    dropped: set[int] = set()
    for cell in range(16):
        idx = [i for i in range(len(ids)) if cells[i] == cell]
        for ai in range(len(idx)):
            for bi in range(ai + 1, len(idx)):
                a, b = idx[ai], idx[bi]
                if float(U[a] @ U[b]) >= _SEMDEDUP_TAU:
                    dropped.add(ids[b])
    exp = {}
    for i, d in enumerate(ids):
        c = int(cells[i])
        n, k = exp.get(c, (0, 0))
        exp[c] = (n + 1, k + (1 if d in dropped else 0))

    got = {
        r["cell"]: (r["n_vectors"], r["n_dropped"], r["n_kept"])
        for r in dedup_semantic_clusters(spark, sf_dir).collect()
    }
    assert set(got) == set(exp)
    for c, (n, k) in exp.items():
        assert got[c] == (n, k, n - k)
    assert sum(k for _, k in exp.values()) > 0, "tau must actually drop something"


def test_token_budget_plan_matches_python_recompute(spark, sf_dir):
    # replay the planner arithmetic in pure python ints; every column
    # must agree, and the plan must conserve the budget: sum of
    # targets <= budget with per-source shortfall < w_sum.
    import re

    from xero_api_etl_utilities_spark.plans.curation_ops import _BUDGET_X, sample_token_budget_plan

    raw = _rows(sf_dir, "SELECT source, text FROM documents")
    inv: dict[str, list[int]] = {}
    for src, text in raw:
        toks = len(text.strip().split(" "))
        n, t = inv.get(src, (0, 0))
        inv[src] = (n + 1, t + toks)
    w = {s: int(re.search(r"(\d+)", s).group(1)) % 4 + 1 for s in inv}
    w_sum = sum(w.values())
    budget = sum(t for _, t in inv.values()) * _BUDGET_X

    rows = sample_token_budget_plan(spark, sf_dir).collect()
    assert {r["source"] for r in rows} == set(inv)
    for r in rows:
        n, avail = inv[r["source"]]
        target = budget * w[r["source"]] // w_sum
        assert (r["n_docs"], r["avail_tokens"], r["weight"]) == (
            n, avail, w[r["source"]],
        )
        assert r["target_tokens"] == target
        assert r["full_epochs"] == target // avail
        assert r["partial_ppm"] == (target % avail) * 1_000_000 // avail
        assert 0 <= r["partial_ppm"] < 1_000_000
    assert sum(r["target_tokens"] for r in rows) <= budget


def test_ks_drift_matches_python_recompute(spark, sf_dir):
    # exact two-sample KS over n_chars: recompute every CDF gap in
    # python ints; the published row must be the max-gap (ties ->
    # smallest length) with digit-exact cross-multiplied values.
    import re

    from xero_api_etl_utilities_spark.plans.diagnostics_ops import diag_ks_drift

    raw = _rows(sf_dir, "SELECT source, n_chars FROM documents")
    a, b = {}, {}
    for src, v in raw:
        tgt = a if int(re.search(r"(\d+)", src).group(1)) < 10 else b
        tgt[v] = tgt.get(v, 0) + 1
    n1, n2 = sum(a.values()), sum(b.values())
    cum1 = cum2 = 0
    best = None  # (gap, v)
    for v in sorted(set(a) | set(b)):
        cum1 += a.get(v, 0)
        cum2 += b.get(v, 0)
        gap = abs(cum1 * n2 - cum2 * n1)
        if best is None or gap > best[0]:
            best = (gap, v)

    r = diag_ks_drift(spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["argmax_len"], row["n1"], row["n2"]) == (best[1], n1, n2)
    assert row["ks_num"] == str(best[0])
    assert row["ks_den"] == str(n1 * n2)
    assert row["ks_bp"] == best[0] * 10000 // (n1 * n2)
    assert 0 < row["ks_bp"] <= 10000


def test_quality_deciles_census_is_complete_and_balanced(spark, sf_dir):
    # deciles must partition the corpus (sum of census = n_docs, each
    # decile total within the NTILE +/-1 balance), and per-source rows
    # must match a python recompute of the integer score + decile cut.
    from xero_api_etl_utilities_spark.operators.textstats import STOPWORDS_EN
    from xero_api_etl_utilities_spark.plans.diagnostics_ops import diag_quality_deciles
    import re as _re
    import string

    raw = _rows(sf_dir, "SELECT doc_id, source, text FROM documents")
    scored = []
    punct_chars = set(string.punctuation)
    for d, src, text in raw:
        toks = _re.findall(r"[a-z0-9]+", text.lower())
        ntok = max(len(toks), 1)
        nch = max(len(text), 1)
        stops = sum(1 for t in toks if t in STOPWORDS_EN)
        alpha = sum(1 for c in text if c.isascii() and c.isalpha())
        punct = sum(1 for c in text if c in punct_chars)
        score = (
            10000 * stops // ntok + 10000 * alpha // nch - 10000 * punct // nch
        )
        scored.append((score, d, src))
    scored.sort()
    n = len(scored)
    exp: dict[tuple[str, int], int] = {}
    for i, (_, d, src) in enumerate(scored):
        # NTILE(10) bucket boundaries for n rows, rank i (0-based)
        decile = 1 + min(i // (n // 10 + 1), 9) if n % 10 else 1 + i // (n // 10)
        if n % 10:
            big, small = n % 10, 10 - n % 10
            size_big = n // 10 + 1
            if i < big * size_big:
                decile = 1 + i // size_big
            else:
                decile = 1 + big + (i - big * size_big) // (n // 10)
        exp[(src, decile)] = exp.get((src, decile), 0) + 1

    got = {
        (r["source"], r["decile"]): r["n_docs"]
        for r in diag_quality_deciles(spark, sf_dir).collect()
    }
    assert sum(got.values()) == n
    assert got == exp


def test_quality_deciles_dist_is_bitwise_equal_to_exact(spark, sf_dir):
    # X109b: the distributed rank decomposition (score-band buckets +
    # broadcast prefix offsets + closed-form NTILE) must reproduce the
    # global-window census row for row — equality PROVES the
    # decomposition reconstructs the (q_score, doc_id) total order.
    from xero_api_etl_utilities_spark.plans.diagnostics_ops import (
        diag_quality_deciles,
        diag_quality_deciles_dist,
    )

    exact = [tuple(r) for r in diag_quality_deciles(spark, sf_dir).collect()]
    dist = [
        tuple(r) for r in diag_quality_deciles_dist(spark, sf_dir).collect()
    ]
    assert dist == exact and len(exact) > 0


def test_dup_span_coverage_matches_python_union(spark, sf_dir):
    # recompute per-source duplicated-span token coverage in pure
    # python with a set-of-positions union (no interval algebra at all)
    # — if the window's running-max union miscounts an overlap, the two
    # disagree.
    from collections import defaultdict

    from xero_api_etl_utilities_spark.plans.text_ops import text_dup_span_coverage

    k = 6
    raw = _rows(sf_dir, "SELECT doc_id, source, text FROM documents")
    span_docs = defaultdict(set)
    doc_spans = {}
    for doc_id, source, text in raw:
        w = text.split(" ")
        spans = [
            " ".join(w[i : i + k]) for i in range(len(w) - k + 1)
        ]
        doc_spans[doc_id] = (source, len(w), spans)
        for s in spans:
            span_docs[s].add(doc_id)
    dup = {s for s, d in span_docs.items() if len(d) >= 2}
    per_src = defaultdict(lambda: [0, 0, 0, 0])  # docs, dupdocs, tok, cov
    for doc_id, (source, n_w, spans) in doc_spans.items():
        acc = per_src[source]
        acc[0] += 1
        acc[2] += n_w
        covered = set()
        for i, s in enumerate(spans):
            if s in dup:
                covered.update(range(i, i + k))
        if covered:
            acc[1] += 1
            acc[3] += len(covered)
    got = {
        r["source"]: (
            r["n_docs"],
            r["dup_docs"],
            r["total_tokens"],
            r["covered_tokens"],
            r["covered_bp"],
        )
        for r in text_dup_span_coverage(spark, sf_dir).collect()
    }
    want = {
        src: (d, dd, t, c, c * 10000 // t)
        for src, (d, dd, t, c) in per_src.items()
    }
    assert got == want
    # the synthetic corpus plants near-dups: the census must not be
    # all-zero at any shipped sf
    assert sum(v[3] for v in got.values()) > 0


def test_corpus_mix_census_matches_python(spark, sf_dir):
    # X115: python recompute of the (lang, source) inventory and ppm
    # shares; cells must sum to the corpus and shares must floor-div.
    from collections import defaultdict

    from xero_api_etl_utilities_spark.plans.curation_ops import corpus_mix_census

    rows = _rows(sf_dir, "SELECT lang, source, text FROM documents")
    cells = defaultdict(lambda: [0, 0])
    for lang, source, text in rows:
        c = cells[(lang, source)]
        c[0] += 1
        c[1] += len(text.split(" "))
    tot = sum(v[1] for v in cells.values())
    got = {
        (r["lang"], r["source"]): (r["n_docs"], r["n_tokens"], r["share_ppm"])
        for r in corpus_mix_census(spark, sf_dir).collect()
    }
    want = {
        k: (d, t, t * 1000000 // tot) for k, (d, t) in cells.items()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == len(rows)


def test_label_purity_matches_python_knn(spark, sf_dir):
    # X116: recompute the 10-NN label agreement with plain python
    # cosine over the probe set; purity must floor-div in bp.
    import math
    from collections import defaultdict

    from xero_api_etl_utilities_spark.plans.retrieval_ops import similarity_label_purity

    rows = _rows(sf_dir, "SELECT vec_id, embedding, label FROM embeddings")
    vecs = {r[0]: r[1] for r in rows}
    labels = {r[0]: r[2] for r in rows}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(y * y for y in b)
        )
        return num / den if den else 0.0

    per_label = defaultdict(lambda: [set(), 0, 0])  # queries, match, n
    for q in sorted(vecs):
        if q >= 80:
            continue
        scored = sorted(
            ((cos(vecs[q], vecs[c]), -c) for c in vecs if c != q),
            reverse=True,
        )[:10]
        cell = per_label[labels[q]]
        cell[0].add(q)
        for s, negc in scored:
            cell[2] += 1
            if labels[-negc] == labels[q]:
                cell[1] += 1
    want = {
        lab: (len(qs), match * 10000 // n)
        for lab, (qs, match, n) in per_label.items()
    }
    got = {
        r["label"]: (r["n_queries"], r["knn_match_bp"])
        for r in similarity_label_purity(spark, sf_dir).collect()
    }
    assert got == want


def test_head_coverage_matches_python(spark, sf_dir):
    # X117: the top-8 head set must tie-break (count desc, token asc)
    # and per-source shares must floor-div against that exact set.
    from collections import Counter, defaultdict

    from xero_api_etl_utilities_spark.plans.text_ops import text_head_coverage

    rows = _rows(sf_dir, "SELECT source, text FROM documents")
    global_c = Counter()
    per_src = defaultdict(Counter)
    for source, text in rows:
        toks = [t for t in text.split(" ") if t]
        global_c.update(toks)
        per_src[source].update(toks)
    head = {
        t for t, _ in sorted(global_c.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    }
    want = {}
    for source, c in per_src.items():
        n = sum(c.values())
        h = sum(v for t, v in c.items() if t in head)
        want[source] = (n, h, h * 10000 // n)
    got = {
        r["source"]: (r["n_tokens"], r["head_tokens"], r["head_bp"])
        for r in text_head_coverage(spark, sf_dir).collect()
    }
    assert got == want


def test_pack_waste_matches_python(spark, sf_dir):
    # X118: ceil arithmetic and both bp shares recomputed directly;
    # the packing lower bound can never exceed the naive chunk count.
    from collections import defaultdict

    from xero_api_etl_utilities_spark.plans.curation_ops import sample_pack_waste

    L = 128
    rows = _rows(sf_dir, "SELECT source, text FROM documents")
    acc = defaultdict(lambda: [0, 0, 0])  # docs, tokens, naive
    for source, text in rows:
        nt = len(text.split(" "))
        a = acc[source]
        a[0] += 1
        a[1] += nt
        a[2] += (nt + L - 1) // L
    want = {}
    for source, (d, t, naive) in acc.items():
        lb = (t + L - 1) // L
        want[source] = (
            d,
            t,
            naive,
            lb,
            (naive * L - t) * 10000 // (naive * L),
            (naive - lb) * 10000 // naive,
        )
    got = {
        r["source"]: (
            r["n_docs"],
            r["n_tokens"],
            r["naive_chunks"],
            r["packed_chunks_lb"],
            r["pad_waste_bp"],
            r["packing_savings_bp"],
        )
        for r in sample_pack_waste(spark, sf_dir).collect()
    }
    assert got == want
    assert all(r["packed_chunks_lb"] <= r["naive_chunks"] for r in
               sample_pack_waste(spark, sf_dir).collect())
