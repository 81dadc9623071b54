"""Pytest pins for the round-7 wave (X119–X126).

Each test recomputes the operator's answer in plain python (or
numpy) from the raw parquet — an engine-independent third opinion
beside the DuckDB oracle the driver runs.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import duckdb


def _rows(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).fetchall()


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_feature_pit_scd2_rollup_matches_python(spark, sf_dir):
    # X119: replay SCD2 + PIT + rollup with plain dicts: v2 exists for
    # keys % 7 == 0; probes as-of 1 (even keys) see v1 always, as-of 2
    # (odd keys) see v2 iff it exists.
    from decimal import Decimal, ROUND_HALF_UP

    from xero_api_etl_utilities_spark.plans.cdc_ops import feature_pit_scd2

    raw = _rows(sf_dir, "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders")
    exp: dict[tuple[str, int], list[int]] = defaultdict(lambda: [0, 0])
    for k, prio, price in raw:
        as_of = 1 if k % 2 == 0 else 2
        at_time = (
            "0-REPRIORITIZED" if (as_of == 2 and k % 7 == 0) else prio
        )
        cents = int(
            (Decimal(str(price)).quantize(Decimal("0.01"), ROUND_HALF_UP))
            * 100
        )
        cell = exp[(at_time, as_of)]
        cell[0] += 1
        cell[1] += cents
    got = {
        (r["prio_at_time"], r["as_of_v"]): [r["n_orders"], r["revenue_cents"]]
        for r in feature_pit_scd2(spark, sf_dir).collect()
    }
    assert got == dict(exp)


def test_unigram_logprob_census_matches_python(spark, sf_dir):
    # X120: ilog2 surprisal = (N // cnt).bit_length() - 1, doc score in
    # integer milli-bits, per-source census.
    from xero_api_etl_utilities_spark.plans.text_ops import text_unigram_logprob
    import re as _re

    raw = _rows(sf_dir, "SELECT doc_id, source, text FROM documents")
    tfs = {
        (d, src): Counter(_re.findall(r"[a-z0-9]+", text.lower()))
        for d, src, text in raw
    }
    vocab = Counter()
    for c in tfs.values():
        vocab.update(c)
    N = sum(vocab.values())
    per_src: dict[str, list[int]] = defaultdict(list)
    for (d, src), c in tfs.items():
        if not c:
            continue
        num = sum(tf * ((N // vocab[t]).bit_length() - 1) for t, tf in c.items())
        per_src[src].append(num * 1000 // sum(c.values()))
    exp = {
        src: (
            len(v),
            sum(v) // len(v),
            min(v),
            max(v),
        )
        for src, v in per_src.items()
    }
    got = {
        r["source"]: (r["n_docs"], r["mean_mb"], r["min_mb"], r["max_mb"])
        for r in text_unigram_logprob(spark, sf_dir).collect()
    }
    assert got == exp


def test_winnow_fingerprints_match_python(spark, sf_dir):
    # X121: python winnowing with the packed (hash, pos) key; census
    # per source must match exactly.
    from xero_api_etl_utilities_spark.plans.text_ops import (
        _WINNOW_K,
        _WINNOW_W,
        text_winnow_fingerprints,
    )

    k, w = _WINNOW_K, _WINNOW_W
    raw = _rows(sf_dir, "SELECT doc_id, source, text FROM documents")
    grams: Counter = Counter()
    fps: dict[str, int] = defaultdict(int)
    for d, src, text in raw:
        wds = text.split(" ")
        keys = [
            _h32(" ".join(wds[i : i + k])) * 1_048_576 + i + 1
            for i in range(len(wds) - k + 1)
        ]
        grams[src] += len(keys)
        if not keys:
            continue
        last_s = max(len(keys) - w + 1, 1)
        sel = {min(keys[s : s + w]) for s in range(last_s)}
        fps[src] += len(sel)
    exp = {
        src: (grams[src], fps[src], fps[src] * 10000 // grams[src])
        for src in grams
    }
    got = {
        r["source"]: (r["n_kgrams"], r["n_fingerprints"], r["density_bp"])
        for r in text_winnow_fingerprints(spark, sf_dir).collect()
    }
    assert got == exp


def test_winnow_density_is_near_two_over_w_plus_one(spark, sf_dir):
    # the paper's expected density for random hashes is 2/(w+1); this
    # corpus should land in a loose band around it (sanity, not pin)
    from xero_api_etl_utilities_spark.plans.text_ops import _WINNOW_W, text_winnow_fingerprints

    rows = text_winnow_fingerprints(spark, sf_dir).collect()
    expected_bp = 2 * 10000 // (_WINNOW_W + 1)
    for r in rows:
        assert 0 < r["density_bp"] <= 10000
        assert abs(r["density_bp"] - expected_bp) < 2500


def test_self_similarity_invariants_and_symmetric_coverage(spark, sf_dir):
    # X122: bucket-set Jaccard invariants — shared <= min(a, b), bp in
    # range, pairs unique and ordered; per-source bucket counts match
    # an independent DuckDB-free lower bound (>= 1 per non-empty src).
    from xero_api_etl_utilities_spark.plans.curation_ops import corpus_self_similarity

    rows = corpus_self_similarity(spark, sf_dir).collect()
    assert rows, "sources sharing filler vocabulary must collide somewhere"
    seen = set()
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert (r["src_a"], r["src_b"]) not in seen
        seen.add((r["src_a"], r["src_b"]))
        assert 0 < r["n_shared"] <= min(r["n_a"], r["n_b"])
        denom = r["n_a"] + r["n_b"] - r["n_shared"]
        assert r["jaccard_bp"] == r["n_shared"] * 10000 // denom


def test_split_balance_report_matches_python(spark, sf_dir):
    # X123: replay the md5 split + shares in python.
    from xero_api_etl_utilities_spark.plans.curation_ops import split_balance_report

    raw = _rows(sf_dir, "SELECT doc_id, lang FROM documents")
    cell: Counter = Counter()
    for d, lang in raw:
        sb = _h32(f"split|{d}") % 100
        split = "train" if sb < 80 else ("val" if sb < 90 else "test")
        cell[(split, lang)] += 1
    st: Counter = Counter()
    lt: Counter = Counter()
    for (s, l), n in cell.items():
        st[s] += n
        lt[l] += n
    ct = sum(cell.values())
    exp = {}
    for (s, l), n in cell.items():
        ssb = n * 10000 // st[s]
        csb = lt[l] * 10000 // ct
        exp[(s, l)] = (n, ssb, csb, abs(ssb - csb))
    got = {
        (r["split"], r["lang"]): (
            r["n_docs"],
            r["split_share_bp"],
            r["corpus_share_bp"],
            r["dev_bp"],
        )
        for r in split_balance_report(spark, sf_dir).collect()
    }
    assert got == exp


def test_zipf_slope_matches_python_and_is_negative(spark, sf_dir):
    # X124: exact integer OLS recompute; slope must be negative
    # (frequency falls with rank) and den positive.
    from xero_api_etl_utilities_spark.plans.text_ops import text_zipf_slope
    import re as _re

    raw = _rows(sf_dir, "SELECT text FROM documents")
    vocab: Counter = Counter()
    for (text,) in raw:
        vocab.update(_re.findall(r"[a-z0-9]+", text.lower()))
    ordered = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [(i + 1).bit_length() - 1 for i in range(len(ordered))]
    ys = [c.bit_length() - 1 for _, c in ordered]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    row = text_zipf_slope(spark, sf_dir).collect()[0]
    assert (row["n_terms"], row["slope_num"], row["slope_den"]) == (
        n,
        n * sxy - sx * sy,
        n * sxx - sx * sx,
    )
    assert row["slope_num"] < 0 < row["slope_den"]


def test_centroid_sim_matches_numpy_with_margin(spark, sf_dir):
    # X125: numpy recompute of centroid cosines; the emitted pair set
    # must match the threshold cut AND every cosine must sit at least
    # 1e-4 away from the threshold (the engine-stability precondition).
    import numpy as np

    from xero_api_etl_utilities_spark.plans.retrieval_ops import (
        _CENTROID_COS_T,
        embedding_label_centroid_sim,
    )

    raw = _rows(sf_dir, "SELECT label, embedding FROM embeddings")
    by_label: dict[int, list] = defaultdict(list)
    for label, emb in raw:
        by_label[label].append(np.array(emb, dtype=np.float64))
    cents = {l: np.mean(np.stack(v), axis=0) for l, v in by_label.items()}
    labels = sorted(cents)
    exp = set()
    for i, la in enumerate(labels):
        for lb in labels[i + 1 :]:
            ca, cb = cents[la], cents[lb]
            cos = float(
                ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb))
            )
            assert abs(cos - _CENTROID_COS_T) > 1e-4, (la, lb, cos)
            if cos >= _CENTROID_COS_T:
                exp.add((la, lb))
    got = {
        (r["label_a"], r["label_b"])
        for r in embedding_label_centroid_sim(spark, sf_dir).collect()
    }
    assert got == exp


def test_curriculum_phases_partition_corpus(spark, sf_dir):
    # X126: phases must partition the docs; cumulative tokens per
    # source must be monotone and end at the source's token total.
    from xero_api_etl_utilities_spark.plans.curation_ops import sample_curriculum_order

    raw = _rows(
        sf_dir,
        "SELECT source, count(*), sum(len(string_split(trim(text), ' ')))"
        " FROM documents GROUP BY source",
    )
    totals = {src: (n, int(tok)) for src, n, tok in raw}
    rows = sample_curriculum_order(spark, sf_dir).collect()
    per_src: dict[str, list] = defaultdict(list)
    for r in rows:
        per_src[r["source"]].append(r)
    assert set(per_src) == set(totals)
    for src, rs in per_src.items():
        rs.sort(key=lambda r: r["phase"])
        assert sum(r["n_docs"] for r in rs) == totals[src][0]
        assert rs[-1]["cum_tokens"] == totals[src][1]
        cums = [r["cum_tokens"] for r in rs]
        assert cums == sorted(cums)


def test_label_noise_kappa_matches_numpy(spark, sf_dir):
    # X129: recompute the kNN-majority vote + kappa rational with
    # numpy cosines (ties to smaller label, like the plan).
    import numpy as np

    from xero_api_etl_utilities_spark.plans.curation_ops import label_noise_kappa

    raw = _rows(sf_dir, "SELECT vec_id, embedding, label FROM embeddings")
    ids = [r[0] for r in raw]
    vecs = {r[0]: np.array(r[1], dtype=np.float64) for r in raw}
    labels = {r[0]: r[2] for r in raw}
    preds, truths = [], []
    for q in sorted(i for i in ids if i < 80):
        qv = vecs[q]
        qn = np.linalg.norm(qv) or 1e-12
        scored = sorted(
            (
                (-float(vecs[c] @ qv / (qn * (np.linalg.norm(vecs[c]) or 1e-12))), c)
                for c in ids
                if c != q
            ),
        )[:10]
        votes = Counter(labels[c] for _, c in scored)
        best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        preds.append(best)
        truths.append(labels[q])
    n = len(preds)
    po_n = sum(1 for p, t in zip(preds, truths) if p == t)
    rowm = Counter(truths)
    colm = Counter(preds)
    pe_num = sum(rowm[l] * colm.get(l, 0) for l in rowm)
    row = label_noise_kappa(spark, sf_dir).collect()[0]
    assert (
        row["n_probes"],
        row["n_agree"],
        row["kappa_num"],
        row["kappa_den"],
    ) == (n, po_n, n * po_n - pe_num, n * n - pe_num)


def test_tokenizer_oov_census_matches_python(spark, sf_dir):
    # X130: top-V vocab by (cnt desc, tok asc); per-source OOV mass.
    import re as _re

    from xero_api_etl_utilities_spark.plans.text_ops import _OOV_VOCAB_SIZE, tokenizer_oov_census

    raw = _rows(sf_dir, "SELECT source, text FROM documents")
    occ: dict[str, Counter] = defaultdict(Counter)
    vocab_all: Counter = Counter()
    for src, text in raw:
        toks = _re.findall(r"[a-z0-9]+", text.lower())
        occ[src].update(toks)
        vocab_all.update(toks)
    top = {
        t
        for t, _ in sorted(vocab_all.items(), key=lambda kv: (-kv[1], kv[0]))[
            :_OOV_VOCAB_SIZE
        ]
    }
    exp = {}
    for src, c in occ.items():
        tot = sum(c.values())
        oov = sum(v for t, v in c.items() if t not in top)
        types = sum(1 for t in c if t not in top)
        exp[src] = (tot, oov, oov * 10000 // tot, types)
    got = {
        r["source"]: (
            r["n_occurrences"],
            r["n_oov"],
            r["oov_bp"],
            r["n_oov_types"],
        )
        for r in tokenizer_oov_census(spark, sf_dir).collect()
    }
    assert got == exp


def test_char_entropy_census_matches_python(spark, sf_dir):
    # X131: per-doc ilog2 entropy in milli-bits, per-source census.
    from xero_api_etl_utilities_spark.plans.text_ops import text_char_entropy

    raw = _rows(sf_dir, "SELECT source, text FROM documents")
    per_src: dict[str, list[int]] = defaultdict(list)
    for src, text in raw:
        c = Counter(text)
        n = sum(c.values())
        if n == 0:
            continue
        h = sum(v * ((n // v).bit_length() - 1) for v in c.values())
        per_src[src].append(h * 1000 // n)
    exp = {
        src: (len(v), sum(v) // len(v), min(v), max(v))
        for src, v in per_src.items()
    }
    got = {
        r["source"]: (r["n_docs"], r["mean_mb"], r["min_mb"], r["max_mb"])
        for r in text_char_entropy(spark, sf_dir).collect()
    }
    assert got == exp


def test_rake_keywords_match_python(spark, sf_dir):
    # X133: full python RAKE recompute (segmentation, cap, deg/freq,
    # phrase scores, top-k by (score desc, phrase)).
    import re as _re

    from xero_api_etl_utilities_spark.operators.textstats import STOPWORDS_EN
    from xero_api_etl_utilities_spark.plans.text_ops import (
        _RAKE_MAX_LEN,
        _RAKE_TOP,
        text_rake_keywords,
    )

    raw = _rows(sf_dir, "SELECT doc_id, text FROM documents")
    stops = set(STOPWORDS_EN)
    phrases = []  # (phrase_tuple,)
    for d, text in raw:
        toks = _re.findall(r"[a-z0-9]+", text.lower())
        run: list[str] = []
        for t in toks + ["the"]:  # sentinel stop flushes the last run
            if t in stops:
                if run and len(run) <= _RAKE_MAX_LEN:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(t)
    deg: Counter = Counter()
    freq: Counter = Counter()
    for p in phrases:
        for w in p:
            deg[w] += len(p)
            freq[w] += 1
    wscore = {w: deg[w] * 1000 // freq[w] for w in deg}
    agg: dict[str, list[int]] = {}
    for p in phrases:
        text_p = " ".join(p)
        score = sum(wscore[w] for w in p)
        cell = agg.setdefault(text_p, [0, score])
        cell[0] += 1
        assert cell[1] == score  # same phrase text -> same score
    ranked = sorted(agg.items(), key=lambda kv: (-kv[1][1], kv[0]))[:_RAKE_TOP]
    exp = [(ph, sc, n) for ph, (n, sc) in ranked]
    got = [
        (r["phrase"], r["score"], r["n_occurrences"])
        for r in text_rake_keywords(spark, sf_dir).collect()
    ]
    assert got == exp


def test_chunk_overlap_census_matches_python(spark, sf_dir):
    # X134: closed-form chunk math vs an EXPLICIT python chunker that
    # actually materializes the chunks — proving the closed form.
    from xero_api_etl_utilities_spark.plans.curation_ops import (
        _CHUNK_S,
        _CHUNK_W,
        doc_chunk_overlap_census,
    )

    raw = _rows(sf_dir, "SELECT source, text FROM documents")
    exp: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for src, text in raw:
        toks = text.strip().split(" ")
        L = len(toks)
        chunks = []
        start = 0
        while True:
            chunks.append(toks[start : start + _CHUNK_W])
            if start + _CHUNK_W >= L:
                break
            start += _CHUNK_S
        cell = exp[src]
        cell[0] += 1
        cell[1] += L
        cell[2] += len(chunks)
        cell[3] += sum(len(c) for c in chunks)
    want = {
        src: (v[0], v[1], v[2], v[3], v[3] * 10000 // v[1])
        for src, v in exp.items()
    }
    got = {
        r["source"]: (
            r["n_docs"],
            r["n_tokens"],
            r["n_chunks"],
            r["stored_tokens"],
            r["amplification_bp"],
        )
        for r in doc_chunk_overlap_census(spark, sf_dir).collect()
    }
    assert got == want


def test_ivfpq_recall_census_consistency(spark, sf_dir):
    # census invariants + agreement with a direct set compare of
    # the two catalog shortlists it is built from.
    from xero_api_etl_utilities_spark.plans.retrieval_ops import (
        similarity_ivfpq_recall,
        similarity_topk_ivfpq_rerank,
    )
    from xero_api_etl_utilities_spark.operators import similarity as sim
    from xero_api_etl_utilities_spark.plans.catalog import queries as _q
    from xero_api_etl_utilities_spark.sources.parquet import load_table
    from pyspark.sql import functions as F

    row = similarity_ivfpq_recall(spark, sf_dir).collect()[0]
    assert row["n_truth"] == row["n_queries"] * 5
    assert 0 <= row["n_hits"] <= row["n_truth"]
    assert row["recall_bp"] == row["n_hits"] * 10000 // row["n_truth"]

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.topk_bruteforce(qs, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_topk_ivfpq_rerank(spark, sf_dir).collect()
    }
    assert row["n_hits"] == len(truth & approx)


def test_audio_vad_matches_python_decode(spark, sf_dir):
    # X135: recompute the window energies from the closed-form sample
    # rule (doc_id*37 + i*13 + c*7 mod 4001 - 2000) in python.
    from xero_api_etl_utilities_spark.plans.multimodal_ops import multimodal_audio_vad

    raw = _rows(sf_dir, "SELECT doc_id FROM documents WHERE doc_id % 10 = 0")
    exp = {}
    for (d,) in raw:
        rate = 8000 + (d % 3) * 4000
        n_ch = 1 + (d % 2)
        n_fr = 200 + (d % 5) * 50
        win = rate * 20 // 1000
        n_windows = (n_fr + win - 1) // win
        n_active = 0
        for w in range(n_windows):
            lo, hi = w * win, min((w + 1) * win, n_fr)
            e = sum(
                abs(((d * 37 + i * 13 + c * 7) % 4001) - 2000)
                for c in range(n_ch)
                for i in range(lo, hi)
            )
            if e >= 1000 * (hi - lo) * n_ch:
                n_active += 1
        exp[d] = (n_windows, n_active, n_active * 10000 // n_windows)
    got = {
        r["media_id"]: (r["n_windows"], r["n_active"], r["active_bp"])
        for r in multimodal_audio_vad(spark, sf_dir).collect()
    }
    assert got == exp


def test_range_search_matches_numpy_within_cells(spark, sf_dir):
    # the pair set must equal a numpy replay of cell assignment
    # (argmax centroid dot, ties to larger cell) + cosine radius.
    import numpy as np

    from xero_api_etl_utilities_spark.operators.ivf import train_centroids
    from xero_api_etl_utilities_spark.plans.retrieval_ops import similarity_range_search
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [np.array(c) for c in train_centroids(emb)]
    raw = _rows(sf_dir, "SELECT vec_id, embedding FROM embeddings")
    V = {r[0]: np.array(r[1], dtype=np.float64) for r in raw}

    def cells(v, nprobe):
        scores = sorted(
            ((float(v @ c), i) for i, c in enumerate(cents)), reverse=True
        )
        return [i for _, i in scores[:nprobe]]

    corpus_cell = {i: cells(v, 1)[0] for i, v in V.items()}
    exp = set()
    for q in (i for i in V if i < 20):
        probe = set(cells(V[q], 4))
        for c, v in V.items():
            if c == q or corpus_cell[c] not in probe:
                continue
            cos = float(
                V[q] @ v / ((np.linalg.norm(V[q]) or 1e-12) * (np.linalg.norm(v) or 1e-12))
            )
            if cos >= 0.30:
                exp.add((q, c))
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_range_search(spark, sf_dir).collect()
    }
    assert got == exp


def test_partition_advisor_matches_python(spark, sf_dir):
    # X137: recompute the advisory table from raw counts.
    from xero_api_etl_utilities_spark.plans.diagnostics_ops import layout_partition_advisor

    raw = _rows(
        sf_dir,
        "SELECT CAST(o_orderdate AS VARCHAR), CAST(o_orderpriority AS VARCHAR),"
        " CAST(o_orderstatus AS VARCHAR), CAST(o_custkey AS VARCHAR) FROM orders",
    )
    cols = ["o_orderdate", "o_orderpriority", "o_orderstatus", "o_custkey"]
    exp = {}
    for ci, col in enumerate(cols):
        c = Counter(r[ci] for r in raw)
        n_rows = sum(c.values())
        n_values = len(c)
        avg = n_rows // n_values
        mx = max(c.values())
        skew = mx * 100 // avg
        verdict = (
            "one_value"
            if n_values <= 1
            else "too_granular"
            if avg < 1000
            else "skewed"
            if skew > 500
            else "ok"
        )
        exp[col] = (n_values, n_rows, avg, mx, skew, verdict)
    got = {
        r["col"]: (
            r["n_values"],
            r["n_rows"],
            r["avg_rows_per_value"],
            r["max_value_rows"],
            r["skew_x100"],
            r["verdict"],
        )
        for r in layout_partition_advisor(spark, sf_dir).collect()
    }
    assert got == exp


def test_langid_confusion_cells_partition_each_language(spark, sf_dir):
    # X138: per-declared shares must sum to ~10000 bp (integer floors)
    # and cell counts must sum to the corpus.
    from xero_api_etl_utilities_spark.plans.diagnostics_ops import diag_langid_confusion

    rows = diag_langid_confusion(spark, sf_dir).collect()
    (n_docs,) = _rows(sf_dir, "SELECT count(*) FROM documents")[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    per_decl: dict[str, list] = defaultdict(list)
    for r in rows:
        per_decl[r["declared"]].append(r)
    for decl, rs in per_decl.items():
        tot = sum(r["n_docs"] for r in rs)
        bp = sum(r["share_bp"] for r in rs)
        assert 10000 - len(rs) < bp <= 10000
        for r in rs:
            assert r["share_bp"] == r["n_docs"] * 10000 // tot


def test_rfm_migration_matches_python(spark, sf_dir):
    # X139: replay the per-half monetary quartiles + full-outer
    # migration census in python (ntile over (cents, custkey)).
    import datetime

    from xero_api_etl_utilities_spark.plans.tpch_ops import _RFM_SPLIT_DATE, orders_rfm_migration

    raw = _rows(
        sf_dir,
        "SELECT o_custkey, CAST(o_orderdate AS DATE),"
        " CAST(round(o_totalprice * 100) AS BIGINT) FROM orders",
    )
    split = datetime.date.fromisoformat(_RFM_SPLIT_DATE)

    def quartiles(rows):
        cents: dict[int, int] = defaultdict(int)
        for k, _, c in rows:
            cents[k] += c
        ordered = sorted(cents.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(ordered)
        out = {}
        big, size_big = n % 4, n // 4 + 1
        for i, (k, _) in enumerate(ordered):
            if n % 4 and i < big * size_big:
                out[k] = 1 + i // size_big
            elif n % 4:
                out[k] = 1 + big + (i - big * size_big) // (n // 4)
            else:
                out[k] = 1 + i // (n // 4)
        return out

    old = quartiles([r for r in raw if r[1] <= split])
    new = quartiles([r for r in raw if r[1] > split])
    cells: Counter = Counter()
    for k in set(old) | set(new):
        cells[(old.get(k, 0), new.get(k, 0))] += 1
    got = {
        (r["m_old"], r["m_new"]): r["n_customers"]
        for r in orders_rfm_migration(spark, sf_dir).collect()
    }
    assert got == dict(cells)


def test_benford_census_matches_python(spark, sf_dir):
    # X140: first-digit counts + fixed expectation table.
    from xero_api_etl_utilities_spark.plans.diagnostics_ops import (
        _BENFORD_BP,
        diag_benford_firstdigit,
    )

    raw = _rows(
        sf_dir,
        "SELECT CAST(round(o_totalprice * 100) AS BIGINT) FROM orders",
    )
    digs = Counter(int(str(c)[0]) for (c,) in raw if c > 0)
    total = sum(digs.values())
    exp = {
        d: (
            n,
            n * 10000 // total,
            _BENFORD_BP[d],
            abs(n * 10000 // total - _BENFORD_BP[d]),
        )
        for d, n in digs.items()
    }
    got = {
        r["digit"]: (
            r["n_orders"],
            r["share_bp"],
            r["expected_bp"],
            r["dev_bp"],
        )
        for r in diag_benford_firstdigit(spark, sf_dir).collect()
    }
    assert got == exp


def test_functional_deps_match_python(spark, sf_dir):
    # X142: recompute distinct counts per candidate pair.
    from xero_api_etl_utilities_spark.plans.diagnostics_ops import (
        _FD_CANDIDATES,
        diag_functional_deps,
    )

    raw = _rows(
        sf_dir,
        "SELECT o_orderkey, o_custkey, o_orderpriority, o_orderdate,"
        " o_orderstatus FROM orders",
    )
    cols = {
        "o_orderkey": 0,
        "o_custkey": 1,
        "o_orderpriority": 2,
        "o_orderdate": 3,
        "o_orderstatus": 4,
    }
    exp = {}
    for lhs, rhs in _FD_CANDIDATES:
        nl = len({r[cols[lhs]] for r in raw})
        np_ = len({(r[cols[lhs]], r[cols[rhs]]) for r in raw})
        exp[(lhs, rhs)] = (nl, np_, np_ - nl, np_ == nl)
    got = {
        (r["lhs"], r["rhs"]): (
            r["n_lhs"],
            r["n_lhs_rhs"],
            r["delta"],
            r["holds"],
        )
        for r in diag_functional_deps(spark, sf_dir).collect()
    }
    assert got == exp
    assert got[("o_orderkey", "o_custkey")][3] is True
    assert got[("o_custkey", "o_orderpriority")][3] is False


def test_bigram_surprisal_matches_python(spark, sf_dir):
    # X143: conditional ilog2 surprisal with prefix counts.
    from xero_api_etl_utilities_spark.plans.text_ops import text_bigram_surprisal

    raw = _rows(sf_dir, "SELECT doc_id, source, text FROM documents")
    tfs: dict[tuple[int, str], Counter] = {}
    c12: Counter = Counter()
    for d, src, text in raw:
        w = text.strip().split(" ")
        bgs = Counter(
            w[i] + " " + w[i + 1] for i in range(len(w) - 1)
        )
        tfs[(d, src)] = bgs
        c12.update(bgs)
    c1: Counter = Counter()
    for b, c in c12.items():
        c1[b.split(" ")[0]] += c
    per_src: dict[str, list[int]] = defaultdict(list)
    for (d, src), bgs in tfs.items():
        if not bgs:
            continue
        num = sum(
            tf * ((c1[b.split(" ")[0]] // c12[b]).bit_length() - 1)
            for b, tf in bgs.items()
        )
        per_src[src].append(num * 1000 // sum(bgs.values()))
    exp = {
        src: (len(v), sum(v) // len(v), min(v), max(v))
        for src, v in per_src.items()
    }
    got = {
        r["source"]: (r["n_docs"], r["mean_mb"], r["min_mb"], r["max_mb"])
        for r in text_bigram_surprisal(spark, sf_dir).collect()
    }
    assert got == exp


def test_yoy_growth_matches_python(spark, sf_dir):
    # X144: month rollup + adjacent-prior-year lag in python.
    from xero_api_etl_utilities_spark.plans.tpch_ops import orders_yoy_growth

    raw = _rows(
        sf_dir,
        "SELECT year(CAST(o_orderdate AS DATE)), month(CAST(o_orderdate AS DATE)),"
        " CAST(round(o_totalprice * 100) AS BIGINT) FROM orders",
    )
    monthly: dict[tuple[int, int], int] = defaultdict(int)
    for y, m, c in raw:
        monthly[(y, m)] += c
    exp = {}
    for (y, m), rev in monthly.items():
        prev = monthly.get((y - 1, m))
        delta = None if prev is None else rev - prev
        if prev in (None, 0):
            growth = None
        else:
            # both engines truncate integer division toward zero
            q = (rev - prev) * 10000
            growth = (abs(q) // prev) * (1 if q >= 0 else -1)
        exp[(y, m)] = (rev, prev, delta, growth)
    got = {
        (r["yr"], r["mo"]): (
            r["rev_cents"],
            r["prev_cents"],
            r["delta_cents"],
            r["growth_bp"],
        )
        for r in orders_yoy_growth(spark, sf_dir).collect()
    }
    assert got == exp


def test_source_tvd_matrix_matches_python(spark, sf_dir):
    # X145: brute-force python TVD over full unigram distributions.
    import re as _re
    from fractions import Fraction

    from xero_api_etl_utilities_spark.plans.text_ops import text_source_tvd_matrix

    raw = _rows(sf_dir, "SELECT source, text FROM documents")
    dists: dict[str, Counter] = defaultdict(Counter)
    for src, text in raw:
        dists[src].update(_re.findall(r"[a-z0-9]+", text.lower()))
    srcs = sorted(dists)
    exp = {}
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            ca, cb = dists[sa], dists[sb]
            na, nb = sum(ca.values()), sum(cb.values())
            num = sum(
                abs(ca.get(t, 0) * nb - cb.get(t, 0) * na)
                for t in set(ca) | set(cb)
            )
            exp[(sa, sb)] = num * 10000 // (2 * na * nb)
    got = {
        (r["src_a"], r["src_b"]): r["tvd_bp"]
        for r in text_source_tvd_matrix(spark, sf_dir).collect()
    }
    assert got == exp
    assert all(0 <= v <= 10000 for v in got.values())
