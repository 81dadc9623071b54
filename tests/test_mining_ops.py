"""Unit pins for the mining/layout wave (X77–X79): OLS slope edge
cases, Apriori candidate-prune soundness, consistent-hash ring
invariants."""

from __future__ import annotations

from xero_api_etl_utilities_spark.functions.crosshash import py_h32
from xero_api_etl_utilities_spark.plans.mining_ops import (
    _N_NEW,
    _N_OLD,
    _SNM_MAXDIST,
    _SNM_WINDOW,
    _VNODES,
    _ring,
    basket_brand_triples,
    dedup_prefix_filter_pairs,
    events_daily_trend,
    fuzzy_sorted_neighborhood,
    layout_shard_moves,
)


def test_trend_sign_matches_handfit_series(spark, sf_dir):
    # exact rational slope: den > 0 always (x values distinct days),
    # and num/den must equal the numpy-fit slope to float precision.
    rows = events_daily_trend(spark, sf_dir).collect()
    assert rows, "trend must produce one row per event type"
    for r in rows:
        assert r["slope_den"] > 0
        assert r["trend_sign"] == (
            0 if r["slope_num"] == 0 else (1 if r["slope_num"] > 0 else -1)
        )


def test_trend_shift_invariance_property():
    # the published rational is invariant under shifting x — the reason
    # raw epoch-days need no min-day normalization pass.
    xs = [19700, 19701, 19703, 19707]
    ys = [5, 9, 4, 11]

    def nd(xs):
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        return n * sxy - sx * sy, n * sxx - sx * sx

    assert nd(xs) == nd([x - 19700 for x in xs])


def test_apriori_prune_is_lossless(spark, sf_dir):
    # every triple the pruned plan reports must satisfy minsup, and
    # the UNPRUNED count (direct 3-way join) must agree exactly —
    # Apriori's downward-closure guarantee, checked on real data.
    got = {
        (r["b1"], r["b2"], r["b3"]): r["support"]
        for r in basket_brand_triples(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    minsup = max(5, n_orders // 200)
    basket = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .collect()
    )
    from collections import defaultdict
    from itertools import combinations

    per_order = defaultdict(set)
    for r in basket:
        per_order[r["l_orderkey"]].add(r["p_brand"])
    naive = defaultdict(int)
    for brands in per_order.values():
        for tri in combinations(sorted(brands), 3):
            naive[tri] += 1
    expected = {t: s for t, s in naive.items() if s >= minsup}
    assert got == expected


def test_ring_is_sorted_unique_and_decodable():
    ring = _ring(_N_NEW)
    assert len(ring) == _N_NEW * _VNODES
    assert ring == sorted(ring) and len(set(ring)) == len(ring)
    shards = {e % 64 for e in ring}
    assert shards == set(range(_N_NEW))
    # encoded position survives the decode round-trip
    for s in range(_N_NEW):
        for rep in range(_VNODES):
            e = py_h32(f"vn:{s}:{rep}") * 64 + s
            assert e // 64 == py_h32(f"vn:{s}:{rep}")


def test_ring_growth_only_moves_keys_to_the_new_shard(spark, sf_dir):
    # consistent-hashing invariant: a key that moves when the ring
    # grows 32→33 can only move TO shard 32; and far fewer keys move
    # on the ring than under mod-N.
    old_ring, new_ring = _ring(_N_OLD), _ring(_N_NEW)

    def assign(ring, kp):
        cands = [e for e in ring if e >= kp * 64]
        return (min(cands) if cands else min(ring)) % 64

    custkeys = [
        r["c_custkey"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    ]
    moved = 0
    for k in custkeys:
        kp = py_h32(f"key:{k}")
        a_old, a_new = assign(old_ring, kp), assign(new_ring, kp)
        if a_old != a_new:
            moved += 1
            assert a_new == _N_OLD, "ring move must target the added shard"
    row = layout_shard_moves(spark, sf_dir).collect()[0]
    assert row["ring_moves"] == moved
    assert row["n_keys"] == len(custkeys)
    assert row["ring_moves"] < row["mod_moves"]


def test_lpa_separates_bridged_cliques(spark):
    # two 4-cliques joined by one bridge edge: connected components
    # would merge them; LPA must keep two communities (density-aware).
    from xero_api_etl_utilities_spark.operators.graph import label_propagation
    from itertools import combinations

    edges = [(a, b) for a, b in combinations([1, 2, 3, 4], 2)]
    edges += [(a, b) for a, b in combinations([11, 12, 13, 14], 2)]
    edges += [(4, 11)]  # bridge
    df = spark.createDataFrame(edges, "u1 bigint, u2 bigint")
    labels = {r["v"]: r["label"] for r in label_propagation(df).collect()}
    left = {labels[v] for v in (1, 2, 3)}
    right = {labels[v] for v in (12, 13, 14)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_lpa_min_tie_break_is_deterministic(spark):
    # a 2-path 1-2-3: vertex 2 sees labels {1,3} equally often and
    # must adopt the SMALLER one every round on every run.
    from xero_api_etl_utilities_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2), (2, 3)], "u1 bigint, u2 bigint")
    for _ in range(2):
        labels = {
            r["v"]: r["label"] for r in label_propagation(df, iters=1).collect()
        }
        assert labels[2] == 1  # min of {1, 3}
        assert labels[1] == 2 and labels[3] == 2  # sole neighbor's label


def test_simpson_index_bounds(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import events_user_diversity

    rows = events_user_diversity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # Simpson concentration lives in [1/k, 1]; bp floors at
        # 10000/n_types (even spread) and caps at 10000.
        assert r["simpson_num"] * r["n_types"] >= r["simpson_den"]
        assert 10000 // r["n_types"] <= r["concentration_bp"] <= 10000
        # single-type users must hit exactly 10000
        if r["n_types"] == 1:
            assert r["concentration_bp"] == 10000


def test_lsh_quality_recall_floor(spark, sf_dir):
    # the production (16,4) banding claims ~0.998 recall at J>=0.7;
    # pin a 0.98 floor and the basic identities.
    from xero_api_etl_utilities_spark.plans.mining_ops import dedup_lsh_quality

    r = dedup_lsh_quality(spark, sf_dir).collect()[0]
    assert r["true_positives"] <= min(r["n_truth"], r["n_cand"])
    assert r["recall_bp"] >= 9800
    assert 0 < r["precision_bp"] <= 10000


def test_abc_classes_partition_the_parts(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import (
        part_abc_classification,
    )

    rows = {r["abc_class"]: r for r in part_abc_classification(spark, sf_dir).collect()}
    assert set(rows) == {"A", "B", "C"}
    n_parts = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    # shares honor the 80/95 cut structure: A <= 8000+one part's worth,
    # and bp shares sum to 10000 within integer-division slack
    total_bp = sum(r["share_bp"] for r in rows.values())
    assert 9997 <= total_bp <= 10000
    assert rows["A"]["share_bp"] <= 8000
    assert rows["A"]["share_bp"] + rows["B"]["share_bp"] <= 9500


def test_bfs_depths_on_path_graph(spark):
    # path 1-2-3-4-5-6 seeded at 1: depths are exactly the hop counts,
    # and the 4-hop cap truncates (6 unreached)
    from xero_api_etl_utilities_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "u1 bigint, u2 bigint"
    )
    got = {r["v"]: r["depth"] for r in bfs_depths(edges, 1).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    full = {r["v"]: r["depth"] for r in bfs_depths(edges, 3).collect()}
    assert full == {3: 0, 2: 1, 4: 1, 1: 2, 5: 2, 6: 3}


def test_rfm_segments_census_sums_to_customers(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import orders_rfm_segments

    rows = orders_rfm_segments(spark, sf_dir).collect()
    n_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        s = r["segment"]
        assert 111 <= s <= 444
        assert all(1 <= int(d) <= 4 for d in str(s))


def test_interval_coalesce_identities(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import (
        window_interval_coalesce,
    )

    rows = window_interval_coalesce(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_spans"] <= r["n_intervals"]
        assert r["longest_span_days"] <= r["covered_days"]
        # coverage can never exceed the sum of raw lengths, and a span
        # is at least as long as one interval (qty >= 1 day)
        assert r["covered_days"] >= r["longest_span_days"] >= 1


def test_interval_coalesce_handfit(spark):
    # [1,4) [2,6) [6,8)  [20,25)  ->  spans [1,8) and [20,25):
    # touching at 6 merges (half-open), the gap to 20 does not.
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    iv = spark.createDataFrame(
        [(1, 1, 4), (1, 2, 6), (1, 6, 8), (1, 20, 25)], "supp int, s long, e long"
    )
    w_prev = (
        Window.partitionBy("supp").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("supp").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        iv.withColumn(
            "boundary",
            F.when(
                F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-(1 << 40))), 1
            ).otherwise(0),
        )
        .withColumn("span_id", F.sum("boundary").over(w_run))
        .groupBy("supp", "span_id")
        .agg(F.min("s").alias("ss"), F.max("e").alias("se"))
        .orderBy("ss")
        .collect()
    )
    assert [(r["ss"], r["se"]) for r in spans] == [(1, 8), (20, 25)]


def test_clamped_balance_pins_handfit_ledger(spark):
    # flows +5, -9, +3, -1 (cents 500/-900/300/-100): balances
    # 500 -> 0 (clamp) -> 300 -> 200; one clamp hit. Window running
    # sums CANNOT produce this (they'd give -100 at the end).
    from xero_api_etl_utilities_spark.plans.mining_ops import _CLAMP_ENC

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=i), i, t, v)
        for i, (t, v) in enumerate(
            [("purchase", 5.0), ("view", 9.0), ("signup", 3.0), ("click", 1.0)]
        )
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, event_type string, value double"
    )
    df.createOrReplaceTempView("_ledger_fixture")
    from pyspark.sql import functions as F
    from xero_api_etl_utilities_spark.plans import mining_ops as mo

    signed = F.when(
        F.col("event_type").isin("purchase", "signup"),
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(-F.round(F.col("value") * 100).cast("long"))
    enc = _CLAMP_ENC
    fold = F.expr(
        f"""aggregate(
  transform(sort_array(collect_list(struct(ts, event_id, c))), s -> s.c),
  cast(0 as bigint),
  (a, x) -> greatest(a % {enc} + x, cast(0 as bigint))
            + (a div {enc}
               + (case when a % {enc} + x < 0 then 1 else 0 end)) * {enc})"""
    )
    got = (
        df.select("user_id", "ts", "event_id", signed.alias("c"))
        .groupBy("user_id")
        .agg(fold.alias("acc"))
        .collect()[0]["acc"]
    )
    assert got % enc == 200
    assert got // enc == 1


def test_bounce_rate_bounds(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import events_bounce_rate

    rows = events_bounce_rate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_bounces"] <= r["n_sessions"]
        assert r["bounce_bp"] == 10000 * r["n_bounces"] // r["n_sessions"]


def test_mad_outliers_are_robust_minority(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import agg_mad_outliers

    rows = agg_mad_outliers(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # MAD has 50% breakdown: by construction at most half the
        # population can sit beyond 3*1.4826*MAD of the median
        # (strictly fewer whenever MAD > 0)
        assert 0 <= r["n_outliers"] <= r["n"] // 2
        assert r["mad_cents"] >= 0
        assert r["outlier_bp"] == 10000 * r["n_outliers"] // r["n"]


def test_decayed_scores_are_shift_exact(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import (
        events_decayed_type_scores,
    )

    rows = events_decayed_type_scores(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # every weight is a power of two <= 2^20, so the total is
        # bounded by n * 2^20 and positive for any type with recent
        # activity
        assert 0 <= r["decayed_score"] <= r["n_events"] * (1 << 20)
    assert any(r["decayed_score"] > 0 for r in rows)


def test_rules_metrics_satisfy_identities(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import basket_brand_rules

    rows = basket_brand_rules(spark, sf_dir).collect()
    assert rows
    by_pair = {(r["antecedent"], r["consequent"]): r for r in rows}
    for (a, b), r in by_pair.items():
        # confidence >= support (sup_a <= N); symmetric pair exists
        # with identical sup_ab and lift (lift is symmetric)
        assert r["confidence_bp"] >= r["support_bp"]
        mirror = by_pair.get((b, a))
        if mirror is not None:
            assert mirror["sup_ab"] == r["sup_ab"]
            assert mirror["lift_bp"] == r["lift_bp"]


def test_zonemap_prune_story(spark, sf_dir):
    from xero_api_etl_utilities_spark.plans.mining_ops import layout_zonemap_prune

    rows = {r["layout"]: r for r in layout_zonemap_prune(spark, sf_dir).collect()}
    arr, dat = rows["arrival_order"], rows["date_clustered"]
    # same fact rows under both chunkings
    assert arr["rows_total"] == dat["rows_total"]
    # arrival-order files span years -> zone maps prune (almost)
    # nothing; date-clustered files prune to ~the predicate weeks
    assert arr["scan_bp"] > dat["scan_bp"]
    assert dat["chunks_scanned"] <= 14  # 13 predicate weeks (+1 edge)


def _py_bpe(word_counts, rounds):
    # straight-line reference implementation (list-walk greedy)
    from collections import Counter

    seqs = {w: list(w) for w in word_counts}
    out = []
    for r in range(1, rounds + 1):
        pc = Counter()
        for w, c in word_counts.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (l, rr), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((r, l, rr, cnt))
        for w, s in seqs.items():
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == rr:
                    ns.append(l + rr)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            seqs[w] = ns
    return out


def test_bpe_greedy_overlap_and_remerge(spark):
    # 'aaaa'×10 forces the overlap rule (non-overlapping greedy: two
    # (a,a) merges per word, then (aa,aa) next round); 'banana' pins
    # interior merges; the corpus is crafted so round 2's winner is a
    # SYMBOL FROM ROUND 1 (re-merge of 'aa').
    from xero_api_etl_utilities_spark.operators.bpe import bpe_merges

    texts = ["aaaa " * 10 + "banana banana bansana"]
    docs = spark.createDataFrame([(1, texts[0])], "doc_id bigint, text string")
    wc = {"aaaa": 10, "banana": 2, "bansana": 1}
    expected = _py_bpe(wc, 3)
    got = bpe_merges(docs, rounds=3)
    assert got == expected
    # round 1: (a,a) — the COUNT is positional (3 per 'aaaa'), while
    # the MERGE is non-overlapping (each 'aaaa' becomes [aa, aa])
    assert got[0] == (1, "a", "a", 30)


def test_bpe_tie_breaks_lexicographic(spark):
    from xero_api_etl_utilities_spark.operators.bpe import bpe_merges

    # 'zy' and 'ab' both appear exactly 3 times: (a,b) must win
    docs = spark.createDataFrame(
        [(1, "ab ab ab zy zy zy")], "doc_id bigint, text string"
    )
    got = bpe_merges(docs, rounds=1)
    assert got == [(1, "a", "b", 3)]


def test_bpe_rejects_non_alnum_symbols(spark):
    from xero_api_etl_utilities_spark.operators.bpe import _apply_merge, word_symbol_frame
    import pytest as _pt

    docs = spark.createDataFrame([(1, "ab")], "doc_id bigint, text string")
    frame = word_symbol_frame(docs)
    with _pt.raises(ValueError):
        _apply_merge(frame, "a'; drop", "b")


def _bigram_sets(texts):
    import re

    out = {}
    for i, t in texts:
        toks = re.findall(r"[a-z0-9]+", t.lower())
        out[i] = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
    return out


def test_prefix_filter_equals_quadratic_truth(spark, sf_dir):
    # the whole point of prefix filtering: EXACT result, not approx.
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter_size"], r["union_size"])
        for r in dedup_prefix_filter_pairs(spark, sf_dir).collect()
    }
    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    sets = _bigram_sets(docs)
    ids = sorted(sets)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter * 5 >= union * 2:
                expected[(a, b)] = (inter, union)
    assert got == expected


def test_prefix_theorem_property():
    # pigeonhole: J >= t pairs always share a prefix token under ANY
    # global order; exercised over crafted near-miss set pairs.
    t_num, t_den = 2, 5
    import itertools

    universe = [f"w{i}" for i in range(12)]
    order = {w: i for i, w in enumerate(universe)}  # arbitrary total order
    for k in range(4, 9):
        x = set(universe[:k])
        for drop in range(0, k):
            y = set(universe[drop : drop + k])
            inter, union = len(x & y), len(x | y)
            if inter * t_den >= union * t_num:
                import math

                def prefix(s):
                    sz = len(s)
                    plen = sz - math.ceil(t_num * sz / t_den) + 1
                    return set(sorted(s, key=order.get)[:plen])

                assert prefix(x) & prefix(y), (x, y)


def test_snm_recall_grows_with_window(spark, sf_dir):
    # SNM output must be a SUBSET of quadratic truth, and the default
    # window must catch a nonzero share of it (the measured 36%).
    got = {
        (r["name_a"], r["name_b"])
        for r in fuzzy_sorted_neighborhood(spark, sf_dir).collect()
    }
    names = sorted(
        r["p_name"]
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_name")
        .distinct()
        .collect()
    )

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    truth = {
        (a, b)
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if 1 <= lev(a, b) <= _SNM_MAXDIST
    }
    windowed = {
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, min(i + 1 + _SNM_WINDOW, len(names)))
        if 1 <= lev(names[i], names[j]) <= _SNM_MAXDIST
    }
    assert got == windowed  # algorithmic agreement with the Spark plan
    assert got <= truth and got  # sound and non-empty
    # widening the window can only add pairs (monotone recall)
    wider = {
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, min(i + 2 + _SNM_WINDOW, len(names)))
        if 1 <= lev(names[i], names[j]) <= _SNM_MAXDIST
    }
    assert windowed <= wider
