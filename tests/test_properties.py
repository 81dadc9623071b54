"""Property-based spot checks (SURVEY.md §5 point 4): F15 due-date
arithmetic and the round-2dp decimal join-key rule, driven by
hypothesis against independent pure-python models.

Strategy note: hypothesis generates the cases, but each test runs ONE
batched Spark job over all generated rows (per-example Spark jobs
would take minutes).
"""

from __future__ import annotations

import calendar
import datetime
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.scalars import due_date, excel_serial_to_date

DATES = st.dates(min_value=datetime.date(1992, 1, 1), max_value=datetime.date(2030, 12, 31))


def model_due_date(bill: datetime.date, terms_type: str | None, days: int | None):
    """Independent model of src/helpers.ts:228-259 (evident intent)."""
    if terms_type == "DAYSAFTERBILLDATE":
        return bill + datetime.timedelta(days=days)
    if terms_type == "OFFOLLOWINGMONTH":
        y, m = (bill.year + 1, 1) if bill.month == 12 else (bill.year, bill.month + 1)
        return datetime.date(y, m, days)
    # default: last day of the following month
    y, m = (bill.year + 1, 1) if bill.month == 12 else (bill.year, bill.month + 1)
    return datetime.date(y, m, calendar.monthrange(y, m)[1])


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_due_date_property(spark, data):
    cases = data.draw(
        st.lists(
            st.tuples(
                DATES,
                st.sampled_from(["DAYSAFTERBILLDATE", "OFFOLLOWINGMONTH", None]),
                st.integers(min_value=1, max_value=28),
            ),
            min_size=200,
            max_size=200,
        )
    )
    df = spark.createDataFrame(
        [(i, b, t, d) for i, (b, t, d) in enumerate(cases)],
        "i int, bill date, terms_type string, terms_days int",
    )
    got = {
        r["i"]: r["v"]
        for r in df.select(
            "i", due_date(F.col("bill"), F.col("terms_type"), F.col("terms_days")).alias("v")
        ).collect()
    }
    for i, (b, t, d) in enumerate(cases):
        assert got[i] == model_due_date(b, t, d), (b, t, d)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_excel_serial_roundtrip_property(spark, data):
    serials = data.draw(
        st.lists(st.integers(min_value=1, max_value=80000), min_size=100, max_size=100)
    )
    epoch = datetime.date(1899, 12, 30)
    df = spark.createDataFrame([(i, s) for i, s in enumerate(serials)], "i int, s int")
    got = {
        r["i"]: r["v"]
        for r in df.select("i", excel_serial_to_date(F.col("s")).alias("v")).collect()
    }
    for i, s in enumerate(serials):
        assert got[i] == epoch + datetime.timedelta(days=s)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_round2_join_key_property(spark, data):
    """The J1 probe-side rule: round(x, 2) as a decimal join key must
    equal python's Decimal HALF_UP quantization of the same double —
    the invariant that keeps Spark, DuckDB and the reference's
    toFixed(2) agreeing on match/no-match decisions."""
    vals = data.draw(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            min_size=200,
            max_size=200,
        )
    )
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v double")
    got = {
        r["i"]: r["k"]
        for r in df.select(
            "i", F.round(F.col("v").cast("decimal(18,6)"), 2).alias("k")
        ).collect()
    }
    for i, v in enumerate(vals):
        expected = (
            Decimal(repr(v))
            .quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        )
        assert got[i] == expected, v


@settings(max_examples=1, deadline=None)
@given(
    st.lists(
        st.lists(
            st.decimals(
                min_value=-99999, max_value=99999, places=2, allow_nan=False
            ),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_exact_median_matches_statistics_property(spark, groups):
    """exact_percentiles median == python statistics.median (type-7
    interpolation at p=0.5 IS the textbook median) for arbitrary
    decimal groups — one Spark job over all hypothesis-generated
    groups."""
    import statistics

    from xero_api_etl_utilities_spark.operators.percentiles import exact_percentiles

    rows = [
        (gi, float(v)) for gi, vals in enumerate(groups) for v in vals
    ]
    df = spark.createDataFrame(rows, "g int, v double")
    got = {
        r["g"]: r["median"]
        for r in exact_percentiles(df, "v", ["g"], [("median", 1, 2)]).collect()
    }
    for gi, vals in enumerate(groups):
        want = float(statistics.median([float(v) for v in vals]))
        assert abs(got[gi] - want) < 1e-9, (gi, got[gi], want)


TEXTS = st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("L", "N", "P", "Z"), include_characters="@.+- ()"
    ),
    max_size=80,
)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_mask_pii_idempotent_property(spark, data):
    """mask(mask(x)) == mask(x): replacement tokens never re-trigger
    any pattern, for arbitrary unicode text. One batched job."""
    from xero_api_etl_utilities_spark.operators.textnorm import mask_pii

    texts = data.draw(st.lists(TEXTS, min_size=100, max_size=100))
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    out = df.select(
        "id",
        mask_pii(F.col("text")).alias("once"),
        mask_pii(mask_pii(F.col("text"))).alias("twice"),
    )
    bad = out.filter(F.col("once") != F.col("twice")).collect()
    assert bad == []


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_pack_fixed_budget_property(spark, data):
    """Packing invariants for arbitrary token counts: pack ids are
    non-decreasing in id order per shard, every pack's PREV-total
    stays under budget + the straddling doc, and prev_tokens is the
    exact running sum."""
    from xero_api_etl_utilities_spark.operators.packing import pack_fixed_budget

    budget = 500
    rows = data.draw(
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, budget - 1)),
            min_size=150,
            max_size=150,
        )
    )
    df = spark.createDataFrame(
        [(i, s, n) for i, (s, n) in enumerate(rows)], ["doc_id", "shard", "n_tokens"]
    )
    got = sorted(
        map(
            tuple,
            pack_fixed_budget(df, "doc_id", "n_tokens", budget, "shard").collect(),
        )
    )
    per_shard: dict[int, list[tuple]] = {}
    for doc_id, shard, n_tokens, prev, pack in got:
        per_shard.setdefault(shard, []).append((doc_id, n_tokens, prev, pack))
    for shard, docs in per_shard.items():
        run, last_pack = 0, 0
        for doc_id, n_tokens, prev, pack in sorted(docs):
            assert prev == run, (shard, doc_id)
            assert pack == prev // budget
            assert pack >= last_pack
            run += n_tokens
            last_pack = pack


# ---------------------------------------------------------------- n-grams

TOKEN_TEXTS = st.text(
    alphabet=st.sampled_from("ab1 .,-\nXY"), min_size=0, max_size=60
)


def model_ngrams(text: str, n: int) -> list[str]:
    """Independent model of dedup.token_ngrams ∘ dedup.tokens."""
    import re

    toks = re.findall("[a-z0-9]+", text.lower())
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_token_ngrams_property(spark, data):
    """Pin the zip_with n-gram rewrite (round 3) against a pure-python
    model over adversarial short/empty/whitespace-heavy strings, for
    n in {1, 2, 3} — one batched Spark job per n."""
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams, tokens

    cases = data.draw(st.lists(TOKEN_TEXTS, min_size=150, max_size=150))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "id long, text string"
    )
    for n in (1, 2, 3):
        got = {
            r["id"]: list(r["ng"])
            for r in df.select(
                "id", token_ngrams(tokens(F.col("text")), n).alias("ng")
            ).collect()
        }
        for i, t in enumerate(cases):
            assert got[i] == model_ngrams(t, n), (n, t)


def _lev(a: str, b: str) -> int:
    """Plain DP edit distance (independent model)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_merge_latest_property(spark, data):
    """merge_latest == python dict fold: per key the max-version row
    wins; a winning tombstone removes the key."""
    from xero_api_etl_utilities_spark.operators.merge import merge_latest

    rows = data.draw(
        st.dictionaries(
            st.tuples(st.integers(0, 20), st.integers(0, 10)),  # (key, version)
            st.tuples(st.booleans(), st.integers(-100, 100)),   # (del, payload)
            min_size=1,
            max_size=150,
        )
    )
    flat = [(k, v, d, p) for (k, v), (d, p) in rows.items()]
    model: dict[int, tuple[int, bool, int]] = {}
    for k, v, d, p in flat:
        if k not in model or v > model[k][0]:
            model[k] = (v, d, p)
    expect = {k: p for k, (v, d, p) in model.items() if not d}

    df = spark.createDataFrame(flat, ["k", "v", "tomb", "p"])
    got = {r["k"]: r["p"] for r in merge_latest(df, ["k"], "v", "tomb").collect()}
    assert got == expect


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_fuzzy_pairs_property(spark, data):
    """SymSpell join == brute-force distance-1 pairs on a dense
    alphabet (recall completeness AND no false positives)."""
    from xero_api_etl_utilities_spark.operators.fuzzy import fuzzy_pairs_distance1

    names = data.draw(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=5),
            min_size=2,
            max_size=50,
            unique=True,
        )
    )
    rows = list(enumerate(names))
    expect = {
        (i, j)
        for i, a in rows
        for j, b in rows
        if i < j and _lev(a, b) <= 1
    }
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs_distance1(df, "id", "name").collect()
    }
    assert got == expect


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_cc_star_equals_label_propagation_property(spark, data):
    # Large-Star/Small-Star must agree with min-label propagation on
    # arbitrary graphs. Six random graphs ride ONE pair of Spark runs
    # by disjoint id offsets (components cannot span offsets), per the
    # batching strategy note above.
    from xero_api_etl_utilities_spark.operators.graph import (
        cc_large_star_small_star,
        connected_components,
    )

    graphs = data.draw(
        st.lists(
            st.lists(
                st.tuples(st.integers(0, 25), st.integers(0, 25)),
                min_size=1,
                max_size=40,
            ),
            min_size=6,
            max_size=6,
        )
    )
    edges = [
        (1000 * (g + 1) + u, 1000 * (g + 1) + v)
        for g, es in enumerate(graphs)
        for u, v in es
        if u != v  # self-loops excluded: edge lists here are strict pairs
    ]
    if not edges:
        return
    df = spark.createDataFrame(edges, "u1 bigint, u2 bigint")
    star = {
        (r["doc"], r["cluster_id"])
        for r in cc_large_star_small_star(df, max_iters=20).collect()
    }
    lp = {
        (r["doc"], r["cluster_id"])
        for r in connected_components(df, max_iters=200).collect()
    }
    assert star == lp


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_decomposed_rank_and_ntile_property(spark, data):
    """operators/rankdist: the band-decomposed global rank must equal
    row_number() OVER (ORDER BY score, id), and the closed-form NTILE
    must equal F.ntile, on tie-HEAVY random frames (scores drawn from
    a tiny domain so bands collapse and ties span band boundaries) at
    several tile counts including t > n."""
    from pyspark.sql import Window as W

    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed,
        ntile_closed_form,
    )

    rows = data.draw(
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 10**6)),
            min_size=1,
            max_size=400,
            unique_by=lambda t: t[1],
        )
    )
    df = spark.createDataFrame(rows, "score long, id long")
    banded = df.withColumn("bucket", F.shiftright(F.col("score"), 2))
    ranked = global_rank_decomposed(
        banded, "bucket", [F.asc("score"), F.asc("id")]
    )
    total = df.count()
    w = W.orderBy(F.asc("score"), F.asc("id"))
    expected = df.select(
        "id",
        F.row_number().over(w).alias("er"),
        *[F.ntile(t).over(w).alias(f"et{t}") for t in (1, 3, 10, 1000)],
    )
    got = ranked.select(
        "id",
        "r",
        *[
            ntile_closed_form(F.col("r"), F.lit(total), t).alias(f"gt{t}")
            for t in (1, 3, 10, 1000)
        ],
    )
    j = {r["id"]: r for r in expected.join(got, "id").collect()}
    assert len(j) == total
    for r in j.values():
        assert r["r"] == r["er"]
        for t in (1, 3, 10, 1000):
            assert r[f"gt{t}"] == r[f"et{t}"], (r["id"], t)


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_decomposed_rank_descending_bands_property(spark, data):
    """operators/rankdist with descending_bands=True (the zipf-slope
    mode: rank by count DESC with band = ilog2(count)) must equal the
    global row_number over (cnt DESC, id ASC) on random tie-heavy
    frames."""
    from pyspark.sql import Window as W

    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed,
    )

    rows = data.draw(
        st.lists(
            st.tuples(st.integers(1, 500), st.integers(0, 10**6)),
            min_size=1,
            max_size=300,
            unique_by=lambda t: t[1],
        )
    )
    df = spark.createDataFrame(rows, "cnt long, id long")
    banded = df.withColumn("bucket", (F.length(F.bin(F.col("cnt"))) - 1))
    ranked = global_rank_decomposed(
        banded,
        "bucket",
        [F.desc("cnt"), F.asc("id")],
        descending_bands=True,
    )
    w = W.orderBy(F.desc("cnt"), F.asc("id"))
    expected = df.select("id", F.row_number().over(w).alias("er"))
    j = {r["id"]: (r["r"], r["er"]) for r in ranked.join(expected, "id").collect()}
    assert len(j) == len(rows)
    for rid, (r, er) in j.items():
        assert r == er, rid


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_decomposed2_prefix_agg_property(spark, data):
    """rankdist.global_prefix_agg_decomposed2 (r9): the decomposed
    running SUM (inclusive) and running MAX (exclusive) must equal
    the global-window forms over tie-heavy random frames — including
    the NULL-prefix marker on the exclusive first row."""
    from pyspark.sql import Window as W

    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_prefix_agg_decomposed2,
    )

    rows = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, 25), st.integers(0, 100), st.integers(0, 10**6)
            ),
            min_size=1,
            max_size=300,
            unique_by=lambda t: t[2],
        )
    )
    df = spark.createDataFrame(rows, "score long, v long, id long")
    banded = df.withColumn("_band", F.shiftright(F.col("score"), 2)).withColumn(
        "_sub", F.col("score").bitwiseAND(F.lit(3))
    )
    order = [F.asc("score"), F.asc("id")]
    got_sum = global_prefix_agg_decomposed2(
        banded, "_band", "_sub", order, "v", agg="sum", out_name="p"
    )
    got_max = global_prefix_agg_decomposed2(
        banded, "_band", "_sub", order, "v",
        agg="max", out_name="p", inclusive=False,
    )
    w = W.orderBy(*order)
    exp_sum = df.select(
        "id",
        F.sum("v")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("e"),
    )
    exp_max = df.select(
        "id",
        F.max("v").over(w.rowsBetween(W.unboundedPreceding, -1)).alias("e"),
    )
    for got, exp in ((got_sum, exp_sum), (got_max, exp_max)):
        j = {r["id"]: (r["p"], r["e"]) for r in got.join(exp, "id").collect()}
        assert len(j) == len(rows)
        assert all(p == e for p, e in j.values()), [
            (i, pe) for i, pe in j.items() if pe[0] != pe[1]
        ][:5]


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_decomposed2_rank_property(spark, data):
    """operators/rankdist.global_rank_decomposed2 (two-level band/sub
    decomposition, the r9 X93/X71/X139 lowering): the rank must equal
    the global row_number over (score ASC, id ASC) — and, descending,
    over (score DESC, id ASC) — on tie-HEAVY frames where the sub key
    (id bits for tied metrics, middle score bits for spread ones)
    splits tie runs across sub boundaries."""
    from pyspark.sql import Window as W

    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
    )

    rows = data.draw(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 10**6)),
            min_size=1,
            max_size=400,
            unique_by=lambda t: t[1],
        )
    )
    df = spark.createDataFrame(rows, "score long, id long")

    # ascending: band = score (tied metric), sub = id >> 16 (~16 subs)
    banded = df.withColumn("_band", F.col("score")).withColumn(
        "_sub", F.shiftright(F.col("id"), 16)
    )
    ranked = global_rank_decomposed2(
        banded, "_band", "_sub", [F.asc("score"), F.asc("id")], rank_name="r"
    )
    w = W.orderBy(F.asc("score"), F.asc("id"))
    expected = df.select("id", F.row_number().over(w).alias("er"))
    j = {r["id"]: (r["r"], r["er"]) for r in ranked.join(expected, "id").collect()}
    assert len(j) == len(rows)
    assert all(r == er for r, er in j.values())

    # descending bands with an inverted sub (the X71 orientation):
    # band = score >> 2 descending, sub = 3 - (score & 3); ties on the
    # full score fall in one (band, sub) cell where id ASC decides
    banded_d = df.withColumn(
        "_band", F.shiftright(F.col("score"), 2)
    ).withColumn("_sub", F.lit(3) - F.col("score").bitwiseAND(F.lit(3)))
    ranked_d = global_rank_decomposed2(
        banded_d,
        "_band",
        "_sub",
        [F.desc("score"), F.asc("id")],
        rank_name="r",
        descending_bands=True,
    )
    wd = W.orderBy(F.desc("score"), F.asc("id"))
    expected_d = df.select("id", F.row_number().over(wd).alias("er"))
    jd = {
        r["id"]: (r["r"], r["er"])
        for r in ranked_d.join(expected_d, "id").collect()
    }
    assert len(jd) == len(rows)
    assert all(r == er for r, er in jd.values())


def test_rankdist_guards_fail_loudly(spark):
    """operators/rankdist guards (ADVICE r9): a NULL band/sub key must
    raise at run time (the offset equi-joins would otherwise silently
    drop the row and shift every later rank), and a caller column that
    collides with an internal temp name must raise at plan time."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
    )

    df = spark.createDataFrame(
        [(1, 0, 0), (2, None, 0), (3, 1, 1)], "id int, b int, s int"
    )
    ranked = global_rank_decomposed2(df, "b", "s", [F.asc("id")], rank_name="r")
    with pytest.raises((Py4JJavaError, PySparkException)) as ei:
        ranked.collect()
    assert "non-null band/sub precondition" in str(ei.value)

    clash = spark.createDataFrame([(1, 0, 0, 9)], "id int, b int, s int, _soff int")
    with pytest.raises(ValueError, match="collide with internal temp names"):
        global_rank_decomposed2(clash, "b", "s", [F.asc("id")])

    # clean inputs are untouched: guarded rank equals the global window
    clean = spark.createDataFrame(
        [(i, i // 3, i % 3) for i in range(20)], "id int, b int, s int"
    )
    got = {
        r["id"]: r["r"]
        for r in global_rank_decomposed2(
            clean, "b", "s", [F.asc("id")], rank_name="r"
        ).collect()
    }
    assert got == {i: i + 1 for i in range(20)}


@settings(max_examples=1, deadline=None)
@given(st.data())
def test_decomposed2_grouped_rank_property(spark, data):
    """operators/rankdist.global_rank_decomposed2 with group_cols
    (r10, the fused-RFM lowering): each group's rank from the ONE
    shared pass must equal that group's own global row_number over
    (score ASC, id ASC) — on tie-heavy frames, with group sizes
    deliberately uneven (including singleton and empty-ish groups)."""
    from pyspark.sql import Window as W

    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed2,
    )

    rows = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, 2),  # group tag, skewed small domain
                st.integers(0, 12),  # tie-heavy score
                st.integers(0, 10**6),
            ),
            min_size=1,
            max_size=400,
            unique_by=lambda t: t[2],
        )
    )
    df = spark.createDataFrame(rows, "g int, score long, id long")
    banded = df.withColumn("_band", F.col("score")).withColumn(
        "_sub", F.shiftright(F.col("id"), 16)
    )
    ranked = global_rank_decomposed2(
        banded,
        "_band",
        "_sub",
        [F.asc("score"), F.asc("id")],
        rank_name="r",
        group_cols=["g"],
    )
    w = W.partitionBy("g").orderBy(F.asc("score"), F.asc("id"))
    expected = df.select("id", F.row_number().over(w).alias("er"))
    j = {
        r["id"]: (r["r"], r["er"])
        for r in ranked.join(expected, "id").collect()
    }
    assert len(j) == len(rows)
    assert all(r == er for r, er in j.values())
