"""Unit tests for text normalization, PII masking, repetition stats,
decontamination, context-window packing, and the pandas top-k twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import packing as pk
from xero_api_etl_utilities_spark.operators import similarity as sim
from xero_api_etl_utilities_spark.operators import textnorm as tn


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [(1, "  Hello\t WORLD \n\n foo\x01bar  "), (2, "already clean")],
        ["id", "text"],
    )
    out = dict(
        df.select("id", tn.normalize_text(F.col("text")).alias("t")).collect()
    )
    assert out[1] == "hello world foo bar"
    assert out[2] == "already clean"


def test_nfc_pandas_udf(spark):
    # e + combining acute (decomposed) must compose to U+00E9
    decomposed = "café"
    df = spark.createDataFrame([(1, decomposed), (2, None)], ["id", "text"])
    out = dict(df.select("id", tn.nfc(F.col("text")).alias("t")).collect())
    assert out[1] == "café"
    assert out[2] is None


def test_mask_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +1 (415) 555-0199 today"),
            (3, "ssn-ish 123456789 and acct 9876543210"),
            (4, "no pii here 42"),
        ],
        ["id", "text"],
    )
    out = dict(df.select("id", tn.mask_pii(F.col("text")).alias("t")).collect())
    assert out[1] == "mail [EMAIL] now"
    assert out[2] == "call [PHONE] today"
    assert out[3] == "ssn-ish [ID] and acct [ID]"
    assert out[4] == "no pii here 42"


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),  # bigrams: 5 total, 2 distinct
            (2, "all words here are unique"),  # 4 total, 4 distinct
            (3, "one"),  # shorter than n: zero bigrams
        ],
        ["id", "text"],
    )
    st = tn.repetition_stats(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            st["n_ngrams"].alias("n"),
            st["n_distinct"].alias("d"),
            st["max_repeat"].alias("m"),
            st["repetitive"].alias("rep"),
        ).collect()
    }
    assert (rows[1]["n"], rows[1]["d"], rows[1]["m"]) == (5, 2, 3)
    assert rows[1]["rep"] is True
    assert (rows[2]["n"], rows[2]["d"], rows[2]["m"]) == (4, 4, 1)
    assert rows[2]["rep"] is False
    assert (rows[3]["n"], rows[3]["d"], rows[3]["m"]) == (0, 0, 0)
    assert rows[3]["rep"] is False


def test_ngram_overlap_decontamination(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            # shares trigrams "the quick brown", "quick brown fox"
            (1, "see the quick brown fox run"),
            # no trigram overlap (different order)
            (2, "fox brown quick the jumps"),
            # exact copy: shares all 3 benchmark trigrams
            (3, "the quick brown fox jumps"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_shared"]
        for r in tn.ngram_overlap(train, bench, "doc_id", "text").collect()
    }
    assert out == {1: 2, 3: 3}


def test_pack_fixed_budget(spark):
    df = spark.createDataFrame(
        [(i, 0, 600) for i in range(1, 6)] + [(10, 1, 2500)],
        ["doc_id", "shard", "n_tokens"],
    )
    out = {
        r["doc_id"]: (r["prev_tokens"], r["pack_id"])
        for r in pk.pack_fixed_budget(
            df, "doc_id", "n_tokens", budget=2048, shard_col="shard"
        ).collect()
    }
    # shard 0 running totals: 0, 600, 1200, 1800, 2400
    assert out[1] == (0, 0)
    assert out[4] == (1800, 0)  # straddles the boundary, stays in pack 0
    assert out[5] == (2400, 1)
    assert out[10] == (0, 0)  # its own shard restarts the running total


def test_pack_budget_validation(spark):
    import pytest

    df = spark.createDataFrame([(1, 5)], ["doc_id", "n_tokens"])
    with pytest.raises(ValueError, match="budget"):
        pk.pack_fixed_budget(df, "doc_id", "n_tokens", budget=0)


def test_topk_pandas_matches_builtin(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    a = sorted(
        map(tuple, sim.topk_bruteforce(queries, emb, k=5).collect())
    )
    b = sorted(
        map(tuple, sim.topk_bruteforce_pandas(queries, emb).collect())
    )
    assert a == b


def test_topk_pandas_zero_vectors_match_builtin(spark):
    # zero vectors must score 0 (cosine with clamped norm), not NaN —
    # NaN silently drops corpus rows / corrupts ranks
    rows = [
        (1, [0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.5, 0.5, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, sim.topk_bruteforce(emb, emb, k=5).collect()))
    b = sorted(map(tuple, sim.topk_bruteforce_pandas(emb, emb).collect()))
    assert a == b
    # the zero-vector query still returns every neighbor (all scored 0)
    assert sum(1 for t in b if t[0] == 1) == 3


def test_topk_pandas_query_cap(spark, sf_dir):
    import pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="max_queries"):
        sim.topk_bruteforce_pandas(emb, emb)


def test_connected_components(spark):
    from xero_api_etl_utilities_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        # component {1,2,3}, component {5,6}, and a descending chain
        # 10-11-12-13 whose min enters at one end (forces >1 round)
        [(1, 2), (2, 3), (5, 6), (13, 12), (12, 11), (11, 10)],
        ["u1", "u2"],
    )
    out = {
        r["doc"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 10: 10, 11: 10, 12: 10, 13: 10}


def test_connected_components_reliable_checkpoint(spark, ckpt_dir, monkeypatch):
    # a session checkpoint directory switches per-round materialization
    # from executor-local blocks to reliable checkpoints (the
    # fault-tolerance mode for long cluster runs); results identical
    from xero_api_etl_utilities_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["u1", "u2"]
    )
    # the directory exists as soon as it is set, and the session removes
    # a round's checkpoint once the round is unreachable, so count the
    # checkpoints as they are written
    written = []
    frame = type(edges)
    checkpoint = frame.checkpoint

    def spy(df, *args):
        out = checkpoint(df, *args)
        written.append(out._jdf.queryExecution().analyzed().rdd().getCheckpointFile().get())
        return out

    monkeypatch.setattr(frame, "checkpoint", spy)
    out = {
        r["doc"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    # one reliable checkpoint per materialize, in the session's directory:
    # the symmetric edges, the first labels, then one per round (two
    # rounds move a label, the third finds the fixpoint)
    assert len(written) == len(set(written)) == 2 + 3
    assert all(w.startswith(f"file:{ckpt_dir}/") for w in written)


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    from xero_api_etl_utilities_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["u1", "u2"]
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iters=2)


def test_jaccard_verify(spark):
    from xero_api_etl_utilities_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], ["doc_id", "text"]
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], ["doc_a", "doc_b"])
    out = [
        tuple(r)
        for r in dd.jaccard_verify(
            cands, docs, "doc_id", "text", min_sim_num=5, min_sim_den=10
        ).collect()
    ]
    # (1,2): inter {a,b,c}=3, union=5 -> 0.6 >= 0.5 kept
    # (1,3): zero shared shingles -> never materializes
    assert out == [(1, 2, 3, 5)]


def test_stratified_sample(spark):
    from xero_api_etl_utilities_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(200)], ["id", "lang"]
    )
    out = sampling.stratified_sample(
        df, "id", "lang", rates={"en": (1, 2), "de": (1, 1)}
    )
    rows = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in rows}
    assert counts["de"] == 100  # rate 1/1 keeps every row
    assert 30 <= counts["en"] <= 70  # ~half of 100, hash-determined
    # deterministic: re-running yields the identical set
    again = sampling.stratified_sample(
        df, "id", "lang", rates={"en": (1, 2), "de": (1, 1)}
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_stratified_sample_default_and_validation(spark):
    import pytest

    from xero_api_etl_utilities_spark.operators import sampling

    df = spark.createDataFrame(
        [(0, "en")] + [(i, "zz") for i in range(1, 401)], ["id", "lang"]
    )
    # a listed stratum at 1/1 keeps every row; the unlisted one keeps
    # about 1 in 4
    out = sampling.stratified_sample(df, "id", "lang", rates={"en": (1, 1)})
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts["en"] == 1
    assert 60 <= counts["zz"] <= 140
    with pytest.raises(ValueError, match="num <= den"):
        sampling.stratified_sample(df, "id", "lang", rates={"en": (3, 2)})


def test_events_funnel_ordering_edges(spark, monkeypatch):
    """Funnel stages require strict timestamp progression; same-ts
    events don't advance, and pre-view clicks are ignored."""
    import datetime as dt

    from xero_api_etl_utilities_spark.plans import event_ops as ax

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    rows = [
        # user 1: full funnel in order -> 3
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # user 2: click BEFORE the first view never counts -> 1
        (2, t(0), "click"), (2, t(1), "view"),
        # user 3: click at the SAME ts as the view (strict >) -> 1
        (3, t(0), "view"), (3, t(0), "click"),
        # user 4: purchase before click -> stuck at 2
        (4, t(0), "view"), (4, t(1), "purchase"), (4, t(2), "click"),
        # user 5: no view at all -> 0
        (5, t(0), "signup"),
    ]
    # load_table serves events as TIMESTAMP_NTZ; match it here
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"]).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    monkeypatch.setattr(
        "xero_api_etl_utilities_spark.plans.event_ops.load_table",
        lambda spark, sf_dir, name: df,
    )
    out = {r["user_id"]: r["stage"] for r in ax.events_funnel(spark, "x").collect()}
    assert out == {1: 3, 2: 1, 3: 1, 4: 2, 5: 0}


def test_stratified_sample_empty_rates(spark):
    from xero_api_etl_utilities_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(400)], ["id", "lang"]
    )
    # no rates: every stratum keeps about 1 in 4
    out = sampling.stratified_sample(df, "id", "lang", rates={})
    assert 60 <= out.count() <= 140
