"""X1 — deduplication operators for large-scale text corpora.

No reference counterpart (the reference dedups nothing); mandated by
the north-star training-data-pipeline surface. All variants are
expressed with built-in column functions — token/shingle explosion,
integer hash arithmetic, groupBy joins — so the hot path stays in
whole-stage codegen; no Python UDFs anywhere.

Scale design:
- exact dedup: hash-shuffle groupBy on the text digest, not the text
  itself (100 TB of text never shuffles raw).
- token Jaccard: pairwise only within LSH buckets — the
  all-pairs form exists for oracle-checking on small slices.
- MinHash: k independent permutations via the (a*x+b) mod p trick over
  a 32-bit murmur base hash; LSH bands turn near-dup detection into an
  equi-join on (band_id, band_hash) — shuffle is O(docs*bands), never
  O(docs^2).
- SimHash: 64-bit fingerprint via per-bit weighted majority over token
  hashes; near-dups = same fingerprint (or banded by 16-bit chunks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_spark, h64
from xero_api_etl_utilities_spark.operators.materialize import (
    compute_width,
    materialize,
)

# Mersenne prime 2^31-1: modulus for the universal-hash family.
# 31-bit operands keep a*x+b under 2^63 — no long overflow (Spark runs
# ANSI mode by default and would raise on overflow, and silent wrap
# would break the permutation property anyway).
_P = (1 << 31) - 1


def minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The (a, b) universal-hash coefficients, exported so the DuckDB
    oracle SQL can be generated from the SAME permutation family the
    Spark plan uses (driver-side python, tiny, deterministic)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P) | 1, rng.randrange(1, _P)) for _ in range(num_hashes)]


def tokens(text):
    """Lowercased word tokens as an array column."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), 0)


def token_ngrams(tok_col, n: int):
    """Word n-gram shingles (space-joined) from a token array column.

    Built-ins only, and deliberately LAMBDA-FREE in its references to
    ``tok_col``: the n shifted views are plain ``slice`` arguments to a
    ``zip_with`` chain, so ``tok_col`` is evaluated once per row no
    matter what expression it is. (The earlier
    ``transform(idx, i -> slice(tok_col, i+1, n))`` form put
    ``tok_col`` inside the lambda body, where Catalyst's subexpression
    elimination cannot reach — callers that inline
    ``tokens(text)`` re-ran the tokenizer regex once per ELEMENT,
    an O(tokens²) hidden cost that measured 5-9× slower across the
    n-gram family.)

    Documents with fewer than ``n`` tokens yield an empty array: the
    slice length is clamped at 0, so every shifted view (and hence the
    zipped result) is empty — no ANSI negative-length slice error.
    """
    cnt = F.greatest(F.size(tok_col) - (n - 1), F.lit(0))
    parts = [F.slice(tok_col, i + 1, cnt) for i in range(n)]
    acc = parts[0]
    for p in parts[1:]:
        acc = F.zip_with(acc, p, lambda a, b: F.concat_ws(" ", a, b))
    return acc


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup keeping the smallest id per distinct text.

    GroupBy on a 256-bit digest of the text so the shuffle carries
    32-byte keys instead of document bodies; the min-id winner makes
    the survivor deterministic (dropDuplicates keeps an arbitrary row).
    """
    return (
        df.select(F.col(id_col), F.col(text_col), F.sha2(F.col(text_col), 256).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_h")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_rows: int | None = 10_000,
) -> DataFrame:
    """All-pairs token Jaccard >= 0.7 (exact, for small slices /
    oracle checks — the scale path is ``minhash_lsh_candidates``).

    Jaccard is kept as exact integers (intersection, union sizes);
    the threshold test is cross-multiplied (10*inter >= 7*union) so
    no float division enters the hashed result.

    Guard (mirrors ``max_bucket`` on the LSH path): the shingle
    self-join is quadratic per shared shingle, so full-corpus input
    must be refused, not silently accepted: the input must stay under
    ``max_rows`` rows (counted eagerly — one cheap job on an op that
    is small-slice by contract).  ``max_rows=None`` is an explicit
    opt-out.
    """
    if max_rows is not None:
        n_rows = df.count()
        if n_rows > max_rows:
            raise ValueError(
                f"jaccard_pairs got {n_rows} rows (> max_rows={max_rows}): the"
                " all-pairs shingle self-join is quadratic and must not run on a"
                " full corpus — raise max_rows or use minhash_lsh_candidates (the"
                " scale path)."
            )
    shingled = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(token_ngrams(tokens(F.col(text_col)), 1))).alias("sh"),
    )
    sizes = shingled.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_size", F.col("sz_a") + F.col("sz_b") - F.col("inter_size"))
        .filter(10 * F.col("inter_size") >= 7 * F.col("union_size"))
        .select("doc_a", "doc_b", "inter_size", "union_size")
    )


def jaccard_verify(
    cands: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_sim_num: int = 7,
    min_sim_den: int = 10,
) -> DataFrame:
    """Exact token-Jaccard verification of CANDIDATE pairs — the stage a
    production dedup pipeline runs between LSH candidate generation
    and any destructive action (pruning, clustering). LSH banding is
    recall-tuned, so its candidate set contains false positives by
    design (measured precision 0.55-0.87 on this corpus depending on
    banding, tools/lsh_sweep.py); acting on unverified candidates
    over-merges.

    Cost is O(candidates × shingles-per-doc) CPU and
    O(candidates × set-bytes) shuffle, never all-pairs: the corpus is
    semi-joined down to documents appearing in a candidate pair, each
    pair picks up its two deduped shingle ARRAYS via equi-joins, and
    the intersection is per-row ``array_intersect`` — no explode. (The
    inverted-index formulation — explode shingles, equi-join on
    (doc, shingle), re-aggregate — shuffles every (pair, shingle) ROW
    and measured ~3× slower at sf0.1.) Same integer (inter, union)
    output contract as :func:`jaccard_pairs`.

    ``cands`` is taken as given; see :func:`_pair_intersections` for
    why it should arrive materialized.
    """
    pairs = _pair_intersections(cands, docs, id_col, text_col)
    return (
        pairs.withColumn(
            "union_size",
            F.col("size_a") + F.col("size_b") - F.col("inter_size"),
        )
        # union_size > 0 keeps the contract of the inverted-index form
        # (and the SQL twin): a pair of empty documents never appears
        .filter(F.col("union_size") > 0)
        .filter(min_sim_den * F.col("inter_size") >= min_sim_num * F.col("union_size"))
        .select("doc_a", "doc_b", "inter_size", "union_size")
    )


def _pair_intersections(
    cands: DataFrame, docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared verify substrate: each candidate pair with its exact
    per-pair (|A∩B|, |A|, |B|) integers attached — columns
    (doc_a, doc_b, inter_size, size_a, size_b), materialized.

    jaccard_verify and containment_verify are two THRESHOLD RULES over
    the same integers; the expensive part — semi-join shrink,
    shingle-set build, per-pair ``array_intersect`` — lives here once.

    ``cands`` is read three times (both union sides of the pair-id
    frame and the main join), so the caller passes a MATERIALIZED
    frame: a lazy one re-runs the whole candidate generation per read
    (measured ~40% of this operator's runtime at sf0.1).  Its
    partitioning is the width of the CPU-bound intersect pass, so a
    caller whose candidates come off an AQE-coalesced exchange widens
    them first with ``materialize(compute_width(cands))`` (verify
    4.3 → 1.2 s on the 2.1 M-pair batch substrate at sf0.1, where the
    coalesced distinct left 10 partitions).  All verify columns are
    integers (ids, md5-derived set sizes), so partitioning cannot
    perturb any value.

    The pair-stats frame is materialized BEFORE the threshold filters.
    Returned as a plan, the filters collapse into the attach join and
    each conjunct re-derives ``inter_size``, so ``array_intersect``
    evaluates up to 3× per pair; the narrow integer barrier (5
    ints/pair) makes it evaluate exactly once (verify 6.6 → 4.3 s at
    sf0.1)."""
    pair_ids = (
        cands.select(F.col("doc_a").alias("doc"))
        .union(cands.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # The shingle-set frame feeds BOTH attach joins (doc_a side and
    # doc_b side) and Spark has no cross-branch CSE, so without its
    # own materialization the semi-join + tokenize + array_distinct
    # subtree executes twice per verify — two full candidate-doc text
    # scans where one suffices (the plan showed the sets subtree
    # duplicated under both BroadcastExchanges).
    sets = materialize(
        docs.join(pair_ids, docs[id_col] == pair_ids["doc"], "left_semi").select(
            F.col(id_col).alias("doc"),
            F.array_distinct(token_ngrams(tokens(F.col(text_col)), 1)).alias(
                "shset"
            ),
        )
    )
    a = sets.select(
        F.col("doc").alias("doc_a"),
        F.col("shset").alias("sh_a"),
        F.size("shset").cast("bigint").alias("size_a"),
    )
    b = sets.select(
        F.col("doc").alias("doc_b"),
        F.col("shset").alias("sh_b"),
        F.size("shset").cast("bigint").alias("size_b"),
    )
    stats = (
        cands.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias(
                "inter_size"
            ),
            "size_a",
            "size_b",
        )
    )
    return materialize(stats)


def containment_verify(
    cands: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact-CONTAINMENT verification of candidate pairs: keep (a, b)
    when |A∩B| ≥ 0.9·min(|A|, |B|) — i.e. the smaller document's
    token set is ≥90% contained in the other.

    This is the sub/superset near-dup rule Jaccard structurally
    misses: a paragraph quoted whole inside a 100× longer page has
    J = |A|/|B| ≈ 0.01 but containment ≈ 1.0 — the standard reason
    corpus dedup runs BOTH rules (quotation/boilerplate inclusion vs
    mutual near-identity). Same integer/cross-multiplied contract and
    the same ``cands`` contract as :func:`jaccard_verify`; shares its
    candidate substrate, so cost stays O(candidates × shingles), never
    all-pairs.

    Empty shingle sets never pass (min size 0 ⇒ the strict ``> 0``
    size guard filters the pair), mirroring jaccard's union_size > 0.
    """
    pairs = _pair_intersections(cands, docs, id_col, text_col)
    return (
        pairs.withColumn(
            "min_size", F.least(F.col("size_a"), F.col("size_b"))
        )
        .filter(F.col("min_size") > 0)
        .filter(10 * F.col("inter_size") >= 9 * F.col("min_size"))
        .select("doc_a", "doc_b", "inter_size", "min_size")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per document: for each of ``num_hashes``
    universal-hash permutations h_i(x) = (a_i*x + b_i) mod P over the
    md5-derived 32-bit hash of each distinct token, keep the minimum.

    One explode + one groupBy — the signature computation is a single
    map-side-combinable aggregation. The base hash is crosshash.h32
    (not xxhash64) so the ENTIRE signature pipeline has a DuckDB twin:
    the driver oracle re-runs the same algorithm in SQL.
    """
    coeffs = minhash_coeffs(num_hashes, 42)

    shingled = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(token_ngrams(tokens(F.col(text_col)), 1))).alias("sh"),
    )
    base = shingled.withColumn("hx", h32(F.col("sh")) % _P)
    # each permutation as ONE parsed expression string (the litfold
    # rationale): the Column-op form built ~6 py4j nodes per hash —
    # ~1.1 s of driver time per plan build for the 64-permutation loop
    mins = [
        F.expr(f"min((hx * {a} + {b}) % {_P}) AS mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return base.groupBy("doc").agg(*mins)


def band_rows(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding as ROWS — (doc, band, bh) with one row per document
    per band, the persisted form of a corpus dedup CATALOG: a new
    crawl's bands equi-join against this table without touching (or
    re-shingling) the corpus documents.  Same band hash as
    :func:`minhash_lsh_candidates` (h32 of the '|'-joined signature
    slots), kept separate so the batch self-join path keeps its
    bucket-explosion shape unchanged."""
    # one parsed expression for the whole banding explode (litfold
    # rationale: the struct loop built ~10 py4j nodes per band
    # — ~0.5 s of driver time per plan build, paid per timed iteration
    # by every catalog-backed consumer)
    def _bh(b: int) -> str:
        slots = ", ".join(
            f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        return h32_spark(f"concat_ws('|', {slots})")

    entries = ", ".join(
        f"named_struct('band', {b}, 'bh', {_bh(b)})" for b in range(bands)
    )
    return sigs.select(
        F.col("doc"), F.expr(f"explode(array({entries}))").alias("e")
    ).select("doc", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding over a MinHash signature DataFrame → candidate pairs.

    Each band hashes ``rows_per_band`` signature slots; documents
    agreeing on any band become a candidate pair. Shuffle cost is one
    groupBy on (band, band_hash): O(docs*bands) rows.

    Buckets of more than 500 docs are dropped, the degenerate-bucket
    guard: a bucket of B docs contributes B² pair output, so a handful
    of stop-buckets (boilerplate, near-empty docs, tiny shared vocab)
    can turn candidate generation quadratic.  Dropping them — the
    standard stop-bucket practice in corpus dedup — bounds pair output
    at O(buckets × 500²) no matter how skewed the corpus.

    Pair generation is WITHIN-BUCKET EXPLOSION, not a banded
    self-join: a self-join would instantiate the whole
    signature+banding subtree twice (Spark has no cross-branch
    common-subexpression reuse — at 100 TB that is 2× the entire
    sketch computation), whereas grouping to (band, bh) buckets
    computes signatures once and emits each bucket's sorted-id pair
    combinations from one collect_list whose size the guard bounds.
    """
    # parsed expression strings (litfold rationale — see band_rows)
    def _bh(b: int) -> str:
        slots = ", ".join(
            f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        return h32_spark(f"concat_ws('|', {slots})")

    band_cols = [F.expr(f"{_bh(b)} AS band_{b}") for b in range(bands)]
    banded = sigs.select(F.col("doc"), *band_cols)
    entries = ", ".join(
        f"named_struct('band', {b}, 'bh', band_{b})" for b in range(bands)
    )
    pairs = banded.select(
        "doc", F.expr(f"explode(array({entries}))").alias("e")
    ).select("doc", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))
    buckets = (
        pairs.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .filter(F.size("docs") <= 500)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size(F.col("docs"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    # The pair-set dedup runs as an explicit pair-keyed repartition at
    # compute width + partition-local dropDuplicates instead of a bare
    # .distinct(): the aggregate reuses the explicit HashPartitioning,
    # so this is ONE exchange — and the dedup runs at compute width
    # instead of whatever AQE coalesces the 34 MB pair shuffle to (~10
    # partitions at sf0.1, which then under-parallelized every
    # checkpoint consumer).
    # Cold build 7.7 → 5.6 s median at sf0.1; same distinct pair set.
    pairs = buckets.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
    )
    return compute_width(pairs, "doc_a", "doc_b").dropDuplicates()


def simhash_near_dups(
    fps: DataFrame,
    doc_col: str = "doc",
    fp_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via 16-bit banding.

    Pigeonhole: two fingerprints within Hamming distance ≤3 agree on at
    least one of four 16-bit bands, so candidates come from within-
    bucket pair explosion on (band, band_value) — O(docs×4) shuffle,
    never all-pairs — then the exact Hamming filter (xor + bit_count)
    keeps true near-dups. (For a radius ≥ 4 the 4-band pigeonhole no
    longer guarantees full recall; a larger radius needs narrower
    bands.)

    Like ``minhash_lsh_candidates``: one groupBy, not a banded
    self-join (which would compute the 64-sum fingerprint aggregation
    twice), and buckets of more than 2000 docs are dropped as stop-
    buckets, bounding the quadratic pair output under band-value skew.
    """
    bands = 4
    exploded = fps.select(
        F.col(doc_col).alias("doc"),
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(fp_col), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select("doc", "fp", F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    # Bucket members are grouped BY FINGERPRINT before pair explosion
    # (don't compute things you throw away): a flat
    # member explosion evaluates xor+bit_count per DOC pair — on a
    # duplicate-heavy corpus (the operator's whole reason to exist) a
    # bucket of m docs holding g distinct fingerprints did m²/2 pair
    # builds where g²/2 suffice, since hamming depends only on the
    # fingerprints.  Doc-level pairs are expanded ONLY for fp pairs
    # that pass the hamming filter (plus the always-emitted hamming-0
    # pairs within an fp group), so struct construction is
    # output-sized, not candidates-sized.  Pair SET and hamming
    # values are identical: docs are unique within a bucket, doc
    # order is enforced via least/greatest exactly as the sorted
    # member explosion enforced it, and the trailing
    # distinct+filter is unchanged.
    fp_groups = exploded.groupBy("band", "bv", "fp").agg(
        F.array_sort(F.collect_list("doc")).alias("docs")
    )
    buckets = (
        fp_groups.groupBy("band", "bv")
        .agg(
            F.array_sort(F.collect_list(F.struct("fp", "docs"))).alias("groups"),
            F.sum(F.size("docs")).alias("_m"),
        )
        .filter(F.col("_m") >= 2)
        .filter(F.col("_m") <= 2000)
    )
    groups = F.col("groups")
    same_arr = F.flatten(
        F.transform(
            groups,
            lambda g: F.flatten(
                F.transform(
                    g["docs"],
                    lambda x, i: F.transform(
                        F.slice(g["docs"], i + 2, F.size(g["docs"])),
                        lambda y: F.struct(
                            x.alias("doc_a"),
                            y.alias("doc_b"),
                            F.bit_count(g["fp"].bitwiseXOR(g["fp"])).alias(
                                "hamming"
                            ),
                        ),
                    ),
                )
            ),
        )
    )
    cross_arr = F.flatten(
        F.transform(
            groups,
            lambda gx, i: F.flatten(
                F.transform(
                    F.filter(
                        F.slice(groups, i + 2, F.size(groups)),
                        lambda gy: F.bit_count(gx["fp"].bitwiseXOR(gy["fp"]))
                        <= 3,
                    ),
                    lambda gy: F.flatten(
                        F.transform(
                            gx["docs"],
                            lambda a: F.transform(
                                gy["docs"],
                                lambda b: F.struct(
                                    F.least(a, b).alias("doc_a"),
                                    F.greatest(a, b).alias("doc_b"),
                                    F.bit_count(
                                        gx["fp"].bitwiseXOR(gy["fp"])
                                    ).alias("hamming"),
                                ),
                            ),
                        )
                    ),
                )
            ),
        )
    )
    return (
        buckets.select(F.explode(F.concat(same_arr, cross_arr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Per-bit weighted majority over the md5-derived 64-bit hash
    (crosshash.h64 — DuckDB-reproducible, so the driver oracle re-runs
    the algorithm in SQL) of each distinct token:
    bit_j(doc) = 1 iff sum_t sign(bit_j(hash(t))) > 0. Expressed as 64
    conditional sums in ONE aggregation pass (map-side combinable).
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("th", h64(F.col("tok")))
    # shiftleft wraps to the sign bit at j=63, which is exactly the
    # two's-complement bit mask we want on a signed long.  Both loops
    # render as parsed expression strings (litfold rationale):
    # the Column-op form built ~14 py4j nodes per bit — ~1.6 s of
    # driver time per plan build, paid per timed iteration.
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (th & shiftleft(1L, {j})) != 0"
            f" THEN 1 ELSE -1 END) AS b{j}"
        )
        for j in range(64)
    ]
    agg = toks.groupBy("doc").agg(*bit_sums)
    fp_terms = " | ".join(
        f"(CASE WHEN b{j} > 0 THEN shiftleft(1L, {j})"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(64)
    )
    fp = F.expr(f"CAST(0 AS BIGINT) | {fp_terms}")
    return agg.select("doc", fp.alias("simhash"))
