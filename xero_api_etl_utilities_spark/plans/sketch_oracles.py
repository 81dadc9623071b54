"""DuckDB oracle SQL generators for the sketch/ANN catalog queries.

The sketch operators hash with crosshash (md5-derived — bit-identical
in Spark, DuckDB and python), so each oracle below RE-RUNS THE FULL
ALGORITHM in DuckDB SQL — a strictly stronger check than a
set-containment fallback:

- MinHash signatures, LSH banding, the stop-bucket guard and the
  candidate self-join are pure integer math → exactly reproducible.
- SimHash fingerprints/pairs are integer bit math → exactly
  reproducible (two's-complement assembly via HUGEINT).
- Hyperplane-LSH and IVF top-k involve float dot products.  The
  smallest |dot(vector, plane)| is 1.28e-4 at sf0.01 and 6.5e-5 at
  sf0.1; the smallest gap between a vector's best and second-best
  centroid score is 3.5e-4 at sf0.01 and 1.1e-5 at sf0.1.  Each is
  nine or more orders above cross-engine double-rounding noise
  (~1e-14), so the discrete outputs (bucket ids, cells, ranks) are
  engine-stable.  Plane and centroid literals are inlined via repr()
  (shortest round-trip, parsed back to the identical double).

The SQL strings are long (64 minhash permutations, 64 simhash bit
sums) but machine-generated from the same parameters the Spark plans
use.  The MinHash coefficients (``minhash_coeffs``, ``_P``), the
hyperplanes (``hyperplanes``) and the IVF centroids
(``train_centroids_from_parquet``) are SHARED INPUTS of both sides: the
oracles import them from the operators, so a hash-match checks the
algorithm run over those tables, not the tables themselves.  Their own
tests do that: the coefficients form a valid universal family, the
pyarrow centroid path is bit-identical to the Spark one, and the plane
and centroid margins above hold at both test scales
(``tests/test_extensions.py``).
"""

from __future__ import annotations

import os

from xero_api_etl_utilities_spark.functions.crosshash import h32_sql
from xero_api_etl_utilities_spark.operators.dedup import _P, minhash_coeffs
from xero_api_etl_utilities_spark.operators.similarity import hyperplanes
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir

_I64_MIN = "(-9223372036854775807 - 1)"


def _mask(j: int) -> str:
    """Signed-BIGINT literal for bit j (DuckDB checks 1<<63 overflow,
    so the sign bit is written as the literal min-long)."""
    return _I64_MIN if j == 63 else str(1 << j)


# ---------------------------------------------------------------- minhash

def minhash_lsh_oracle() -> str:
    """Twin of dedup_minhash_lsh: token (1-gram) shingles → md5-based
    32-bit hash mod P → 64 universal-hash minima → per-band h32 of the
    '|'-joined slots → stop-bucket filter → candidate equi-join."""
    return "WITH " + minhash_cand_ctes() + "\nSELECT doc_a, doc_b FROM cand"


def band_catalog_ctes(source: str = "documents") -> str:
    """The MinHash → banding CTE prefix ending in
    ``banded(doc, band, bh)`` — the full-corpus band CATALOG before any
    stop-bucket policy: 64 hashes (seed 42) in 16 bands of 4 rows.
    ``source`` is the doc relation (a table or CTE with doc_id/text
    columns).  Kept apart from :func:`minhash_cand_ctes` (which
    composes it with the bucket guard and candidate join) so catalog-
    maintenance oracles can census the catalog itself without dragging
    an unreferenced ``cand`` self-join into the statement."""
    coeffs = minhash_coeffs(64, 42)
    mins = ",\n    ".join(
        f"MIN((hx * {a} + {b}) % {_P}) AS mh_{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc, {b} AS band, CAST({h} AS BIGINT) AS bh FROM sigs".format(
            b=b,
            h=h32_sql(
                "concat_ws('|', "
                + ", ".join(
                    f"mh_{b * 4 + r}" for r in range(4)
                )
                + ")"
            ),
        )
        for b in range(16)
    )
    # AS MATERIALIZED: DuckDB 1.0 inlines CTEs at every reference site —
    # ``sigs`` is referenced once PER BAND in the UNION ALL below, and
    # ``toks`` again by the verify CTEs, so without the hint a composed
    # oracle re-runs the corpus minhash pass per band per outer
    # reference (about 55 min of DuckDB time for
    # pipeline_curation_report).  Results are byte-identical; only the
    # evaluation count changes.
    return f"""toks AS MATERIALIZED (
  SELECT DISTINCT doc_id AS doc, t.sh AS sh
  FROM {source} AS srcdocs,
       UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(sh)
), hashed AS (
  SELECT doc, CAST({h32_sql("sh")} AS BIGINT) % {_P} AS hx FROM toks
), sigs AS MATERIALIZED (
  SELECT doc,
    {mins}
  FROM hashed GROUP BY doc
), banded AS (
  {band_selects}
)"""


def minhash_cand_ctes(source: str = "documents") -> str:
    """The MinHash+LSH CTE chain ending in ``cand(doc_a, doc_b)`` —
    :func:`band_catalog_ctes`, buckets over 500 docs dropped —
    composable into larger oracle statements."""
    return f"""{band_catalog_ctes(source)}, lshkept AS MATERIALIZED (
  SELECT doc, band, bh FROM banded
  QUALIFY COUNT(*) OVER (PARTITION BY band, bh) <= 500
), cand AS MATERIALIZED (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM lshkept a
  JOIN lshkept b ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
)"""


def jaccard_verify_ctes(min_sim_num: int = 7, min_sim_den: int = 10) -> str:
    """Exact-Jaccard verification of the ``cand`` pairs, reusing the
    chain's ``toks`` CTE — ends in
    ``verified(doc_a, doc_b, inter_size, union_size)``. Twin of
    operators/dedup.jaccard_verify."""
    return f"""csz AS MATERIALIZED (
  SELECT doc, COUNT(*) AS sz FROM toks GROUP BY doc
), vinter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter_size
  FROM cand c
  JOIN toks ta ON ta.doc = c.doc_a
  JOIN toks tb ON tb.doc = c.doc_b AND tb.sh = ta.sh
  GROUP BY c.doc_a, c.doc_b
), verified AS MATERIALIZED (
  SELECT v.doc_a, v.doc_b,
         CAST(v.inter_size AS BIGINT) AS inter_size,
         CAST(sa.sz + sb.sz - v.inter_size AS BIGINT) AS union_size
  FROM vinter v
  JOIN csz sa ON sa.doc = v.doc_a
  JOIN csz sb ON sb.doc = v.doc_b
  WHERE {min_sim_den} * v.inter_size >= {min_sim_num} * (sa.sz + sb.sz - v.inter_size)
)"""


def containment_verify_ctes() -> str:
    """Exact-containment verification of the ``cand`` pairs — the
    sub/superset near-dup rule: |A∩B| ≥ 0.9·min(|A|,|B|). Reuses the
    chain's ``toks`` CTE; ends in
    ``contained(doc_a, doc_b, inter_size, min_size)``. Twin of
    operators/dedup.containment_verify."""
    return f"""csz AS MATERIALIZED (
  SELECT doc, COUNT(*) AS sz FROM toks GROUP BY doc
), vinter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter_size
  FROM cand c
  JOIN toks ta ON ta.doc = c.doc_a
  JOIN toks tb ON tb.doc = c.doc_b AND tb.sh = ta.sh
  GROUP BY c.doc_a, c.doc_b
), contained AS (
  SELECT v.doc_a, v.doc_b,
         CAST(v.inter_size AS BIGINT) AS inter_size,
         CAST(LEAST(sa.sz, sb.sz) AS BIGINT) AS min_size
  FROM vinter v
  JOIN csz sa ON sa.doc = v.doc_a
  JOIN csz sb ON sb.doc = v.doc_b
  WHERE LEAST(sa.sz, sb.sz) > 0
    AND 10 * v.inter_size >= 9 * LEAST(sa.sz, sb.sz)
)"""


def containment_pairs_oracle() -> str:
    """Twin of dedup_containment: the same recall-tuned LSH candidate
    chain as dedup_verified_pairs, closed with the containment rule
    instead of Jaccard."""
    return (
        "WITH "
        + minhash_cand_ctes()
        + ",\n"
        + containment_verify_ctes()
        + "\nSELECT doc_a, doc_b, inter_size, min_size FROM contained"
    )


def verified_pairs_oracle() -> str:
    """Twin of dedup_verified_pairs: recall-tuned LSH candidates
    ((1/16)^(1/4) = 0.5 band threshold, measured 0.998 recall at the
    0.7 dedup target — tools/lsh_sweep.py) then exact-Jaccard
    verification."""
    return (
        "WITH "
        + minhash_cand_ctes()
        + ",\n"
        + jaccard_verify_ctes()
        + "\nSELECT doc_a, doc_b, inter_size, union_size FROM verified"
    )


# ---------------------------------------------------------------- simhash

def _simhash_ctes() -> str:
    """Shared CTE chain ending in fps(doc, fp): md5-derived 64-bit
    token hash (signed, via HUGEINT two's complement), 64 conditional
    bit sums, fingerprint assembly by OR of per-bit masks."""
    sums = ",\n    ".join(
        f"SUM(CASE WHEN (th & {_mask(j)}) != 0 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    assemble = "\n    | ".join(
        f"(CASE WHEN b{j} > 0 THEN {_mask(j)} ELSE 0 END)::BIGINT" for j in range(64)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, t.tok AS tok
  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tok)
), hpair AS (
  SELECT doc,
    CAST('0x' || substr(md5(tok), 1, 8) AS UBIGINT) AS hi,
    CAST('0x' || substr(md5(tok), 9, 8) AS UBIGINT) AS lo
  FROM toks
), th AS (
  SELECT doc,
    CAST(CAST(hi AS HUGEINT) * 4294967296 + CAST(lo AS HUGEINT)
         - CASE WHEN hi >= 2147483648 THEN 18446744073709551616::HUGEINT
                ELSE 0::HUGEINT END AS BIGINT) AS th
  FROM hpair
), sums AS (
  SELECT doc,
    {sums}
  FROM th GROUP BY doc
), fps AS (
  SELECT doc,
    {assemble} AS fp
  FROM sums
)"""


def simhash_oracle() -> str:
    """Twin of dedup_simhash (doc, simhash)."""
    return _simhash_ctes() + "\nSELECT doc, fp AS simhash FROM fps"


def simhash_pairs_oracle() -> str:
    """Twin of dedup_simhash_pairs: 16-bit banding (logical shift +
    mask — identical low bits whether the engine's >> sign-extends or
    not), stop-bucket guard, pair equi-join per band, exact
    xor/bit_count filter."""
    return (
        _simhash_ctes()
        + f""",
banded AS (
  SELECT doc, fp, b.band AS band, (fp >> (16 * b.band)) & 65535 AS bv
  FROM fps, (VALUES (0), (1), (2), (3)) b(band)
  QUALIFY COUNT(*) OVER (PARTITION BY b.band, (fp >> (16 * b.band)) & 65535) <= 2000
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.doc < b.doc
) WHERE hamming <= 3
"""
    )


# ---------------------------------------------------------------- ANN

def vec_lit(v: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in v) + "]"


def topk_lsh_oracle() -> str:
    """Twin of similarity_topk_lsh: per-table sign-bit bucket ids from
    the SAME inlined hyperplanes, candidate equi-joins unioned across
    tables, exact cosine rank within the candidate set."""
    table_selects = []
    for t in range(4):
        planes = hyperplanes(4, 64, seed=7 + t)
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(v, {vec_lit(p)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        table_selects.append(
            f"""SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
    FROM (SELECT vec_id, {bucket} AS bkt FROM e WHERE vec_id < 20) qb
    JOIN (SELECT vec_id, {bucket} AS bkt FROM e) cb USING (bkt)"""
        )
    unions = "\n    UNION ALL ".join(table_selects)
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cands AS (
  SELECT DISTINCT query_id, neighbor_id FROM (
    {unions}
  ) WHERE query_id <> neighbor_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(eq.v, ec.v) AS s
  FROM cands c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e ec ON ec.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def topk_ivf_oracle() -> str:
    """Twin of similarity_topk_ivf. Centroids are re-trained by the
    Sparkless twin (pyarrow read ordered by vec_id + the same numpy
    k-means core) from the parquet the driver's gate runs against
    (:func:`catalog.oracle_sf_dir`), so the inlined literals are
    bit-identical to the plan's. Cell
    choice mirrors reverse(array_sort(struct(d, cell))) including the
    (unreachable, margin-checked) tie-break via struct list_sort."""
    from xero_api_etl_utilities_spark.operators.ivf import train_centroids_from_parquet

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), corpus AS (
  SELECT vec_id, v, ({cells})[1] AS cell FROM e
), probes AS (
  SELECT vec_id, UNNEST(({cells})[1:4]) AS cell
  FROM e WHERE vec_id < 20
), scored AS (
  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(eq.v, c.v) AS s
  FROM probes p
  JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.vec_id
  JOIN e eq ON eq.vec_id = p.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def range_search_ivf_oracle() -> str:
    """Twin of similarity_range_search: same bit-identical centroid
    literals and cell chain as :func:`topk_ivf_oracle`, but the
    verdict is the cosine-radius SET (s >= 0.3) instead of a rank cut
    — the 0.3 margin measured >= 2.2e-5 on every test sf."""
    from xero_api_etl_utilities_spark.operators.ivf import train_centroids_from_parquet

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), corpus AS (
  SELECT vec_id, v, ({cells})[1] AS cell FROM e
), probes AS (
  SELECT vec_id, UNNEST(({cells})[1:4]) AS cell
  FROM e WHERE vec_id < 20
)
SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
FROM probes p
JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.vec_id
JOIN e eq ON eq.vec_id = p.vec_id
WHERE list_cosine_similarity(eq.v, c.v) >= 0.3
ORDER BY query_id, neighbor_id
"""


def cluster_assign_oracle() -> str:
    """Twin of cluster_assign: nearest-centroid id per vector, same
    bit-identical centroid literals as :func:`topk_ivf_oracle`."""
    from xero_api_etl_utilities_spark.operators.ivf import train_centroids_from_parquet

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT vec_id,
       CAST((list_transform(list_reverse(list_sort([{structs}])),
             s -> s.cell))[1] AS INT) AS cell
FROM e
"""


def corpus_clean_oracle() -> str:
    """Twin of pipeline_corpus_clean: quality gate (the verified
    text_quality expressions) → exact-dedup survivors (min doc_id per
    sha256) → MinHash-LSH near-dup pruning (drop the larger id of
    every candidate pair) — the whole training-corpus cleaning DAG in
    one SQL statement. Near-dup pruning acts on VERIFIED pairs
    (exact Jaccard ≥ 0.7 within the recall-tuned candidate set), not
    raw candidates — pruning on candidates would drop ~45% false
    positives' worth of good documents.

    The pair set is the FULL-CORPUS verified-pair chain restricted to
    both-survivor pairs — the exact composition the Spark side runs,
    where the pipeline rides the shared _verified_pairs substrate (one
    LSH+verify per session) instead of rebuilding candidates over
    survivor signatures."""
    chain = minhash_cand_ctes()
    return f"""
WITH qdocs AS (
  SELECT doc_id, text, lang,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
         t -> list_contains(['the','a','and','of','to','in','is','it','for','on'], t))) AS BIGINT) AS n_stopwords,
    CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
), q AS MATERIALIZED (
  SELECT doc_id, text, lang FROM qdocs
  WHERE n_chars >= 50
    AND 100 * n_punct <= 20 * n_chars
    AND 100 * n_stopwords >= 1 * greatest(n_tokens, 1)
), surv_ids AS (
  SELECT MIN(doc_id) AS doc_id FROM q GROUP BY sha256(text)
), surv AS MATERIALIZED (
  SELECT q.doc_id, q.text, q.lang FROM q JOIN surv_ids USING (doc_id)
), {chain},
{jaccard_verify_ctes()},
survpairs AS (
  SELECT v.doc_b FROM verified v
  JOIN surv sa ON sa.doc_id = v.doc_a
  JOIN surv sb ON sb.doc_id = v.doc_b
)
SELECT s.doc_id, s.lang
FROM surv s
LEFT JOIN (SELECT DISTINCT doc_b FROM survpairs) d ON s.doc_id = d.doc_b
WHERE d.doc_b IS NULL
"""


def cc_ctes() -> str:
    """Connected components over ``verified(doc_a, doc_b)`` — the
    shared CTE chain every dedup-cluster oracle composes (a bare
    recursive min-label CTE over sf0.1's ~900k verified pairs blows
    its working-set x edges join up to 500-1500 s per oracle).

    Shape: two unrolled star-contraction rounds, then the recursive
    min-label fixpoint on the tiny residual graph.  Each contraction
    maps every vertex to min(self, neighbors) and rebuilds the
    quotient edge set — exact for any graph (the quotient's
    components are the image of the original's), and the component
    minimum m always survives as a vertex because m = min(m, N(m)).
    Dense near-dup blobs (the expensive case) collapse to a point in
    one round, so the residual recursion sees a few hundred edges
    instead of 1.8M directed ones.  The final COALESCE composes
    doc -> round-1 label -> round-2 label -> recursion root; a label
    absent from the next level is already its region's fixpoint, and
    an edge-closed single-label region is necessarily a whole
    component, so the composed label is the true component minimum.

    Ends in ``comp(doc, cluster_id)`` covering exactly the vertices
    that appear in some pair — callers LEFT JOIN documents and
    COALESCE(cluster_id, doc_id) to label singletons.  Must be
    spliced into a ``WITH RECURSIVE`` statement."""
    return f"""cc_e0 AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM verified
), cc_m1 AS MATERIALIZED (
  SELECT src AS doc, LEAST(src, MIN(dst)) AS lbl FROM cc_e0 GROUP BY src
), cc_e1 AS MATERIALIZED (
  SELECT DISTINCT la.lbl AS src, lb.lbl AS dst
  FROM cc_e0 e
  JOIN cc_m1 la ON la.doc = e.src
  JOIN cc_m1 lb ON lb.doc = e.dst
  WHERE la.lbl <> lb.lbl
), cc_m2 AS MATERIALIZED (
  SELECT src AS doc, LEAST(src, MIN(dst)) AS lbl FROM cc_e1 GROUP BY src
), cc_e2 AS MATERIALIZED (
  SELECT DISTINCT la.lbl AS src, lb.lbl AS dst
  FROM cc_e1 e
  JOIN cc_m2 la ON la.doc = e.src
  JOIN cc_m2 lb ON lb.doc = e.dst
  WHERE la.lbl <> lb.lbl
), cc_reach AS (
  SELECT doc, doc AS lbl
  FROM (SELECT src AS doc FROM cc_e2 UNION SELECT dst FROM cc_e2)
  UNION
  SELECT e.dst AS doc, r.lbl AS lbl
  FROM cc_reach r JOIN cc_e2 e ON e.src = r.doc
  WHERE r.lbl < e.dst
), cc_root AS (
  SELECT doc, MIN(lbl) AS lbl FROM cc_reach GROUP BY doc
), comp AS MATERIALIZED (
  SELECT l1.doc,
    CAST(COALESCE(r.lbl, l2.lbl, l1.lbl) AS BIGINT) AS cluster_id
  FROM cc_m1 l1
  LEFT JOIN cc_m2 l2 ON l2.doc = l1.lbl
  LEFT JOIN cc_root r ON r.doc = COALESCE(l2.lbl, l1.lbl)
)"""


def dedup_clusters_oracle() -> str:
    """Twin of dedup_clusters: the recall-tuned MinHash-LSH candidate
    chain, exact-Jaccard verification (clustering raw candidates
    would over-merge — candidate precision is only ~0.55 at this
    banding), then connected components via the shared ``cc_ctes``
    chain (star contraction + residual recursive min-label fixpoint —
    the same minimum the Spark operator's label propagation reaches).
    Singletons keep their own id via the documents LEFT JOIN."""
    chain = minhash_cand_ctes()
    return f"""
WITH RECURSIVE {chain},
{jaccard_verify_ctes()},
{cc_ctes()}
SELECT d.doc_id, CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
"""

def split_leakage_safe_oracle() -> str:
    """Twin of split_leakage_safe: the dedup_clusters component chain,
    then the train/val/test hash bucket computed on the CLUSTER id —
    the same crosshash-h32 md5 form as sample_split_assign's oracle,
    keyed by cluster so every member of a near-dup component lands in
    the same split."""
    chain = minhash_cand_ctes()
    return f"""
WITH RECURSIVE {chain},
{jaccard_verify_ctes()},
{cc_ctes()},
clusters AS (
  SELECT d.doc_id,
    CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
),
bucketed AS (
  SELECT doc_id, cluster_id,
    CAST(CAST('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 8)
         AS UBIGINT) AS BIGINT) % 100 AS sb
  FROM clusters
)
SELECT doc_id, cluster_id,
  CASE WHEN sb < 80 THEN 'train' WHEN sb < 90 THEN 'val' ELSE 'test' END AS split
FROM bucketed
"""
