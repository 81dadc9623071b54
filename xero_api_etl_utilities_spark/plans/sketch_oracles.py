"""DuckDB oracle SQL generators for the sketch/ANN catalog queries.

Round 1 left five queries rows-only ("xxhash64 has no DuckDB twin").
Round 2 removed the excuse: the sketch operators now hash with
crosshash (md5-derived — bit-identical in Spark, DuckDB and python),
so each oracle below RE-RUNS THE FULL ALGORITHM in DuckDB SQL — a
strictly stronger check than the set-containment fallback:

- MinHash signatures, LSH banding, the stop-bucket guard and the
  candidate self-join are pure integer math → exactly reproducible.
- SimHash fingerprints/pairs are integer bit math → exactly
  reproducible (two's-complement assembly via HUGEINT).
- Hyperplane-LSH and IVF top-k involve float dot products; bucket
  signs / centroid argmax / rank boundaries were verified to have
  ≥1e-4 margins on this corpus — ten orders above cross-engine
  double-rounding noise — so the discrete outputs (ids, ranks) are
  engine-stable. Plane and centroid literals are inlined via repr()
  (shortest round-trip, parsed back to the identical double).

The SQL strings are long (64 minhash permutations, 64 simhash bit
sums) but machine-generated from the same parameters the Spark plans
use — single source of truth for coefficients, planes, centroids.
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

def minhash_lsh_oracle(
    n_hashes: int = 64,
    seed: int = 42,
    bands: int = 8,
    rows_per_band: int = 8,
    max_bucket: int = 500,
    source: str = "documents",
) -> str:
    """Twin of dedup_minhash_lsh: token (1-gram) shingles → md5-based
    32-bit hash mod P → 64 universal-hash minima → per-band h32 of the
    '|'-joined slots → stop-bucket filter → candidate equi-join.
    ``source`` is the doc relation (table or CTE name with
    doc_id/text columns) — lets composed pipelines reuse the twin over
    a filtered corpus."""
    return (
        "WITH "
        + minhash_cand_ctes(n_hashes, seed, bands, rows_per_band, max_bucket, source)
        + "\nSELECT doc_a, doc_b FROM cand"
    )


def band_catalog_ctes(
    n_hashes: int = 64,
    seed: int = 42,
    bands: int = 8,
    rows_per_band: int = 8,
    source: str = "documents",
) -> str:
    """The MinHash → banding CTE prefix ending in
    ``banded(doc, band, bh)`` — the full-corpus band CATALOG before any
    stop-bucket policy.  Extracted from :func:`minhash_cand_ctes` (which
    composes it with the bucket guard and candidate join) so catalog-
    maintenance oracles (wave14 X176 absorb-vs-rebuild) can census the
    catalog itself without dragging an unreferenced ``cand`` self-join
    into the statement."""
    coeffs = minhash_coeffs(n_hashes, seed)
    mins = ",\n    ".join(
        f"MIN((hx * {a} + {b}) % {_P}) AS mh_{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc, {b} AS band, CAST({h} AS BIGINT) AS bh FROM sigs".format(
            b=b,
            h=h32_sql(
                "concat_ws('|', "
                + ", ".join(
                    f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
                )
                + ")"
            ),
        )
        for b in range(bands)
    )
    # AS MATERIALIZED (VERDICT r12 item 3): DuckDB 1.0 inlines CTEs at
    # every reference site — ``sigs`` is referenced once PER BAND in
    # the UNION ALL below ({bands}x), and ``toks`` again by the verify
    # CTEs, so without the hint a composed oracle re-runs the corpus
    # minhash pass per band per outer reference (the r12 full gate
    # measured pipeline_curation_report at ~55 min of pure DuckDB time
    # from exactly this).  Results are byte-identical; only the
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


def minhash_cand_ctes(
    n_hashes: int = 64,
    seed: int = 42,
    bands: int = 8,
    rows_per_band: int = 8,
    max_bucket: int = 500,
    source: str = "documents",
) -> str:
    """The MinHash+LSH CTE chain ending in ``cand(doc_a, doc_b)`` —
    composable into larger oracle statements."""
    return f"""{band_catalog_ctes(n_hashes, seed, bands, rows_per_band, source)}, lshkept AS MATERIALIZED (
  SELECT doc, band, bh FROM banded
  QUALIFY COUNT(*) OVER (PARTITION BY band, bh) <= {max_bucket}
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


def containment_verify_ctes(min_cont_num: int = 9, min_cont_den: int = 10) -> str:
    """Exact-containment verification of the ``cand`` pairs — the
    sub/superset near-dup rule: |A∩B| ≥ τ·min(|A|,|B|). Reuses the
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
    AND {min_cont_den} * v.inter_size >= {min_cont_num} * LEAST(sa.sz, sb.sz)
)"""


def containment_pairs_oracle(
    bands: int = 16, rows_per_band: int = 4, max_bucket: int = 500
) -> str:
    """Twin of dedup_containment: the same recall-tuned LSH candidate
    chain as dedup_verified_pairs, closed with the containment rule
    instead of Jaccard."""
    return (
        "WITH "
        + minhash_cand_ctes(bands=bands, rows_per_band=rows_per_band, max_bucket=max_bucket)
        + ",\n"
        + containment_verify_ctes()
        + "\nSELECT doc_a, doc_b, inter_size, min_size FROM contained"
    )


def verified_pairs_oracle(
    bands: int = 16, rows_per_band: int = 4, max_bucket: int = 500
) -> str:
    """Twin of dedup_verified_pairs: recall-tuned LSH candidates
    ((1/16)^(1/4) = 0.5 band threshold, measured 0.998 recall at the
    0.7 dedup target — tools/lsh_sweep.py) then exact-Jaccard
    verification."""
    return (
        "WITH "
        + minhash_cand_ctes(bands=bands, rows_per_band=rows_per_band, max_bucket=max_bucket)
        + ",\n"
        + jaccard_verify_ctes()
        + "\nSELECT doc_a, doc_b, inter_size, union_size FROM verified"
    )


# ---------------------------------------------------------------- simhash

def _simhash_ctes(table: str = "documents") -> str:
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
  FROM {table}, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(tok)
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


def simhash_pairs_oracle(max_hamming: int = 3, max_bucket: int = 2000) -> str:
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
  QUALIFY COUNT(*) OVER (PARTITION BY b.band, (fp >> (16 * b.band)) & 65535) <= {max_bucket}
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.doc < b.doc
) WHERE hamming <= {max_hamming}
"""
    )


# ---------------------------------------------------------------- ANN

def _vec_lit(v: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in v) + "]"


def topk_lsh_oracle(
    k: int = 5, n_planes: int = 4, n_tables: int = 4, dim: int = 64
) -> str:
    """Twin of similarity_topk_lsh: per-table sign-bit bucket ids from
    the SAME inlined hyperplanes, candidate equi-joins unioned across
    tables, exact cosine rank within the candidate set."""
    table_selects = []
    for t in range(n_tables):
        planes = hyperplanes(n_planes, dim, seed=7 + t)
        bucket = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_vec_lit(p)}) >= 0"
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
FROM ranked WHERE rank <= {k}
"""


def topk_ivf_oracle(k: int = 5, nprobe: int = 4) -> str:
    """Twin of similarity_topk_ivf. Centroids are re-trained by the
    Sparkless twin (pyarrow read ordered by vec_id + the same numpy
    k-means core) from the parquet the driver's gate runs against
    (:func:`catalog.oracle_sf_dir`), so the inlined literals are
    bit-identical to the plan's. Cell
    choice mirrors reverse(array_sort(struct(d, cell))) including the
    (unreachable, margin-checked) tie-break via struct list_sort."""
    from xero_api_etl_utilities_spark.operators.ivf import train_centroids_from_parquet

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), k=16, iters=4, sample=1000
    )
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), corpus AS (
  SELECT vec_id, v, ({cells})[1] AS cell FROM e
), probes AS (
  SELECT vec_id, UNNEST(({cells})[1:{nprobe}]) AS cell
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
FROM ranked WHERE rank <= {k}
"""


def range_search_ivf_oracle(tau: float = 0.30, nprobe: int = 4) -> str:
    """Twin of similarity_range_search: same bit-identical centroid
    literals and cell chain as :func:`topk_ivf_oracle`, but the
    verdict is the cosine-radius SET (s >= tau) instead of a rank cut
    — tau margin measured >= 2.2e-5 on every test sf."""
    from xero_api_etl_utilities_spark.operators.ivf import train_centroids_from_parquet

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), k=16, iters=4, sample=1000
    )
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), corpus AS (
  SELECT vec_id, v, ({cells})[1] AS cell FROM e
), probes AS (
  SELECT vec_id, UNNEST(({cells})[1:{nprobe}]) AS cell
  FROM e WHERE vec_id < 20
)
SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
FROM probes p
JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.vec_id
JOIN e eq ON eq.vec_id = p.vec_id
WHERE list_cosine_similarity(eq.v, c.v) >= {tau!r}
ORDER BY query_id, neighbor_id
"""


def cluster_assign_oracle() -> str:
    """Twin of cluster_assign: nearest-centroid id per vector, same
    bit-identical centroid literals as :func:`topk_ivf_oracle`."""
    from xero_api_etl_utilities_spark.operators.ivf import train_centroids_from_parquet

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(
        os.path.join(sf_dir, "embeddings.parquet"), k=16, iters=4, sample=1000
    )
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
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

    r12: the pair set is the FULL-CORPUS verified-pair chain
    restricted to both-survivor pairs — the exact composition the
    Spark side runs now that the pipeline rides the shared
    _verified_pairs substrate (one LSH+verify per session) instead of
    rebuilding candidates over survivor signatures."""
    chain = minhash_cand_ctes(bands=16, rows_per_band=4)
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


def cc_ctes(pairs: str = "verified") -> str:
    """Connected components over ``{pairs}(doc_a, doc_b)`` — the
    shared CTE chain every dedup-cluster oracle composes (VERDICT r13
    item 1: six oracles each replayed min-label propagation as a bare
    recursive CTE; on sf0.1's ~900k verified pairs the recursion's
    working-set x edges join exploded to 500-1500 s PER ORACLE).

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
  SELECT doc_a AS src, doc_b AS dst FROM {pairs}
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM {pairs}
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
    chain = minhash_cand_ctes(
        n_hashes=64, seed=42, bands=16, rows_per_band=4, max_bucket=500
    )
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
    chain = minhash_cand_ctes(
        n_hashes=64, seed=42, bands=16, rows_per_band=4, max_bucket=500
    )
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
