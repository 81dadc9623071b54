"""Learned quality classifier — the DCLM / fastText curation stage.

Modern training-data pipelines rank documents with a LEARNED linear
classifier over hashed bag-of-words features (fastText: Joulin et al.
2016, "Bag of Tricks for Efficient Text Classification"; DCLM: Li et
al. 2024), not only rule packs.  The repo already has the rule packs
(X37 Gopher rules, the X5 quality gate) and the feature space (X60's
signed hashing trick, Weinberger et al. 2009); this module adds the
model stage, built for exact cross-engine reproducibility:

- **features**: X60's signed feature hashing — index =
  H32('f:'||tok) mod D, sign = parity of H32('s:'||tok), integer
  occurrence counts, collisions kept (signed hashing cancels
  collision bias in expectation);
- **labels**: the rule-pack quality gate
  (operators/textstats.quality_flags) as weak supervision — the
  classifier distills the rules into a dense scorer the way DCLM
  distills its seed sets into fastText;
- **trainer**: a deterministic integer PERCEPTRON (Rosenblatt 1958;
  fixed doc_id order, fixed epoch count, unit learning rate) — every
  weight and every score is an exact integer, so the DuckDB oracle
  replays scoring digit-for-digit from the same weight literals and
  training is bit-identical wherever it runs;
- **training set**: a BOUNDED driver-side slice (doc_id < n_train,
  read via a pyarrow scan of the parquet — the
  train_pq_codebooks_from_parquet precedent), so at 100 TB the
  training cost is a fixed few hundred documents while scoring stays
  a map-only, zero-shuffle, whole-stage-codegen pass over the corpus
  (broadcast weight literal + one in-row F.aggregate per document).

Reference provenance: the reference ETL (src/queries.ts) has no model
tier; this extends the engine's training-data-pipeline surface.
"""

from __future__ import annotations

import os
import re

from xero_api_etl_utilities_spark.functions.crosshash import py_h32

DIM = 256  # == plans.text_ops._FH_DIM — the X60 feature space
N_TRAIN = 400
EPOCHS = 3

_TOKEN_RE = re.compile(r"[a-z0-9]+")
# python twin of the Spark/DuckDB punct class [!-/:-@\[-`{-~]
_PUNCT = set(
    "".join(chr(c) for c in range(0x21, 0x30))  # ! .. /
    + "".join(chr(c) for c in range(0x3A, 0x41))  # : .. @
    + "".join(chr(c) for c in range(0x5B, 0x61))  # [ .. `
    + "".join(chr(c) for c in range(0x7B, 0x7F))  # { .. ~
)
_STOPWORDS = frozenset(
    ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]
)


def rule_label(text: str) -> int:
    """Python twin of the X5 quality gate (textstats.quality_flags
    with default thresholds): 1 = passes all three rules.  Integer
    cross-multiplication, no float ratios — identical decisions to
    the Spark column expressions on any input."""
    n_chars = len(text)
    n_punct = sum(1 for ch in text if ch in _PUNCT)
    toks = _TOKEN_RE.findall(text.lower())
    n_stop = sum(1 for t in toks if t in _STOPWORDS)
    return int(
        n_chars >= 50
        and 100 * n_punct <= 20 * n_chars
        and 100 * n_stop >= 1 * max(len(toks), 1)
    )


def hashed_features(text: str) -> dict[int, int]:
    """Python twin of X60's signed hashing-trick vector: sparse
    {index: signed count} over a fixed ``DIM``-slot space."""
    feats: dict[int, int] = {}
    for t in _TOKEN_RE.findall(text.lower()):
        idx = py_h32("f:" + t) % DIM
        sgn = 1 if py_h32("s:" + t) % 2 == 0 else -1
        feats[idx] = feats.get(idx, 0) + sgn
        if feats[idx] == 0:
            del feats[idx]
    return feats


def train_perceptron(examples: list[tuple[dict[int, int], int]]) -> list[int]:
    """Deterministic integer perceptron: examples in the given order,
    ``EPOCHS`` passes, unit learning rate.  predict = 1 iff the
    margin is strictly positive; on a miss the feature vector is
    added/subtracted whole (all-integer — the weights ARE the model,
    no float ever appears)."""
    w = [0] * DIM
    for _ in range(EPOCHS):
        for feats, label in examples:
            margin = sum(w[i] * v for i, v in feats.items())
            pred = 1 if margin > 0 else 0
            if pred != label:
                step = 1 if label == 1 else -1
                for i, v in feats.items():
                    w[i] += step * v
    return w


_WEIGHTS_CACHE: dict[tuple[str, int, int], list[int]] = {}


def weights_from_parquet_slice(
    sf_dir: str,
    lo: int,
    hi: int,
) -> list[int]:
    """Train the classifier from the ``lo <= doc_id < hi`` slice of
    ``<sf_dir>/documents.parquet`` — the bounded driver-side seed,
    read via pyarrow exactly like the PQ codebook trainer, so the
    Spark plan and the DuckDB oracle generator call THIS function and
    inline the identical weights.  The filter is the literal id
    predicate (not "first n rows after sort") so held-out framings —
    every doc_id outside [lo, hi) is unseen — hold on corpora with
    gapped or non-zero-based ids too.  The lo bound
    exists for the X175 lifecycle census: a later curation epoch
    re-trains on the NEXT id slice and diffs the verdicts."""
    key = (os.path.abspath(sf_dir), lo, hi)
    if key not in _WEIGHTS_CACHE:
        import pyarrow.parquet as pq

        tb = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "text"],
        )
        rows = sorted(
            (did, text)
            for did, text in zip(
                tb.column("doc_id").to_pylist(), tb.column("text").to_pylist()
            )
            if lo <= did < hi
        )
        examples = [
            (hashed_features(text or ""), rule_label(text or ""))
            for _, text in rows
        ]
        _WEIGHTS_CACHE[key] = train_perceptron(examples)
    return _WEIGHTS_CACHE[key]


def weights_from_parquet(sf_dir: str) -> list[int]:
    """The X170/X172 trainer: the ``doc_id < N_TRAIN`` seed slice —
    :func:`weights_from_parquet_slice` with lo = 0."""
    return weights_from_parquet_slice(sf_dir, 0, N_TRAIN)
