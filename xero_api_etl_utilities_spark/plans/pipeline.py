"""EP1 — the daily import run, end-to-end (SURVEY.md §3).

The reference's `main(entity)` call graph (src/main.ts:7-38) as one
Spark DAG over one cached parse of the day:

    grid → tag rows (S2/S3/W1, one src_file exchange)  [cached]
         → non-empty + balance gates (Q1, A6/Q3-soft: one action)
         → verify charges vs charge table (J1)
         → unverified gate (Q3-hard)
         → customer join (J2), document assembly
           (P9/P12/F6/F15/D2, P10 side-output)
         → JSON payloads (S11)

The caller delivers the payloads with ``sources/rest.post_documents``
(S8: batched, idempotent on the document reference).

The reference's entity routing (`pw`/`wb` selecting log path, DB URL
and tenant — src/helpers.ts:20-46, src/server.ts:7) becomes the
``EntityConfig`` dataclass: configuration, not dataflow.

The N+1 verification loop is a broadcast join; `Promise.all` is just
DAG laziness; runtime audit gates raise ``QualityGateError`` exactly
where the reference throws (src/helpers.ts:200-214).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from xero_api_etl_utilities_spark.operators.daydocket import (
    charges_from_tagged,
    day_gates,
    summary_from_tagged,
    tag_day_rows,
)
from xero_api_etl_utilities_spark.operators.quality import (
    QualityGateError,
    enforce_empty,
)
from xero_api_etl_utilities_spark.operators.reconcile import reconcile
from xero_api_etl_utilities_spark.plans.documents_out import (
    assemble_documents,
    documents_to_json,
    validate_required,
)


@dataclass(frozen=True)
class EntityConfig:
    """Per-entity routing (src/helpers.ts:20-46): identifiers only —
    credentials/URLs live in job config, never in the dataflow."""

    entity: str  # "pw" | "wb"
    transport_root: str
    expense_gl_code: str = "6000"


class ConfigError(ValueError):
    """Q5: invalid job configuration — reported before any dataflow
    starts (the reference validates its env/entity switch at startup,
    src/helpers.ts:20-46; a bad entity there silently falls through)."""


def validate_entity_config(config: EntityConfig) -> EntityConfig:
    """Q5 gate: fail fast with EVERY problem listed, not just the
    first — a driver-side pre-flight, zero cluster work."""
    problems = []
    if config.entity not in ("pw", "wb"):
        problems.append(f"entity must be 'pw' or 'wb', got {config.entity!r}")
    if not config.transport_root or not str(config.transport_root).strip():
        problems.append("transport_root must be a non-empty path/URL")
    if not (config.expense_gl_code.isdigit() and len(config.expense_gl_code) == 4):
        problems.append(
            f"expense_gl_code must be a 4-digit GL code, got {config.expense_gl_code!r}"
        )
    if problems:
        raise ConfigError("; ".join(problems))
    return config


def run_daily_import(
    grid: DataFrame,
    charge_table: DataFrame,
    customer_dim: DataFrame,
    config: EntityConfig,
    strict: bool = True,
) -> dict[str, DataFrame]:
    """Execute the EP1 flow; returns every intermediate DataFrame for
    auditing (the S11 log surface). Raises QualityGateError when the
    workbooks parse to no charge, and when the unverified gate trips
    (strict) — the src/helpers.ts:212-214 abort.

    ``charge_table`` columns: date, amount, customer_id, seq_no,
    terminal_id, tran_timestamp. ``customer_dim``: customer_id,
    xero_id, terms_type, terms_days.

    Cache ownership: this function caches the tagged rows of ``grid``
    (``tag_day_rows``: one parse of every workbook) so that both gates,
    the reconcile probe and the unverified anti-join read one decode of
    the workbook, and releases that cache before it returns or raises.
    ``grid`` itself is never cached or released here, so a grid the
    caller has cached stays cached.  On return the caller owns the
    persisted ``matched`` frame and must ``unpersist()`` it;
    ``payloads`` and ``documents`` read it.  ``charges``, ``summary``
    and ``unverified`` stay lazy, so reading them after the return
    decodes the workbook again.  When a gate raises, nothing this
    function cached stays cached.
    """
    tagged = tag_day_rows(grid).persist(StorageLevel.MEMORY_AND_DISK)
    matched = None
    try:
        # both gates in one action: the non-empty gate (Q1, abort on
        # a day with no charge) and the soft balance gate,
        # warn-equivalent — surfaced as a flag, the run continues
        # (src/helpers.ts:188-198)
        gates = day_gates(tagged).first()
        if not gates["n_charges"]:
            raise QualityGateError("quality gate: parsed charges is empty")
        balanced = gates["all_balanced"] is not False

        charges = charges_from_tagged(tagged)
        summary = summary_from_tagged(tagged)
        probe = charges.select(
            "date",
            F.round(F.col("amount"), 2).alias("amount"),  # probe-side 2dp rule
            "customer_id",
            "seq_no",
            "notes",
            "section",
        )
        # persist_matched: the pipeline consumes BOTH halves (the gate reads
        # unverified, the document path reads matched) — caching matched
        # makes that exactly one pass over the charge fact table.
        matched, unverified = reconcile(
            probe,
            charge_table,
            on=["date", "amount", "customer_id", "seq_no"],
            persist_matched=True,
        )
        # Every matched buffer must be loaded before the tagged cache
        # goes: unpersisting it re-plans each dependent cache whose
        # buffers are not loaded yet, back onto a fresh decode.  The
        # hard gate loads them all (it broadcasts the keys of matched).
        if strict:
            enforce_empty(unverified)  # hard gate Q3
        else:
            matched.count()
    except BaseException:
        if matched is not None:
            matched.unpersist()
        raise
    finally:
        tagged.unpersist()

    enriched = matched.join(F.broadcast(customer_dim), "customer_id", "left")
    ok_rows, invalid_rows = validate_required(enriched)
    docs = assemble_documents(ok_rows)
    payloads = documents_to_json(docs)

    return {
        "charges": charges,
        "summary": summary,
        "matched": matched,
        "unverified": unverified,
        "invalid": invalid_rows,
        "documents": docs,
        "payloads": payloads,
        "all_balanced": balanced,  # type: ignore[dict-item]
    }

