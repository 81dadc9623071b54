"""EP1 — the daily import run, end-to-end (SURVEY.md §3).

The reference's `main(entity)` call graph
(/root/reference/src/main.ts:7-38) as ONE lazy Spark DAG:

    grid → parse (S2/S3/W1) → balance check (A6/Q3-soft)
         → verify vs charge table (J1 + J2 customer join)
         → unverified gate (Q3-hard)
         → document assembly (P9/P12/F6/F15/D2, P10 side-output)
         → idempotent REST sink + JSON audit (S8/S11)

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
    parse_charges,
    summarize_charges,
)
from xero_api_etl_utilities_spark.operators.quality import (
    all_true,
    enforce_empty,
    require_nonempty,
)
from xero_api_etl_utilities_spark.operators.reconcile import reconcile
from xero_api_etl_utilities_spark.plans.documents_out import (
    assemble_documents,
    documents_to_json,
    validate_required,
)
from xero_api_etl_utilities_spark.sources.rest import post_documents


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


def fan_out(df: DataFrame, consumers: dict, storage_level=None) -> dict:
    """D4: multi-query fan-out over one shared source — the engine
    form of the reference's ``Promise.all`` of 5 reads over the same
    date (src/queries.ts:55-121).

    The shared upstream is persisted and force-materialized ONCE, every
    consumer runs against the cached frame (InMemoryTableScan, no
    re-scan of the source), and the cache is released afterwards.
    Consumers must materialize their result (collect/write/count);
    a consumer returning a lazy DataFrame still computes correctly but
    re-plans from source once the cache is gone.
    """
    cached = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    try:
        cached.count()
        return {name: fn(cached) for name, fn in consumers.items()}
    finally:
        cached.unpersist()


def run_daily_import(
    grid: DataFrame,
    charge_table: DataFrame,
    customer_dim: DataFrame,
    config: EntityConfig,
    strict: bool = True,
) -> dict[str, DataFrame]:
    """Execute the EP1 flow; returns every intermediate DataFrame for
    auditing (the S11 log surface). Raises QualityGateError when the
    unverified gate trips (strict) — the src/helpers.ts:212-214 abort.

    ``charge_table`` columns: date, amount, customer_id, seq_no,
    terminal_id, tran_timestamp. ``customer_dim``: customer_id,
    xero_id, terms_type, terms_days.

    Cache ownership: this function caches ``grid`` so that the gates
    and the reconcile join decode the workbook once, and releases that
    cache before it returns or raises.  A grid the caller has cached
    already is used as it is and left cached.  On return the caller
    owns the persisted ``matched`` frame and must ``unpersist()`` it;
    ``payloads`` and ``documents`` read it.  ``charges``, ``summary``
    and ``unverified`` stay lazy over the grid, so reading them after
    the return decodes the workbook again.  When a gate raises, nothing
    this function cached stays cached.
    """
    owns_grid_cache = grid.storageLevel == StorageLevel.NONE
    if owns_grid_cache:
        grid = grid.persist(StorageLevel.MEMORY_AND_DISK)
    matched = None
    try:
        charges = parse_charges(grid)
        require_nonempty(charges, "parsed charges")

        summary = summarize_charges(grid, charges)
        # soft gate: warn-equivalent — surfaced as a flag, run continues
        # (src/helpers.ts:188-198)
        balanced = all_true(summary, "is_balanced")

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
        # Every matched buffer must be loaded before the grid cache goes:
        # unpersisting the grid re-plans each dependent cache whose
        # buffers are not loaded yet, back onto a fresh decode.  The
        # hard gate loads them all (it broadcasts the keys of matched).
        if strict:
            enforce_empty(unverified, "unverified charges")  # hard gate Q3
        else:
            matched.count()
    except BaseException:
        if matched is not None:
            matched.unpersist()
        raise
    finally:
        if owns_grid_cache:
            grid.unpersist()

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


def deliver(payloads: DataFrame, config: EntityConfig) -> None:
    """S8: idempotent batched POST via the entity's transport root."""
    from xero_api_etl_utilities_spark.sources.rest import LocalJsonTransport

    root = config.transport_root
    post_documents(payloads, lambda: LocalJsonTransport(root))
