"""CDC upsert/delete merge: collapse a base snapshot + change batches
into the latest-wins snapshot (the MERGE INTO / SCD-type-1 shape; the
reference's analog is the create-or-update invoice push,
src/apiFunctions.ts:69-72 — `createInvoices`/`createCreditNotes`
update-when-exists against the remote ledger, re-expressed here as one
declarative merge over the union of snapshot and deltas).

Scale design: the merge is ONE hash aggregation — ``max_by(struct(*),
version)`` per key — not a window sort.  Both shapes shuffle once on
the key, but the aggregate form gets map-side partial aggregation
(each task pre-collapses its local versions of a key), so the shuffle
carries at most one row per key per task instead of every version of
every key; on a 100 TB base + small delta that is the difference
between shuffling the table and shuffling the delta.  Deletes ride the
same path as tombstone rows filtered AFTER the collapse — a delete
only wins if it is the latest version, exactly MERGE semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_latest(
    changes: DataFrame,
    key_cols: list[str],
    version_col: str,
    delete_col: str,
) -> DataFrame:
    """Collapse ``changes`` (base ∪ deltas, one row per key-version) to
    the highest-version row per key; rows whose winning version has the
    boolean ``delete_col`` true are dropped from the snapshot.

    ``version_col`` must be totally ordered within a key (ties would
    make the winner nondeterministic — callers supply e.g. a batch
    sequence number or commit timestamp).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    collapsed = changes.groupBy(*key_cols).agg(
        F.max_by(F.struct(*payload), F.col(version_col)).alias("_w")
    )
    out = collapsed.select(*key_cols, "_w.*")
    return out.filter(~F.col(delete_col)).drop(delete_col).drop(version_col)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    null_safe: bool | None = None,
) -> DataFrame:
    """Inverse of the CDC apply: derive the change set between two
    snapshot versions — one row per differing key with change_type in
    {'added', 'removed', 'changed'} and the NEW payload (NULLs for
    removed keys). Unchanged keys produce nothing.

    Shape: ONE full-outer join on the key; payload comparison is a
    null-safe struct equality (<=>) so NULL payload fields compare as
    equal-to-NULL instead of unknown — with plain = a NULL field
    would misclassify every such row as changed. Presence on each side
    is tracked with literal marker columns rather than key nullness:
    the join deliberately matches NULL keys across sides (eqNullSafe),
    so a genuinely-NULL key value present in both snapshots must not
    read as 'added'. At 100 TB both sides shuffle once on the same
    key; if the snapshots were written bucketed by the key
    (sources/writer.write_bucketed_table) the exchange disappears
    entirely — PROVIDED the key columns are declared non-nullable.
    Null-safe equality on a nullable key is planned with rewritten
    join keys (coalesce/isnull wrappers), and a bucket layout on the
    raw column cannot satisfy a distribution on those expressions, so
    Spark re-shuffles both sides. The condition below therefore uses
    plain equality per key wherever BOTH schemas declare the key
    non-nullable (identical semantics — no NULLs exist to match) and
    keeps eqNullSafe only for genuinely nullable keys.

    ``null_safe`` overrides the schema-driven choice: file-backed
    catalog tables read back every column as nullable (Spark drops
    nullability through saveAsTable round trips), so a caller whose
    keys are non-null BY CONTRACT — the normal CDC situation, and the
    only way bucketed snapshots elide the exchange — passes
    ``null_safe=False``. With that assertion a genuinely-NULL key
    would mis-diff as one 'removed' + one 'added' row; that is the
    caller's contract to keep, exactly as in a table format's MERGE.
    tools/explain_audit.py asserts the zero-Exchange plan on bucketed
    tables with ``null_safe=False``."""
    if null_safe is None:
        nullable = {
            k: any(df.schema[k].nullable for df in (old, new)) for k in key_cols
        }
    else:
        nullable = {k: null_safe for k in key_cols}
    payload = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *[F.col(c).alias(f"_o_{c}") for c in key_cols],
        F.struct(*payload).alias("_o_p"),
        F.lit(True).alias("_o_present"),
    )
    n = new.select(
        *key_cols, F.struct(*payload).alias("_n_p"), F.lit(True).alias("_n_present")
    )
    cond = [
        n[k].eqNullSafe(o[f"_o_{k}"]) if nullable[k] else n[k] == o[f"_o_{k}"]
        for k in key_cols
    ]
    joined = n.join(o, cond, "full_outer")
    change = (
        F.when(F.col("_o_present").isNull(), F.lit("added"))
        .when(F.col("_n_present").isNull(), F.lit("removed"))
        .when(~F.col("_n_p").eqNullSafe(F.col("_o_p")), F.lit("changed"))
    )
    keys_out = [
        F.coalesce(n[k], o[f"_o_{k}"]).alias(k) for k in key_cols
    ]
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys_out, "change_type", F.col("_n_p").alias("new_payload"))
    )
