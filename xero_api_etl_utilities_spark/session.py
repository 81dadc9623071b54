"""SparkSession builder tuned for this engine.

Local test posture is ``local[N]`` but every setting is chosen for the
1000-executor / 100 TB target:

- AQE on (runtime coalesce, skew-join split, broadcast demotion),
- shuffle partitions sized so a partition fits executor memory,
- Arrow enabled for the few Pandas-UDF operators,
- session timezone pinned (the reference mixes local-zone math and UTC
  slicing — see /root/reference/src/helpers.ts:262; we normalize to one
  session zone, Australia/Brisbane, per its UTC+10 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference hard-codes a UTC+10 offset (src/helpers.ts:13,262).
SESSION_TZ = "Australia/Brisbane"


def get_spark(
    app_name: str = "xero-api-etl-utilities-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``). On a real cluster, pass ``master=None`` after setting
    the usual submit-time configuration; every conf here is cluster-safe.

    Fault tolerance has one setting, Spark's own ``spark.checkpoint.dir``
    (in ``extra_conf`` or at submit time).  With it set to reliable
    storage, every lineage cut (:func:`operators.materialize.materialize`)
    checkpoints there and survives executor loss; without it the cuts
    are executor-local.  A reliable checkpoint is removed once its frame
    is garbage-collected, so memos and iterative rounds do not pile up
    in that directory over a long run.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # Local: match cores so one wave of tasks covers the shuffle.
        # On a cluster this would be ~2-3x total cores (or left to AQE
        # coalescing from a high initial number).
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", SESSION_TZ)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # broadcast-join conversion from runtime stats.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas_udf / mapInPandas / toPandas interchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast dimensions aggressively; all dims here are tiny
        # relative to facts (region/nation/customer vs lineitem).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Stable timestamp semantics for parquet written by other tools.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Don't let tiny test files fragment into thousands of splits,
        # and don't let 100 TB scans under-split either: 128m is the
        # parquet row-group sweet spot.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Remove a checkpoint's files once its RDD is unreachable.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _quiet_benign_window_warning(spark)
    return spark


def _quiet_benign_window_warning(spark: SparkSession) -> None:
    """Raise the WindowExec logger to ERROR, scoped to that one class.

    The engine's only unpartitioned window (window_share_of_total) runs
    over a 25-row aggregate — the stage the warning exists to flag
    never sees fact-table data, but the per-task WARN flooded the r3
    bench tail and buried real warnings. A literal partition key can't
    silence it (the optimizer folds it back to the empty spec), and
    sc.setLogLevel would mute EVERYTHING; the scoped log4j2 override
    mutes exactly this logger. Plan-quality enforcement lives in
    tools/explain_audit.py, which still asserts no unpartitioned
    window ever touches a fact table."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 logging backends: the warning is only noise
