"""SparkSession factory and runtime configuration defaults.

Two layers:

* builder-time confs — only for sessions this package creates itself
  (tests, bench.py). The correctness driver passes its *own* session into
  ``queries()`` callables, so nothing correctness-critical may live here.
* runtime (SQLConf) defaults — settable on ANY session at any time via
  :func:`ensure_session_defaults`; the catalog applies them before every
  read so driver-provided sessions behave identically to ours.

Scale notes (100 TB design point, local[32] test point):

* AQE is on: runtime join-strategy switching, skew-join splitting and
  partition coalescing replace hand-tuned shuffle partition counts on a
  real cluster (SURVEY.md §4 O1–O3).
* ``spark.sql.shuffle.partitions`` matches the local core count: one
  task wave per shuffle stage. An ABA-ordered sf1 matrix (r5) measured
  64 vs 32 as 0.37->0.28s on agg_groupby, 0.73->0.59s on
  llm_text_stats, neutral on join_large/dedup_lastwins — the extra
  wave is pure scheduling overhead at this data size. On a
  1000-executor cluster set ~2-3x total cores and let AQE coalesce —
  the operators themselves never depend on the value.
* The session timezone is pinned to UTC so TIMESTAMP_LTZ values coincide
  with the naive timestamps DuckDB (the correctness oracle) produces.
* ``nanosAsLong`` is required because the driver's ``events`` table is
  parquet TIMESTAMP(NANOS), which Spark 4 cannot read natively; the
  catalog converts the long back to a microsecond timestamp (lossless for
  this data — values carry exactly microsecond precision).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _local_shuffle_partitions() -> str:
    """One task wave per shuffle stage at the *actual* local core count.

    The bench driver re-runs at lower ``SPARK_GRAFT_CPUS`` to measure
    scaling; a constant (the pre-r15 hard-coded 32) forces 4 waves per
    shuffle on an 8-core run, polluting that measurement with pure
    scheduling overhead. ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides
    for cluster deployments (SCALE.md: ~2-4x total executor cores and
    let AQE coalesce).
    """
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit:
        return explicit
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)


def _default_driver_memory(phys_bytes: int) -> str:
    """Driver heap for sessions this package builds: half of physical
    memory, capped at 16g. A fixed 16g overcommits a 15 GB host;
    ``SPARK_DRIVER_MEMORY`` overrides."""
    return f"{min(phys_bytes // 2, 16 << 30) >> 20}m"


#: Confs that are runtime-settable (plain SQLConf) and required for
#: correct + fast behavior regardless of who built the session.
RUNTIME_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # events.parquet is TIMESTAMP(NANOS): read as long, convert in catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for every pandas_udf / toPandas crossing of the JVM<->Python wall;
    # bigger batches amortize the per-batch Arrow framing cost.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Arrow-batched UDTF eval (functions/udtfs.py)
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # 64 MB broadcast budget (default 10 MB): a compact 2-3 column dim of
    # a few million rows is far cheaper to broadcast than to shuffle the
    # fact side against — measured at synthesized sf1, join_large flips
    # SMJ -> BHJ and drops ~17%. On a real cluster this rides executor
    # memory (64 MB build per executor is nothing at 16 GB+); AQE still
    # downgrades when runtime stats exceed the budget.
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
}


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime defaults to an externally provided session.

    Safe to call repeatedly; silently skips confs the session refuses
    (e.g. static confs on some builds).

    ``spark.sql.shuffle.partitions`` is computed at call time, not
    frozen in RUNTIME_DEFAULTS: one wave per shuffle stage at the
    *current* ``SPARK_GRAFT_CPUS`` (the module docstring has the
    measured 64-vs-32 matrix at 32 cores). Derived, not constant, so
    the driver's lower-core bench runs keep one wave too; a cluster
    deployment overrides via ``SPARK_GRAFT_SHUFFLE_PARTITIONS``
    (SCALE.md: ~2-4x total executor cores, AQE coalesces).

    The derivation applies ONLY to local[*] masters (r15 ADVICE): on a
    small-driver/large-cluster session the driver host's cpu_count says
    nothing about executor parallelism and silently capping shuffle
    partitions at it would be a regression — there the explicit
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` env still applies, and absent
    that the cluster's own configuration is left untouched.
    """
    defaults = dict(RUNTIME_DEFAULTS)
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    try:
        master = spark.conf.get("spark.master", "")
    except Exception:  # pragma: no cover - Connect sessions hide it
        master = ""
    if explicit:
        defaults["spark.sql.shuffle.partitions"] = explicit
    elif master.startswith("local"):
        defaults["spark.sql.shuffle.partitions"] = _local_shuffle_partitions()
    for key, value in defaults.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf rejected; keep going
            pass
    return spark


def get_spark(app_name: str = "etl-verkada-spark") -> SparkSession:
    """Create (or fetch) a local session tuned for this machine.

    Honors ``SPARK_GRAFT_CPUS`` (the bench driver's thread count knob)
    and ``SPARK_DRIVER_MEMORY`` (default: half the host, at most 16g).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or _default_driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    for key, value in RUNTIME_DEFAULTS.items():
        builder = builder.config(key, value)
    return ensure_session_defaults(builder.getOrCreate())
