"""SparkSession factory for the engine.

Design notes (scale-first):

- Session timezone pinned to UTC: the reference localizes datetimes to
  ``Datetime(ms, "UTC")`` (reference ``src/etl-utils.ts:205-208``); Spark's
  ``TimestampType`` is session-TZ-relative, so UTC makes formatting
  deterministic and parity-exact.
- AQE on: runtime re-planning (coalesce shuffle partitions, skew-join
  splitting, dynamic broadcast conversion) is the single biggest lever for
  a plan that must survive 100 TB without hand-tuning.
- Arrow on: every pandas-UDF boundary (the only Python hot paths we allow)
  moves data as Arrow batches, not pickled rows.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster this is overridden by AQE coalescing anyway
  (``spark.sql.adaptive.coalescePartitions.enabled``).
- ANSI mode pinned on: it is Spark 4.1's default, written out so cast
  and overflow semantics (errors, not silent NULLs; ``size(NULL)`` is
  NULL) do not rest on the engine default.
- Case mapping on the JVM (``spark.sql.icu.caseMappings.enabled=false``):
  Spark 4.1's default routes ``lower``/``upper`` of non-ASCII text through
  ICU, whose first use in a fresh JVM costs about 1.5 s of wall time on
  4 cores, paid by the first text rule of every job. The JDK tables
  (Unicode 13 on Java 17) map every code point the same way except the
  67 letters added in Unicode 14-16 (e.g. Vithkuqi), which stay
  unmapped. ``extra_conf`` switches ICU back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONFIG"]

DEFAULT_CONFIG: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.icu.caseMappings.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + pushdown are on by default; keep
    # them explicit so a misconfigured cluster profile can't silently
    # disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Timestamps written by us should survive engine round-trips.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def get_spark(
    app_name: str = "gluestick-ts-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var is
    set, else ``local[*]``. On a real cluster, pass ``master=None`` and set
    the master via spark-submit; the conf defaults still apply.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    n_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    conf = dict(DEFAULT_CONFIG)
    conf["spark.sql.shuffle.partitions"] = n_shuffle
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
