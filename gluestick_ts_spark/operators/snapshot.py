"""Incremental snapshot state: read + upsert-merge.

Parity target: ``src/etl-utils.ts``:

- ``readSnapshots`` (``etl-utils.ts:221-241``): per-stream persisted
  state at ``<dir>/<stream>.snapshot.parquet`` (preferred) else
  ``.snapshot.csv``; None when absent.
- ``snapshotRecords`` (``etl-utils.ts:258-355``): merge a new batch into
  the snapshot — concat (``:289``), optional datetime localization
  (``:278-286``), optional type coercion (``:292-316``),
  ``unique(subset=[pk], keep="last")`` (``:319``), persist, return
  merged (or just the new batch).

Spark-first design decisions (SURVEY §7 hard parts 1-2):

- **keep-"last"**: Polars keeps the last occurrence in row order; Spark
  rows are unordered. We make the only ordering the reference actually
  relies on explicit: a ``_src`` column (snapshot=0, batch=1) and a
  window ``row_number() ... ORDER BY _src DESC`` — new-beats-old,
  deterministic, one shuffle on the PK. ``dropDuplicates`` would keep an
  arbitrary row; never use it here.
- **overwrite-while-reading**: Spark can't overwrite a path it is
  scanning. Every write goes through ``sources/fs.replace_dir``: the
  new snapshot lands in ``<path>.compact-tmp``, the live one is parked
  in ``<path>.pre-compact``, the tmp is renamed into place and the
  parked copy deleted; both renames are checked and a failed second
  rename is rolled back.
- **crash heal**: a crash between the two renames leaves the snapshot
  path missing and the old rows parked. ``read_snapshots`` (and
  ``read_scd2``) call ``heal_dir`` only when the path is missing, so
  the parked snapshot is restored instead of the stream being read as
  new and every earlier row dropped; a normal read makes no extra
  filesystem call.
- **Scale**: the merge is a single shuffle on the PK; no driver
  collects. At 100 TB the snapshot would be bucketed by PK so the merge
  shuffle only moves the (small) incoming batch. The write does not
  repartition: it writes one file per partition of the frame it is
  handed (after a merge, the AQE-coalesced PK shuffle's partitions).
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.datetime_utils import localize_datetime
from ..sources.fs import hadoop_path_exists, heal_dir, join_uri, replace_dir

__all__ = ["read_snapshots", "snapshot_records", "keep_last_dedup"]

logger = logging.getLogger(__name__)

_SRC = "__gs_src"
_SEQ = "__gs_seq"


def _snapshot_paths(stream: str, snapshot_dir: str) -> tuple[str, str]:
    return (
        join_uri(snapshot_dir, f"{stream}.snapshot.parquet"),
        join_uri(snapshot_dir, f"{stream}.snapshot.csv"),
    )


def read_snapshots(
    spark: SparkSession,
    stream: str,
    snapshot_dir: str,
    **csv_options: Any,
) -> DataFrame | None:
    """Load the persisted snapshot: parquet preferred, CSV fallback,
    None when neither exists (``etl-utils.ts:221-241``).

    Existence is resolved through the Hadoop FS (``sources/fs.py``), so
    ``snapshot_dir`` may live on any scheme Spark can read — an
    ``os.path`` check on an ``s3a://``/``hdfs://`` dir is always False
    locally, which would silently treat every batch as the first. A
    missing path is first healed (``heal_dir``), so a swap that died
    halfway restores the parked snapshot instead of reading as absent."""
    pq_path, csv_path = _snapshot_paths(stream, snapshot_dir)
    if hadoop_path_exists(spark, pq_path) or heal_dir(spark, pq_path):
        return spark.read.parquet(pq_path)
    if hadoop_path_exists(spark, csv_path) or heal_dir(spark, csv_path):
        reader = spark.read.option("header", "true").option("inferSchema", "true")
        for k, v in csv_options.items():
            reader = reader.option(k, v)
        return reader.csv(csv_path)
    return None


def keep_last_dedup(
    df: DataFrame,
    keys: list[str],
    order_by: list[Any],
) -> DataFrame:
    """Keep exactly one row per key: the first under ``order_by``
    (pass descending expressions for keep-"last" semantics).

    Window ``row_number`` — NOT ``dropDuplicates`` — so the surviving
    row is deterministic (``etl-utils.ts:319`` parity; SURVEY §2 row 19).
    One shuffle on ``keys``; AQE handles skewed keys.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    rn = "__gs_rn"
    return df.withColumn(rn, F.row_number().over(w)).where(F.col(rn) == 1).drop(rn)


def _coerce_to_batch_types(merged: DataFrame, batch_schema: T.StructType) -> DataFrame:
    """Type coercion on merge (``etl-utils.ts:292-316``): for each column
    of the new batch's schema, cast the merged column — Bool stays Bool,
    Int32/Int64 normalize to Int64. Raises on impossible casts with the
    reference's message shape (``etl-utils.ts:312-314``)."""
    by_name = {f.name: f.dataType for f in batch_schema.fields}
    exprs = []
    for f in merged.schema.fields:
        want = by_name.get(f.name)
        if want is None or f.name in (_SRC, _SEQ):
            exprs.append(F.col(f.name))
            continue
        if isinstance(want, (T.IntegerType, T.ShortType, T.ByteType)):
            want = T.LongType()
        if want == f.dataType:
            exprs.append(F.col(f.name))
        else:
            try:
                exprs.append(F.col(f.name).cast(want).alias(f.name))
            except Exception as exc:  # pragma: no cover - plan-time failure
                raise RuntimeError(f"Failed to parse column '{f.name}': {exc}") from exc
    return merged.select(*exprs)


def _write_snapshot(df: DataFrame, stream: str, snapshot_dir: str, use_csv: bool) -> None:
    """Swap ``df`` in as the stream's snapshot (``replace_dir``)."""
    pq_path, csv_path = _snapshot_paths(stream, snapshot_dir)
    writer = df.write.mode("overwrite")
    if use_csv:
        replace_dir(df.sparkSession, csv_path, writer.option("header", "true").csv)
    else:
        replace_dir(df.sparkSession, pq_path, writer.parquet)


def snapshot_records(
    stream_data: DataFrame | None,
    stream: str,
    snapshot_dir: str,
    pk: str | list[str] = "id",
    just_new: bool = False,
    use_csv: bool = False,
    coerce_types: bool = False,
    localize_datetime_types: bool = False,
    overwrite: bool = False,
    spark: SparkSession | None = None,
    reject_on_drift: bool = False,
    **csv_options: Any,
) -> DataFrame | None:
    """Merge a batch into the persisted snapshot (``etl-utils.ts:258-355``).

    Returns the merged DataFrame (re-read from the freshly written
    snapshot so downstream plans don't depend on the pre-swap files), or
    just the new batch when ``just_new``; mirrors the reference's
    null-handling branches exactly.

    ``reject_on_drift=True`` (extension, default off to preserve parity
    semantics) gates the merge through ``assert_no_drift``: a BREAKING
    (non-widening) type change between the persisted snapshot and the
    incoming batch raises with the full drift report BEFORE anything is
    written, instead of surfacing later as coercion nulls or an
    AnalysisException mid-merge. Pure metadata — no extra Spark jobs.
    """
    keys = [pk] if isinstance(pk, str) else list(pk)
    if spark is None:
        spark = (
            stream_data.sparkSession
            if stream_data is not None
            else SparkSession.getActiveSession()
        )
    snapshot = (
        read_snapshots(spark, stream, snapshot_dir, **csv_options)
        if spark is not None
        else None
    )
    if reject_on_drift and snapshot is not None and stream_data is not None:
        from ..functions.schema_drift import assert_no_drift

        assert_no_drift(snapshot.schema, stream_data.schema)
    if snapshot is None and stream_data is not None:
        # First sight of the stream: the batch IS the snapshot
        # (etl-utils.ts:336-347).
        _write_snapshot(stream_data, stream, snapshot_dir, use_csv)
        return _reread(stream_data.sparkSession, stream, snapshot_dir, use_csv, csv_options)

    if stream_data is None:
        # No new data (etl-utils.ts:350-354).
        if just_new or overwrite:
            return None
        return snapshot

    if overwrite:
        _write_snapshot(stream_data, stream, snapshot_dir, use_csv)
        merged = _reread(stream_data.sparkSession, stream, snapshot_dir, use_csv, csv_options)
        return stream_data if just_new else merged

    # -- merge path (snapshot exists, new data exists) ----------------------
    batch = stream_data
    if localize_datetime_types:
        # Localize every timestamp-typed column of either side
        # (etl-utils.ts:278-286) — single select per side.
        def _localize(df: DataFrame) -> DataFrame:
            ts_cols = {f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampType)}
            if not ts_cols:
                return df
            return df.select(
                *[
                    localize_datetime(df, c).alias(c) if c in ts_cols else F.col(c)
                    for c in df.columns
                ]
            )

        snapshot = _localize(snapshot)
        batch = _localize(batch)

    old = snapshot.withColumn(_SRC, F.lit(0)).withColumn(_SEQ, F.lit(0).cast("long"))
    new = batch.withColumn(_SRC, F.lit(1)).withColumn(
        # Tie-break WITHIN the batch: the reference's behavior is
        # nondeterministic there (maintainOrder:false); we document a
        # deterministic choice instead (SURVEY §7 hard part 1).
        _SEQ,
        F.monotonically_increasing_id(),
    )
    merged = old.unionByName(new, allowMissingColumns=True)

    if coerce_types:
        merged = _coerce_to_batch_types(merged, batch.schema)

    deduped = keep_last_dedup(
        merged,
        keys,
        order_by=[F.col(_SRC).desc(), F.col(_SEQ).desc()],
    ).drop(_SRC, _SEQ)

    _write_snapshot(deduped, stream, snapshot_dir, use_csv)

    if just_new:
        return stream_data
    return _reread(stream_data.sparkSession, stream, snapshot_dir, use_csv, csv_options)


def _reread(
    spark: SparkSession,
    stream: str,
    snapshot_dir: str,
    use_csv: bool,
    csv_options: dict[str, Any],
) -> DataFrame:
    df = read_snapshots(spark, stream, snapshot_dir, **csv_options)
    assert df is not None
    return df
