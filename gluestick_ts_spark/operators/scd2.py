"""Slowly-changing-dimension Type 2 history snapshots.

The reference's snapshot story is last-write-wins (``snapshotRecords``,
reference ``etl-utils.ts:258-355`` — new beats old, history discarded).
This module is the history-preserving extension an ETL platform grows
next: every attribute change CLOSES the previous version and opens a
new one, so the store answers "what did this row look like at time T"
(the Kimball SCD Type 2 pattern).

Store shape: the business columns plus

- ``valid_from`` — when this version became effective,
- ``valid_to``   — when it was superseded (NULL = still open),
- ``is_current`` — convenience flag (``valid_to IS NULL``),
- ``row_hash``   — md5 over the tracked attributes, the change
  detector (hash equality == no change, so re-delivered unchanged
  rows create no spurious versions).

The merge is ONE uniform algorithm instead of separate insert/update/
unchanged cases: for every key the batch TOUCHES, its full stored
timeline unions with the batch's versions, consecutive same-hash
versions collapse (keep the EARLIEST — re-sent unchanged rows and
replayed batches vanish here, even when the replayed version is
already closed), and ``valid_to`` is rebuilt as each version's
successor ``valid_from`` via one ``lead()`` window. Keys the batch
does NOT touch bypass the whole computation through a pk anti-join —
so the merge shuffle is ∝ (batch keys × their version counts), never
∝ total history. Applying the same batch twice is a no-op by
construction (the collapse step), which is the property that makes
re-run ETL jobs safe.

At 100 TB the untouched-history mass dominates: it flows through the
anti-join untouched but is still rewritten by the directory swap (parity
with ``snapshot_records``'s store contract). The scale path is to
partition the store by ``is_current`` / ``to_date(valid_to)`` so the
swap rewrites only the open partition — same merge algebra, different
sink layout. Late data is merged where its effective time falls; a
version older than existing CLOSED versions splices into the timeline
and the affected key's intervals are rebuilt consistently.

No reference counterpart (extension op — SURVEY §2.1 row 18's
history-preserving sibling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.fs import hadoop_path_exists, heal_dir, join_uri, replace_dir

__all__ = ["scd2_upsert", "read_scd2", "scd2_asof"]

_META_COLS = ("valid_from", "valid_to", "is_current", "row_hash")


def _scd2_path(stream: str, snapshot_dir: str) -> str:
    return join_uri(snapshot_dir, f"{stream}.scd2.parquet")


def _row_hash(cols: list[str]) -> Column:
    # null-safe, order-pinned attribute hash; \x01 separator so
    # ("ab","c") never collides with ("a","bc")
    return F.md5(
        F.concat_ws(
            "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
        )
    )


def read_scd2(
    spark: SparkSession, stream: str, snapshot_dir: str
) -> DataFrame | None:
    """The full version history, or None before the first upsert. A
    missing path is healed first (``heal_dir``): a swap that died
    halfway restores the parked history instead of reading as absent."""
    path = _scd2_path(stream, snapshot_dir)
    if not (hadoop_path_exists(spark, path) or heal_dir(spark, path)):
        return None
    return spark.read.parquet(path)


def scd2_asof(history: DataFrame, at: str | Column) -> DataFrame:
    """Point-in-time view: the version of each key effective at ``at``
    (``valid_from <= at < valid_to``, open versions unbounded)."""
    ts = F.lit(at).cast("timestamp") if isinstance(at, str) else at
    return history.where(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    ).drop("is_current")


def scd2_upsert(
    batch: DataFrame,
    stream: str,
    snapshot_dir: str,
    pk: str | list[str] = "id",
    eff_ts: str | None = None,
    track_cols: list[str] | None = None,
) -> DataFrame:
    """Merge a batch into the SCD2 history store and return the full
    post-merge history.

    ``eff_ts`` NAMES the batch column giving each row's effective
    time (a Column expression is refused — its source column could
    not be excluded from the change hash or the Type-1 carry set;
    derive expressions with ``withColumn`` first);
    ``track_cols`` are the attributes whose
    changes open a new version (default: every non-pk, non-ts
    column). Batch columns OUTSIDE ``track_cols`` (and not pk/ts) are
    carried as Type-1 attributes: they persist in the store but are
    updated IN PLACE across every version of a key to the key's
    latest effective value, and changing them alone opens no version
    (the Kimball SCD Type-2/Type-1 hybrid). A batch may carry SEVERAL
    versions of one key — they chain in ``eff_ts`` order. Rows whose
    tracked attributes equal the version they would succeed collapse
    away, so replaying a batch — or receiving unchanged full-table
    re-syncs — never grows the store.
    """
    pks = [pk] if isinstance(pk, str) else list(pk)
    if eff_ts is None:
        raise ValueError("scd2_upsert: eff_ts is required (no wall-clock reads)")
    ts_col, ts_name, attrs, carry = _scd2_cols(batch, pks, eff_ts, track_cols)
    spark = batch.sparkSession
    path = _scd2_path(stream, snapshot_dir)

    new_versions = batch.select(
        *pks,
        *attrs,
        *carry,
        ts_col.cast("timestamp").alias("valid_from"),
        _row_hash(attrs).alias("row_hash"),
        F.lit(1).alias("__src"),
    )

    hist = read_scd2(spark, stream, snapshot_dir)
    result = _scd2_merge(hist, new_versions, pks, attrs, carry)
    replace_dir(spark, path, result.write.mode("overwrite").parquet)
    return spark.read.parquet(path)


def _scd2_cols(
    batch: DataFrame,
    pks: list[str],
    eff_ts: str,
    track_cols: list[str] | None,
) -> tuple[Column, str, list[str], list[str]]:
    """(ts_col, ts_name, tracked attrs, Type-1 carry columns) shared by
    the flat and partitioned upserts. ``track_cols=[]`` is honored as
    "track nothing, everything is Type-1" (``or``-style defaulting
    would silently flip it to "track everything"). ``eff_ts`` must be
    a column NAME: a Column expression hides its source column, which
    would then join the change hash (spurious versions on re-sends at
    later effective times) or be persisted as a spurious Type-1 carry
    attribute — derive expressions into a named column first
    (``withColumn``)."""
    if not isinstance(eff_ts, str):
        raise ValueError(
            "scd2 upsert: eff_ts must be a column name (str) — an "
            "expression's source columns cannot be excluded from the "
            "change hash or the carry set; derive it into a named "
            "column first (batch.withColumn('eff', <expr>))"
        )
    ts_col = F.col(eff_ts)
    ts_name = eff_ts
    attrs = (
        list(track_cols)
        if track_cols is not None
        else [c for c in batch.columns if c not in pks and c != ts_name]
    )
    carry = [
        c for c in batch.columns
        if c not in pks and c not in attrs and c != ts_name
    ]
    return ts_col, ts_name, attrs, carry


def _scd2_merge(
    hist: DataFrame | None,
    new_versions: DataFrame,
    pks: list[str],
    attrs: list[str],
    carry: list[str] | None = None,
) -> DataFrame:
    """The pure merge plan (factored so the plan-shape gate can
    inspect it before the store write): touched keys rebuild their
    full timeline, untouched keys bypass via a pk anti-join against
    the (batch-bounded, broadcastable) key set. ``carry`` columns are
    Type-1: per touched key, the value at the latest ``(valid_from,
    __src)`` wins and overwrites every version (a batch-keyed
    aggregate + join — batch-bounded like the rebuild itself)."""
    carry = list(carry or [])
    if hist is not None:
        stored_extras = [
            c for c in hist.columns
            if c not in pks and c not in attrs and c not in _META_COLS
        ]
        missing_from_batch = [c for c in stored_extras if c not in carry]
        if missing_from_batch:
            # overwriting stored carry values with implicit NULLs (or
            # silently dropping the column) would corrupt history;
            # demand the batch carry what the store carries
            raise ValueError(
                "scd2_upsert: batch lacks stored carry (Type-1) columns "
                f"{missing_from_batch} — include them in the batch or widen "
                "track_cols"
            )
        hist_carry = [
            c if c in hist.columns
            else F.lit(None).cast(new_versions.schema[c].dataType).alias(c)
            for c in carry
        ]
        batch_keys = new_versions.select(*pks).distinct()
        untouched = hist.join(
            F.broadcast(batch_keys), on=pks, how="left_anti"
        ).select(*pks, *attrs, *hist_carry, *_META_COLS)
        touched = hist.join(
            F.broadcast(batch_keys), on=pks, how="left_semi"
        ).select(
            *pks, *attrs, *hist_carry,
            "valid_from", "row_hash", F.lit(0).alias("__src"),
        )
        timeline = touched.unionByName(new_versions)
    else:
        untouched = None
        timeline = new_versions

    # per-key timeline: existing open version first on ties so an
    # equal-timestamp batch change supersedes it deterministically
    w = Window.partitionBy(*pks).orderBy(
        F.col("valid_from").asc(), F.col("__src").asc()
    )
    collapsed = (
        timeline.withColumn("__prev_hash", F.lag("row_hash").over(w))
        .where(
            F.col("__prev_hash").isNull()
            | (F.col("__prev_hash") != F.col("row_hash"))
        )
        .drop("__prev_hash")
    )
    w2 = Window.partitionBy(*pks).orderBy(
        F.col("valid_from").asc(), F.col("__src").asc()
    )
    rebuilt = (
        collapsed.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__src")
        .select(*pks, *attrs, *carry, *_META_COLS)
    )
    if carry:
        # Type-1 in-place update: the latest effective carry values win
        # across the key's WHOLE rebuilt timeline. Computed over the
        # PRE-collapse timeline — a re-sent unchanged row collapses away
        # yet its (newer) carry values must still apply. One row's
        # values are taken atomically (struct max_by), so columns never
        # mix across same-key rows.
        latest = timeline.groupBy(*pks).agg(
            F.max_by(
                F.struct(*[F.col(c).alias(c) for c in carry]),
                F.struct(F.col("valid_from"), F.col("__src")),
            ).alias("__carry")
        )
        rebuilt = (
            rebuilt.drop(*carry)
            .join(latest, on=pks, how="left")
            .select(*pks, *attrs, *[F.col(f"__carry.{c}").alias(c) for c in carry],
                    *_META_COLS)
        )
    return untouched.unionByName(rebuilt) if untouched is not None else rebuilt
