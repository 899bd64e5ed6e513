"""Snapshot upsert tests (SURVEY §2 rows 17-22): keep-last semantics,
coercion, idempotence, overwrite, atomic swap."""

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from gluestick_ts_spark.operators.snapshot import (
    keep_last_dedup,
    read_snapshots,
    snapshot_records,
)
from pyspark.sql import functions as F


def _df(spark, rows, schema="id long, v string"):
    return spark.createDataFrame(rows, schema)


def test_first_batch_becomes_snapshot(spark, tmp_path):
    d = str(tmp_path)
    batch = _df(spark, [(1, "a"), (2, "b")])
    out = snapshot_records(batch, "s", d, pk="id")
    assert sorted((r["id"], r["v"]) for r in out.collect()) == [(1, "a"), (2, "b")]
    assert read_snapshots(spark, "s", d) is not None


def test_merge_new_beats_old(spark, tmp_path):
    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "old"), (2, "keep")]), "s", d, pk="id")
    out = snapshot_records(_df(spark, [(1, "new"), (3, "add")]), "s", d, pk="id")
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "add"}


def test_merge_idempotent(spark, tmp_path):
    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "a")]), "s", d, pk="id")
    batch = _df(spark, [(1, "b"), (2, "c")])
    once = snapshot_records(batch, "s", d, pk="id")
    first = sorted((r["id"], r["v"]) for r in once.collect())
    twice = snapshot_records(batch, "s", d, pk="id")
    assert sorted((r["id"], r["v"]) for r in twice.collect()) == first


def test_just_new_returns_batch_only(spark, tmp_path):
    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "a")]), "s", d, pk="id")
    out = snapshot_records(_df(spark, [(2, "b")]), "s", d, pk="id", just_new=True)
    assert [(r["id"], r["v"]) for r in out.collect()] == [(2, "b")]
    # but the persisted snapshot has both
    snap = read_snapshots(spark, "s", d)
    assert snap.count() == 2


def test_no_data_returns_snapshot(spark, tmp_path):
    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "a")]), "s", d, pk="id")
    out = snapshot_records(None, "s", d, pk="id")
    assert out.count() == 1
    assert snapshot_records(None, "s", d, pk="id", just_new=True) is None


def test_overwrite_replaces(spark, tmp_path):
    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "a"), (2, "b")]), "s", d, pk="id")
    out = snapshot_records(_df(spark, [(9, "z")]), "s", d, pk="id", overwrite=True)
    assert [(r["id"], r["v"]) for r in out.collect()] == [(9, "z")]


def test_coerce_int32_to_int64(spark, tmp_path):
    d = str(tmp_path)
    old = spark.createDataFrame([Row(id=1, n=10)], "id long, n int")
    snapshot_records(old, "s", d, pk="id")
    new = spark.createDataFrame([Row(id=2, n=20)], "id long, n long")
    out = snapshot_records(new, "s", d, pk="id", coerce_types=True)
    assert dict(out.dtypes)["n"] == "bigint"


def test_missing_columns_union(spark, tmp_path):
    # schema evolution: batch adds a column (allowMissingColumns parity)
    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "a")]), "s", d, pk="id")
    new = spark.createDataFrame([(2, "b", "x")], "id long, v string, extra string")
    out = snapshot_records(new, "s", d, pk="id")
    got = {r["id"]: (r["v"], r["extra"]) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("b", "x")}


def test_keep_last_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y"), (2, 1, "z")], "k long, seq long, v string"
    )
    out = keep_last_dedup(df, ["k"], [F.col("seq").desc()])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "y", 2: "z"}


def test_snapshot_plan_has_no_collect(spark, tmp_path):
    """The merge is one shuffle on the PK — inspect the physical plan."""
    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "a")]), "s", d, pk="id")
    out = snapshot_records(_df(spark, [(1, "b")]), "s", d, pk="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # result is a fresh parquet scan post-swap: no window/exchange residue
    assert "Scan parquet" in plan


def test_partitioned_snapshot_upsert_semantics(spark, tmp_path):
    from gluestick_ts_spark.operators.snapshot_partitioned import (
        partitioned_snapshot_upsert,
        read_partitioned_snapshot,
    )

    d = str(tmp_path)
    a = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id long, v string")
    partitioned_snapshot_upsert(a, "s", d, pk="id", n_buckets=8)
    b = spark.createDataFrame([(1, "V1"), (60, "v60")], "id long, v string")
    merged = partitioned_snapshot_upsert(b, "s", d, pk="id", n_buckets=8)
    got = {r.id: r.v for r in merged.collect()}
    assert len(got) == 51
    assert got[1] == "V1" and got[60] == "v60" and got[2] == "v2"
    again = read_partitioned_snapshot(spark, "s", d)
    assert {r.id: r.v for r in again.collect()} == got


def test_partitioned_snapshot_touches_only_affected_buckets(spark, tmp_path):
    import glob
    import os

    from gluestick_ts_spark.operators.snapshot_partitioned import (
        partitioned_snapshot_upsert,
    )

    d = str(tmp_path)
    a = spark.createDataFrame([(i, "x") for i in range(200)], "id long, v string")
    partitioned_snapshot_upsert(a, "s", d, pk="id", n_buckets=8)
    path = f"{d}/s.snapshot.bucketed.parquet"
    before = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/__gs_bucket=*/*.parquet")}

    b = spark.createDataFrame([(1, "y")], "id long, v string")
    partitioned_snapshot_upsert(b, "s", d, pk="id", n_buckets=8)
    after = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/__gs_bucket=*/*.parquet")}

    # files in unaffected bucket partitions survive byte-identical (same
    # path, same mtime); at least one bucket dir was rewritten
    surviving = [f for f in before if f in after and before[f] == after[f]]
    rewritten_dirs = {
        os.path.dirname(f) for f in set(before) - set(surviving)
    } | {os.path.dirname(f) for f in set(after) - set(before)}
    assert len(surviving) > 0, "unaffected buckets must not be rewritten"
    assert len(rewritten_dirs) == 1, rewritten_dirs


def test_snapshot_dir_behind_file_uri(spark, tmp_path):
    """The snapshot dir must work behind a filesystem URI (file:/) —
    existence checks and the atomic swap go through the Hadoop FS, not
    os.path, so object-store/HDFS snapshot dirs behave identically.
    An os.path check would see no snapshot and silently treat every
    batch as the first (dropping the merge)."""
    d = "file://" + str(tmp_path / "snapdir")
    snapshot_records(_df(spark, [(1, "old"), (2, "keep")]), "s", d, pk="id")
    out = snapshot_records(_df(spark, [(1, "new"), (3, "add")]), "s", d, pk="id")
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "add"}
    # swap again: exercises the rename-old/rename-new/delete-old path
    out2 = snapshot_records(_df(spark, [(2, "v2")]), "s", d, pk="id")
    assert {r["id"]: r["v"] for r in out2.collect()} == {1: "new", 2: "v2", 3: "add"}


def test_partitioned_snapshot_behind_file_uri(spark, tmp_path):
    """Bucket-partitioned snapshots behind a file:/ URI: pruned merges
    keep working when the store is not on the driver's local disk."""
    from gluestick_ts_spark.operators.snapshot_partitioned import (
        partitioned_snapshot_upsert,
    )

    d = "file://" + str(tmp_path / "bsnap")
    partitioned_snapshot_upsert(_df(spark, [(1, "old"), (2, "keep")]), "s", d, pk="id", n_buckets=4)
    out = partitioned_snapshot_upsert(_df(spark, [(1, "new"), (3, "add")]), "s", d, pk="id", n_buckets=4)
    assert {r["id"]: r["v"] for r in out.collect()} == {1: "new", 2: "keep", 3: "add"}


def test_sync_after_half_done_swap_keeps_earlier_rows(spark, tmp_path):
    """A crash between the swap's two renames leaves the snapshot path
    missing and the old snapshot parked in ``.pre-compact``. The next
    sync must restore it, not take the stream for new and drop every
    earlier row."""
    import os

    d = str(tmp_path)
    snapshot_records(_df(spark, [(1, "old"), (2, "keep")]), "s", d, pk="id")
    live = os.path.join(d, "s.snapshot.parquet")
    os.rename(live, live + ".pre-compact")
    os.makedirs(live + ".compact-tmp")
    out = snapshot_records(_df(spark, [(1, "new"), (3, "add")]), "s", d, pk="id")
    assert {r["id"]: r["v"] for r in out.collect()} == {1: "new", 2: "keep", 3: "add"}
    assert sorted(os.listdir(d)) == ["s.snapshot.parquet"]
