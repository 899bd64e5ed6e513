"""SCD Type 2 history snapshots: version chains, change detection,
idempotent replay, and point-in-time reads."""

from pyspark.sql import functions as F

from gluestick_ts_spark.operators.scd2 import read_scd2, scd2_asof, scd2_upsert


def _hist_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.id, []).append(
            (str(r.valid_from), str(r.valid_to), r.is_current, r.city)
        )
    return {k: sorted(v) for k, v in out.items()}


def test_scd2_versions_close_and_open(spark, tmp_path):
    d = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "nyc", "2024-01-01 00:00:00"), (2, "sf", "2024-01-01 00:00:00")],
        "id long, city string, ts string",
    )
    h1 = scd2_upsert(b1, "cust", d, pk="id", eff_ts="ts")
    assert h1.count() == 2
    assert h1.where("is_current").count() == 2

    # id 1 moves, id 2 unchanged (re-sent), id 3 appears
    b2 = spark.createDataFrame(
        [
            (1, "berlin", "2024-02-01 00:00:00"),
            (2, "sf", "2024-02-01 00:00:00"),
            (3, "tokyo", "2024-02-01 00:00:00"),
        ],
        "id long, city string, ts string",
    )
    h2 = scd2_upsert(b2, "cust", d, pk="id", eff_ts="ts")
    m = _hist_map(h2)
    assert m[1] == [
        ("2024-01-01 00:00:00", "2024-02-01 00:00:00", False, "nyc"),
        ("2024-02-01 00:00:00", "None", True, "berlin"),
    ]
    # unchanged re-send: NO new version, original valid_from preserved
    assert m[2] == [("2024-01-01 00:00:00", "None", True, "sf")]
    assert m[3] == [("2024-02-01 00:00:00", "None", True, "tokyo")]

    # point-in-time view
    asof = {
        r.id: r.city
        for r in scd2_asof(h2, "2024-01-15 00:00:00").collect()
    }
    assert asof == {1: "nyc", 2: "sf"}
    now = {r.id: r.city for r in scd2_asof(h2, "2024-03-01 00:00:00").collect()}
    assert now == {1: "berlin", 2: "sf", 3: "tokyo"}


def test_scd2_replay_and_within_batch_chain(spark, tmp_path):
    d = str(tmp_path)
    # one batch carrying TWO versions of the same key chains them
    b = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 00:00:00"),
            (1, "b", "2024-01-05 00:00:00"),
        ],
        "id long, city string, ts string",
    )
    h = scd2_upsert(b, "s", d, pk="id", eff_ts="ts")
    m = _hist_map(h)
    assert m[1] == [
        ("2024-01-01 00:00:00", "2024-01-05 00:00:00", False, "a"),
        ("2024-01-05 00:00:00", "None", True, "b"),
    ]
    # replaying the SAME batch is a no-op (collapse step)
    h2 = scd2_upsert(b, "s", d, pk="id", eff_ts="ts")
    assert _hist_map(h2) == m
    h3 = read_scd2(spark, "s", d)
    assert _hist_map(h3) == m


def test_scd2_only_tracked_cols_open_versions(spark, tmp_path):
    d = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "nyc", "x", "2024-01-01 00:00:00")],
        "id long, city string, note string, ts string",
    )
    scd2_upsert(b1, "s", d, pk="id", eff_ts="ts", track_cols=["city"])
    # note changes but city doesn't: no new version
    b2 = spark.createDataFrame(
        [(1, "nyc", "y", "2024-02-01 00:00:00")],
        "id long, city string, note string, ts string",
    )
    h = scd2_upsert(b2, "s", d, pk="id", eff_ts="ts", track_cols=["city"])
    assert h.count() == 1 and h.first().is_current


def test_scd2_plan_keys_on_pk_and_closed_rows_bypass(spark, tmp_path):
    """The merge window must key on the primary key (one pk-hash
    shuffle for the open+batch timeline); closed rows ride a plain
    union with no window over them."""
    d = str(tmp_path)
    b1 = spark.createDataFrame(
        [(i, f"c{i}", "2024-01-01 00:00:00") for i in range(100)],
        "id long, city string, ts string",
    )
    scd2_upsert(b1, "s", d, pk="id", eff_ts="ts")
    b2 = spark.createDataFrame(
        [(i, f"d{i}", "2024-02-01 00:00:00") for i in range(100)],
        "id long, city string, ts string",
    )
    h = scd2_upsert(b2, "s", d, pk="id", eff_ts="ts")
    assert h.where("is_current").count() == 100
    assert h.count() == 200


def test_stream_scd2_matches_batch_and_survives_replay(spark, tmp_path):
    """The streaming wrapper's store must equal the batch-merged store
    for the same inputs, and a crash-replayed micro-batch must leave
    it unchanged (replay safety from the merge algebra itself)."""
    import os

    from gluestick_ts_spark.streaming.incremental import stream_scd2

    src = str(tmp_path / "src")
    d_stream = str(tmp_path / "stream")
    d_batch = str(tmp_path / "batch")
    ckpt = str(tmp_path / "ck")
    schema = "id long, city string, ts string"
    rows = [(1, "nyc", "2024-01-01 00:00:00"), (2, "sf", "2024-01-01 00:00:00")]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_scd2(stream, "s", d_stream, pk="id", eff_ts="ts",
                        checkpoint_dir=ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    scd2_upsert(
        spark.createDataFrame(rows, schema), "s", d_batch, pk="id", eff_ts="ts"
    )
    assert _hist_map(read_scd2(spark, "s", d_stream)) == _hist_map(
        read_scd2(spark, "s", d_batch)
    )
    # crash replay: delete the commit, re-run -> store unchanged
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    before = _hist_map(read_scd2(spark, "s", d_stream))
    run()
    assert _hist_map(read_scd2(spark, "s", d_stream)) == before


def test_scd2_column_eff_ts_refused(spark, tmp_path):
    """A Column-typed eff_ts hides its source column — it would join
    the row_hash (spurious versions on re-sends at later effective
    times) or be persisted as a spurious Type-1 carry attribute.
    Refused outright; the supported pattern is withColumn + a name,
    which stays replay-idempotent."""
    import pytest

    d = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "nyc", "2024-01-01 00:00:00")], "id long, city string, ts string"
    )
    with pytest.raises(ValueError, match="column name"):
        scd2_upsert(b1, "s", d, pk="id", eff_ts=F.col("ts"))
    with pytest.raises(ValueError, match="column name"):
        scd2_upsert(b1, "s", d, pk="id", eff_ts=F.col("ts"), track_cols=["city"])
    # the supported shape: derive the expression into a named column
    h1 = scd2_upsert(
        b1.withColumn("eff", F.col("ts")), "s", d,
        pk="id", eff_ts="eff", track_cols=["city"],
    )
    assert h1.count() == 1
    # unchanged re-send at a LATER effective time: still one version
    b2 = spark.createDataFrame(
        [(1, "nyc", "2024-02-01 00:00:00")], "id long, city string, ts string"
    )
    h2 = scd2_upsert(
        b2.withColumn("eff", F.col("ts")), "s", d,
        pk="id", eff_ts="eff", track_cols=["city"],
    )
    assert h2.count() == 1 and h2.first().is_current


def test_scd2_untracked_cols_carry_type1(spark, tmp_path):
    """Columns outside track_cols persist in the store as Type-1
    attributes: updated in place across every version to the latest
    effective value, never opening a version on their own."""
    d = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "nyc", "x", "2024-01-01 00:00:00")],
        "id long, city string, note string, ts string",
    )
    h1 = scd2_upsert(b1, "s", d, pk="id", eff_ts="ts", track_cols=["city"])
    assert [(r.city, r.note) for r in h1.collect()] == [("nyc", "x")]

    # tracked change + note change: ONE new version, note updated on
    # the closed version too (in place)
    b2 = spark.createDataFrame(
        [(1, "berlin", "y", "2024-02-01 00:00:00")],
        "id long, city string, note string, ts string",
    )
    h2 = scd2_upsert(b2, "s", d, pk="id", eff_ts="ts", track_cols=["city"])
    rows = sorted((str(r.valid_from), r.city, r.note, r.is_current)
                  for r in h2.collect())
    assert rows == [
        ("2024-01-01 00:00:00", "nyc", "y", False),
        ("2024-02-01 00:00:00", "berlin", "y", True),
    ]

    # note-only change: NO new version, note updated everywhere,
    # replaying the batch is still a no-op
    b3 = spark.createDataFrame(
        [(1, "berlin", "z", "2024-03-01 00:00:00")],
        "id long, city string, note string, ts string",
    )
    for _ in range(2):
        h3 = scd2_upsert(b3, "s", d, pk="id", eff_ts="ts", track_cols=["city"])
        rows = sorted((str(r.valid_from), r.city, r.note, r.is_current)
                      for r in h3.collect())
        assert rows == [
            ("2024-01-01 00:00:00", "nyc", "z", False),
            ("2024-02-01 00:00:00", "berlin", "z", True),
        ]
    # untouched keys keep their stored carry values
    b4 = spark.createDataFrame(
        [(2, "sf", "w", "2024-04-01 00:00:00")],
        "id long, city string, note string, ts string",
    )
    h4 = scd2_upsert(b4, "s", d, pk="id", eff_ts="ts", track_cols=["city"])
    got = {(r.id, r.city, r.note) for r in h4.where("is_current").collect()}
    assert got == {(1, "berlin", "z"), (2, "sf", "w")}

    # a batch LACKING a stored carry column is refused (silently
    # nulling stored Type-1 values would corrupt history)
    import pytest

    b5 = spark.createDataFrame(
        [(1, "rome", "2024-05-01 00:00:00")], "id long, city string, ts string"
    )
    with pytest.raises(ValueError, match="carry"):
        scd2_upsert(b5, "s", d, pk="id", eff_ts="ts", track_cols=["city"])


def test_stream_scd2_partitioned_matches_batch_and_survives_replay(spark, tmp_path):
    """partitioned=True: same history as the flat batch store, and a
    crash-replayed micro-batch leaves it unchanged (merge algebra +
    bucket-pruned rewrite)."""
    import os

    from gluestick_ts_spark.operators.scd2_partitioned import (
        read_partitioned_scd2,
    )
    from gluestick_ts_spark.streaming.incremental import stream_scd2

    src = str(tmp_path / "src")
    d_stream = str(tmp_path / "stream")
    d_batch = str(tmp_path / "batch")
    ckpt = str(tmp_path / "ck")
    schema = "id long, city string, ts string"
    rows = [(1, "nyc", "2024-01-01 00:00:00"), (2, "sf", "2024-01-01 00:00:00")]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_scd2(stream, "s", d_stream, pk="id", eff_ts="ts",
                        checkpoint_dir=ckpt, partitioned=True, n_buckets=4)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    scd2_upsert(
        spark.createDataFrame(rows, schema), "s", d_batch, pk="id", eff_ts="ts"
    )
    assert _hist_map(read_partitioned_scd2(spark, "s", d_stream)) == _hist_map(
        read_scd2(spark, "s", d_batch)
    )
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    before = _hist_map(read_partitioned_scd2(spark, "s", d_stream))
    run()
    assert _hist_map(read_partitioned_scd2(spark, "s", d_stream)) == before


def test_stream_scd2_partitioned_defaults_to_64_buckets(spark, tmp_path):
    """A partitioned stream store created with n_buckets=None must NOT
    freeze the seed-batch auto-size (a tiny first micro-batch would
    freeze ~1 bucket forever, defeating the layout); the streaming
    default is 64, and restarts against the existing store keep it."""
    from gluestick_ts_spark.operators.snapshot_partitioned import (
        read_store_buckets,
    )
    from gluestick_ts_spark.operators.scd2_partitioned import _store_path
    from gluestick_ts_spark.streaming.incremental import stream_scd2

    src = str(tmp_path / "src")
    d = str(tmp_path / "snap")
    schema = "id long, status string, ts string"
    spark.createDataFrame(
        [(1, "new", "2024-01-01 00:00:00")], schema
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_scd2(
        stream, "s", d, pk="id", eff_ts="ts", partitioned=True
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert read_store_buckets(spark, _store_path("s", d)) == 64
    # second run (fresh query, same store): default must defer to the
    # frozen count instead of conflicting with it
    spark.createDataFrame(
        [(2, "new", "2024-02-01 00:00:00")], schema
    ).write.mode("append").parquet(src)
    q2 = stream_scd2(
        spark.readStream.schema(schema).parquet(src), "s", d,
        pk="id", eff_ts="ts", partitioned=True,
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert read_store_buckets(spark, _store_path("s", d)) == 64



def test_scd2_upsert_after_half_done_swap_keeps_history(spark, tmp_path):
    """A crash between the swap's two renames parks the history in
    ``.pre-compact``; the next upsert restores it instead of starting
    a new history."""
    import os

    d = str(tmp_path)
    b1 = spark.createDataFrame(
        [(1, "nyc", "2024-01-01 00:00:00"), (2, "sf", "2024-01-01 00:00:00")],
        "id long, city string, ts string",
    )
    scd2_upsert(b1, "cust", d, pk="id", eff_ts="ts")
    live = os.path.join(d, "cust.scd2.parquet")
    os.rename(live, live + ".pre-compact")
    b2 = spark.createDataFrame(
        [(1, "berlin", "2024-02-01 00:00:00")], "id long, city string, ts string"
    )
    m = _hist_map(scd2_upsert(b2, "cust", d, pk="id", eff_ts="ts"))
    assert m == {
        1: [
            ("2024-01-01 00:00:00", "2024-02-01 00:00:00", False, "nyc"),
            ("2024-02-01 00:00:00", "None", True, "berlin"),
        ],
        2: [("2024-01-01 00:00:00", "None", True, "sf")],
    }
    assert sorted(os.listdir(d)) == ["cust.scd2.parquet"]
