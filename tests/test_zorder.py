"""Z-order layout: the payoff is MEASURED from the written parquet
footers — per-file min-max widths (what row-group skipping prunes on)
must be far tighter than an unsorted write on BOTH dimensions."""

import pytest
from pyspark.sql import functions as F

from gluestick_ts_spark.sinks.zorder import (
    file_stats_ranges,
    write_zordered,
    zorder_key_expr,
)


def test_zorder_key_interleaves_bits(spark):
    # 2 cols x 2 bits over [0, 4): value==bucket; morton(x, y) with x
    # in even positions, y in odd
    ranges = {"x": (0.0, 4.0), "y": (0.0, 4.0)}
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 3), (2, 1)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key_expr(["x", "y"], ranges, bits=2).alias("z")
        ).collect()
    }
    def morton(x, y):
        return sum(((x >> j) & 1) << (2 * j) | ((y >> j) & 1) << (2 * j + 1)
                   for j in range(2))
    assert got == {(x, y): morton(x, y) for (x, y) in got}
    with pytest.raises(ValueError, match="signed long"):
        zorder_key_expr(["a", "b", "c", "d"], {}, bits=16)


def test_zorder_write_tightens_file_stats_on_both_dims(spark, tmp_path):
    # two independent dimensions; rows arrive in an order correlated
    # with NEITHER, so a plain write gives every file near-full ranges
    n = 20_000
    df = spark.range(n).select(
        ((F.col("id") * 7919) % 1000).cast("double").alias("a"),
        ((F.col("id") * 104729) % 1000).cast("double").alias("b"),
        F.col("id").alias("payload"),
    )
    plain = str(tmp_path / "plain")
    df.repartition(16).write.parquet(plain)
    asorted = str(tmp_path / "asorted")
    df.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(
        asorted
    )
    zpath = str(tmp_path / "z")
    ranges = write_zordered(df, zpath, ["a", "b"], bits=10, num_files=16)
    assert ranges["a"] == {"uniform": [0.0, 999.0]}

    def avg_width(path, col):
        stats = file_stats_ranges(path, ["a", "b"])
        return sum(s[col] for s in stats) / len(stats)

    for col in ("a", "b"):
        assert avg_width(plain, col) > 900  # unsorted: near-full ranges
        # z-ordered: every file covers a small fraction of BOTH dims
        # (measured ~400/~290 vs 998/998 unsorted)
        assert avg_width(zpath, col) < 550, (col, avg_width(zpath, col))
    # the single-column sort's blind spot: tight on a, wide on b —
    # z-order stays tight on the dimension the sort ignores
    assert avg_width(asorted, "a") < 100
    assert avg_width(asorted, "b") > 700
    assert avg_width(zpath, "b") < 0.6 * avg_width(asorted, "b")

    # correctness: same rows back
    assert spark.read.parquet(zpath).count() == n
    s1 = spark.read.parquet(zpath).agg(F.sum("payload")).first()[0]
    assert s1 == n * (n - 1) // 2


def test_zorder_rejects_all_null_dim(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").cast("double").alias("a"),
        F.lit(None).cast("double").alias("b"),
    )
    with pytest.raises(ValueError, match="all-NULL"):
        write_zordered(df, str(tmp_path / "x"), ["a", "b"])


def test_zorder_append_with_frozen_layout_stays_tight(spark, tmp_path):
    """The append contract: later batches written with the RETURNED
    layout land on the same curve, so per-file widths stay tight on
    both dims across the whole directory — and the boundary aggregate
    is skipped (the layout is reused verbatim)."""
    n = 10_000
    def mk(offset):
        return spark.range(offset, offset + n).select(
            ((F.col("id") * 7919) % 1000).cast("double").alias("a"),
            ((F.col("id") * 104729) % 1000).cast("double").alias("b"),
        )
    zpath = str(tmp_path / "z")
    layout = write_zordered(mk(0), zpath, ["a", "b"], bits=10, num_files=8)
    # the layout must survive a JSON round-trip unambiguously (the
    # natural way to persist the append contract across jobs)
    import json as _json

    layout2 = write_zordered(
        mk(n), zpath, ["a", "b"], bits=10, num_files=8,
        mode="append", layout=_json.loads(_json.dumps(layout)),
    )
    assert layout2 == layout  # frozen, not re-derived
    stats = file_stats_ranges(zpath, ["a", "b"])
    assert len(stats) == 16  # both batches' files present
    for col in ("a", "b"):
        avg = sum(s[col] for s in stats) / len(stats)
        assert avg < 550, (col, avg)
    assert spark.read.parquet(zpath).count() == 2 * n

    with pytest.raises(ValueError, match="layout lacks"):
        write_zordered(mk(0), zpath, ["a", "b"], layout={"a": (0.0, 1.0)})


def test_zorder_file_boundaries_do_not_depend_on_session_history(spark, tmp_path):
    """The same input lands on the same files whatever the session ran
    before the write (range-partition sampling seeded from the RDD id
    did not), and an empty input writes without a boundary."""
    df = spark.range(5000).select(
        ((F.col("id") * 7919) % 1000).cast("double").alias("a"),
        ((F.col("id") * 104729) % 1000).cast("double").alias("b"),
    )
    layouts = []
    for i in range(3):
        for _ in range(i):
            spark.range(10).rdd.count()  # advances the RDD id
        zpath = str(tmp_path / f"z{i}")
        write_zordered(df, zpath, ["a", "b"], bits=8, num_files=4)
        layouts.append(sorted(
            tuple(sorted(s.items())) for s in file_stats_ranges(zpath, ["a", "b"])
        ))
    assert len(layouts[0]) == 4
    assert layouts[0] == layouts[1] == layouts[2]
    write_zordered(
        df.where("a < 0"), str(tmp_path / "empty"), ["a", "b"],
        num_files=4, layout={"a": (0.0, 1.0), "b": (0.0, 1.0)},
    )
    assert spark.read.parquet(str(tmp_path / "empty")).count() == 0


def test_zorder_quantile_buckets_beat_uniform_on_skew(spark, tmp_path):
    """Skewed column: uniform buckets pile ~all rows into a few codes,
    so files covering the dense region stay wide on the OTHER dim too.
    Quantile cuts give equal-occupancy buckets; a selective probe over
    the dense region must touch a fraction of the files."""
    n = 20_000
    df = spark.range(n).select(
        # heavy skew: 95% of mass in [0, 10), tail out to ~1e6
        F.when(F.col("id") % 20 < 19, (F.col("id") % 10).cast("double"))
        .otherwise(((F.col("id") * 37) % 1_000_000).cast("double"))
        .alias("a"),
        ((F.col("id") * 104729) % 1000).cast("double").alias("b"),
    )
    upath, qpath = str(tmp_path / "u"), str(tmp_path / "q")
    ul = write_zordered(df, upath, ["a", "b"], bits=8, num_files=16)
    ql = write_zordered(
        df, qpath, ["a", "b"], bits=8, num_files=16, quantile=True
    )
    assert "uniform" in ul["a"] and "cuts" in ql["a"]

    # probe: dense-region filter a < 0.5 (the a == 0 slice, ~9.5% of
    # rows). Count
    # files whose [min, max] intersects it — what min-max skipping
    # cannot prune.
    def files_touched(path, lo, hi):
        import pyarrow.parquet as pq
        import os
        touched = 0
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, name)).metadata
            fmin, fmax = float("inf"), float("-inf")
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "a" and col.statistics:
                        fmin = min(fmin, float(col.statistics.min))
                        fmax = max(fmax, float(col.statistics.max))
            if fmin <= hi and fmax >= lo:
                touched += 1
        return touched

    u_touch = files_touched(upath, 0.0, 0.5)
    q_touch = files_touched(qpath, 0.0, 0.5)
    # uniform: the whole dense mass shares bucket 0 on `a`, so the
    # curve orders it by `b` alone and nearly every file intersects
    # the probe; quantile: dense rows spread across many `a` codes, so
    # the probe prunes most files
    assert q_touch * 2 <= u_touch, (q_touch, u_touch)
    # same rows in both layouts
    assert spark.read.parquet(qpath).count() == n


def test_file_stats_ranges_hadoop_fs_routing(spark, tmp_path):
    """With a SparkSession, listing and reads route through the Hadoop
    FS API (any scheme); results match the local-path reader. A
    non-local scheme without spark is refused, not silently empty."""
    df = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("a"),
        (F.col("id") % 7).cast("double").alias("b"),
    )
    zpath = str(tmp_path / "z")
    write_zordered(df, zpath, ["a", "b"], bits=6, num_files=4)
    local = file_stats_ranges(zpath, ["a", "b"])
    routed = file_stats_ranges("file://" + zpath, ["a", "b"], spark=spark)
    key = lambda s: sorted((k, round(v, 6)) for k, v in s.items())
    assert sorted(map(key, local)) == sorted(map(key, routed))
    with pytest.raises(ValueError, match="non-local scheme"):
        file_stats_ranges("s3a://bucket/dir", ["a"])
