"""Z-order (Morton-curve) file layout for multi-column data skipping.

Parquet scans prune at two levels: directory partitions, and per-file
/ per-row-group min-max statistics. A table sorted by one column skips
beautifully on that column and not at all on any other; interleaving
the BITS of several columns' bucket ids (the Morton / Z-order curve —
the layout behind Delta's OPTIMIZE ZORDER BY and many warehouse
CLUSTER BY implementations) gives every participating column locality,
so selective filters on ANY of them touch a small fraction of files.

``write_zordered`` is pure engine-level Spark: per column, values map
to ``2^bits`` buckets — either UNIFORM buckets between the observed
min/max (one tiny agg + a bounded driver collect of 2 numbers per
column), or, with ``quantile=True``, EQUAL-OCCUPANCY buckets cut at
``approx_percentile`` boundaries (one mergeable-sketch agg; the right
choice for skewed columns, where uniform buckets pile most rows into
a few codes and the curve degenerates toward a single-column sort on
the remaining dims). Bucket bits interleave into one long Z-key via
in-row Column math; the write range-partitions (at the key's own
quantiles, so the boundaries are reproducible) AND sorts by the key,
so both the file boundaries and the row groups inside each file cover
tight Z-ranges. The payoff is measured, not assumed:
``file_stats_ranges`` reads the written footers (pyarrow) and reports
each file's min-max width per column — the quantity row-group
skipping actually prunes on — and the tests assert Z-ordered files
carry far tighter ranges than an unsorted write on BOTH dimensions.

The returned layout spec is the APPEND CONTRACT: pass it back via
``layout=`` to write later data onto the SAME curve (same bucket
boundaries → new files interleave consistently with old ones instead
of re-deriving boundaries from the append's own distribution). NULLs
sort to bucket 0.

No reference counterpart (extension op — storage-layout family next
to bucketed tables and partitioned snapshots).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key_expr", "write_zordered", "file_stats_ranges"]

# quantile mode embeds 2^bits - 1 literal cut points per column in the
# plan; cap where the plan stays small and the boundary sketch exact
# enough (1023 cuts/col)
_MAX_QUANTILE_BITS = 10


def _bucket_uniform(c: str, lo: float, hi: float, bits: int) -> Column:
    span = hi - lo if hi > lo else 1.0
    nb = F.lit((1 << bits) - 1)
    bucket = F.least(
        nb.cast("double"),
        F.greatest(
            F.lit(0.0),
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * (1 << bits),
        ),
    ).cast("long")
    return F.coalesce(bucket, F.lit(0))


def _bucket_cuts(c: str, cuts: Sequence[float]) -> Column:
    # bucket = number of cut points <= value: in-row fold over the
    # literal cut array (JVM-side, no UDF). O(cuts) per row — bounded
    # by _MAX_QUANTILE_BITS; duplicate cuts (heavy single values)
    # simply merge buckets.
    arr = F.array(*[F.lit(float(x)) for x in cuts])
    v = F.col(c).cast("double")
    bucket = F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, cut: acc + F.when(v >= cut, 1).otherwise(0).cast("long"),
    )
    return F.coalesce(bucket, F.lit(0))


def _parse_spec(c: str, spec) -> tuple[str, list[float]]:
    """Normalize a per-column layout spec to ("uniform", [lo, hi]) or
    ("cuts", [...]). The canonical form is the self-describing dict
    (``{"uniform": [lo, hi]}`` / ``{"cuts": [...]}``) — it survives a
    JSON round-trip unambiguously, which the bare legacy forms do not
    (a (lo, hi) tuple JSON-decodes as a 2-element list, i.e. as 2 cut
    points). Bare tuple = uniform and bare list = cuts are still
    accepted for in-process use."""
    if isinstance(spec, dict):
        if "uniform" in spec:
            lo, hi = spec["uniform"]
            return "uniform", [float(lo), float(hi)]
        if "cuts" in spec:
            return "cuts", [float(x) for x in spec["cuts"]]
        raise ValueError(
            f"zorder layout for column {c}: dict spec needs 'uniform' or 'cuts'"
        )
    if isinstance(spec, tuple) and len(spec) == 2:
        return "uniform", [float(spec[0]), float(spec[1])]
    if isinstance(spec, (list, tuple)):
        return "cuts", [float(x) for x in spec]
    raise ValueError(f"zorder layout for column {c}: unrecognized spec {spec!r}")


def zorder_key_expr(
    cols: list[str],
    ranges: dict[str, tuple[float, float] | Sequence[float] | dict],
    bits: int = 16,
) -> Column:
    """The interleaved Z-key as one long: per column, value → bucket in
    [0, 2^bits) — uniform over a ``{"uniform": [lo, hi]}`` spec (bare
    ``(lo, hi)`` tuple accepted), or by cut-point list
    (``{"cuts": [...]}``; bucket = #cuts <= value; ``len(cuts)`` must
    be < 2^bits) — then bit j of column i lands at position
    ``j * n_cols + i``. Pure in-row math (no UDF, no shuffle);
    ``n_cols * bits`` must fit a signed 64-bit long."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(
            f"zorder_key_expr: {n} cols x {bits} bits exceeds a signed long"
        )
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        kind, vals = _parse_spec(c, ranges[c])
        if kind == "uniform":
            bucket = _bucket_uniform(c, vals[0], vals[1], bits)
        else:
            if len(vals) >= (1 << bits):
                raise ValueError(
                    f"zorder_key_expr: {len(vals)} cuts for column {c} "
                    f"overflow {bits}-bit buckets"
                )
            bucket = _bucket_cuts(c, vals)
        # bit j via power-of-two arithmetic (PySpark's shift functions
        # take literal counts only; powers of two are exact doubles).
        # The bucket expression is LET-BOUND through a one-element
        # array so Catalyst evaluates it once per row instead of
        # inlining it into every bit slot (which for quantile mode
        # would re-fold the whole cut array per bit).
        two = F.lit(2.0)
        spread = F.transform(
            F.array(bucket),
            lambda b: F.aggregate(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + (F.floor(b / F.pow(two, j.cast("double"))).cast("long") % 2)
                * F.pow(two, (j * n + i).cast("double")).cast("long"),
            ),
        )[0]
        key = key + spread
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
    quantile: bool = False,
    layout: dict[str, tuple[float, float] | list[float]] | None = None,
) -> dict[str, tuple[float, float] | list[float]]:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``:
    per-column bucket boundaries (one bounded-collect aggregate),
    in-row Z-key, file boundaries at the key's quantiles (one more
    sketch aggregate; ``num_files`` files, default
    ``spark.sql.shuffle.partitions``) + ``sortWithinPartitions`` on
    the key, so per-file AND per-row-group statistics are tight on
    every participating column, and the same input always lands on
    the same file boundaries.

    ``quantile=True`` derives EQUAL-OCCUPANCY buckets from
    ``approx_percentile`` cut points instead of uniform min/max
    buckets — use it when a column is skewed (requires ``bits <=
    {max_bits}``; the cuts are embedded in-plan). Returns the layout
    spec used — ``{{col: {{"uniform": [lo, hi]}}}}`` or
    ``{{col: {{"cuts": [...]}}}}``, self-describing so it survives a JSON
    round-trip — which is the append contract: pass it back via
    ``layout=`` (with ``mode="append"``) so later batches land on the
    SAME curve; the boundary aggregate is skipped entirely then.
    """
    if layout is not None:
        missing = [c for c in cols if c not in layout]
        if missing:
            raise ValueError(f"write_zordered: layout lacks columns {missing}")
        ranges = layout
    elif quantile:
        if bits > _MAX_QUANTILE_BITS:
            raise ValueError(
                f"write_zordered: quantile mode supports bits <= "
                f"{_MAX_QUANTILE_BITS} (got {bits}) — 2^bits - 1 cut points "
                "are embedded in the plan"
            )
        n_cuts = (1 << bits) - 1
        probs = [float(k) / (1 << bits) for k in range(1, n_cuts + 1)]
        row = df.agg(
            *[
                F.percentile_approx(
                    F.col(c).cast("double"), probs, 100_000
                ).alias(c)
                for c in cols
            ]
        ).first()
        ranges = {}
        for c in cols:
            cuts = row[c]
            if cuts is None or all(x is None for x in cuts):
                raise ValueError(f"write_zordered: column {c} is all-NULL")
            ranges[c] = {"cuts": [float(x) for x in cuts if x is not None]}
    else:
        aggs = []
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")), F.max(F.col(c).cast("double"))]
        row = df.agg(*aggs).first()
        ranges = {}
        for i, c in enumerate(cols):
            lo, hi = row[2 * i], row[2 * i + 1]
            if lo is None or hi is None:
                raise ValueError(f"write_zordered: column {c} is all-NULL")
            ranges[c] = {"uniform": [float(lo), float(hi)]}
    out = df.withColumn("__z", zorder_key_expr(cols, ranges, bits))
    n = int(num_files or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # File boundaries are the Z-key's own quantiles, cut driver-side and
    # routed with repartitionById — not repartitionByRange, whose
    # sample seed derives from the RDD id, so the same write could land
    # on different boundaries depending on what the session ran before.
    # At 1e-5 rank error the sketch holds every key of a small input,
    # so there the cuts are exact quantiles.
    part = F.lit(0)
    if n > 1:
        probs = [k / n for k in range(1, n)]
        cuts = out.agg(F.percentile_approx("__z", probs, 100_000)).first()[0]
        if cuts:  # None on an empty input
            arr = F.array(*[F.lit(int(x)).cast("long") for x in cuts])
            part = F.aggregate(
                arr, F.lit(0), lambda acc, cut: acc + (F.col("__z") > cut).cast("int")
            )
    out = out.repartitionById(n, part)
    out.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)
    return ranges


if write_zordered.__doc__:  # stripped under python -OO
    write_zordered.__doc__ = write_zordered.__doc__.format(
        max_bits=_MAX_QUANTILE_BITS
    )


def file_stats_ranges(
    path: str, cols: list[str], spark=None
) -> list[dict[str, float]]:
    """Per output file, the min-max WIDTH of each column from the
    parquet footer statistics (pyarrow; driver-side, file-count
    bounded) — the quantity min-max skipping prunes on. Narrow widths
    = selective filters skip the file.

    Without ``spark``, ``path`` must be a local directory (bare or
    ``file://``). Pass a SparkSession to route listing AND reads
    through the Hadoop FS API instead — works on any Spark-readable
    scheme, at the cost of pulling each measured file to the driver
    (this is a layout-measurement helper, not a data path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _widths(md) -> dict[str, float] | None:
        lo: dict[str, float] = {}
        hi: dict[str, float] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                cname = col.path_in_schema
                if cname not in cols or col.statistics is None:
                    continue
                st = col.statistics
                lo[cname] = min(lo.get(cname, float("inf")), float(st.min))
                hi[cname] = max(hi.get(cname, float("-inf")), float(st.max))
        return {c: hi[c] - lo[c] for c in lo} if lo else None

    out = []
    if spark is not None:
        from ..sources.fs import _fs_and_path

        fs, jpath = _fs_and_path(spark, path)
        ioutils = spark._jvm.org.apache.commons.io.IOUtils
        for status in fs.listStatus(jpath):
            name = status.getPath().getName()
            if not name.endswith(".parquet"):
                continue
            stream = fs.open(status.getPath())
            try:
                buf = bytes(ioutils.toByteArray(stream))
            finally:
                stream.close()
            w = _widths(pq.ParquetFile(pa.BufferReader(buf)).metadata)
            if w:
                out.append(w)
        return out

    import os

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            "file_stats_ranges: non-local scheme requires the spark "
            "argument (Hadoop FS routing)"
        )
    local = path[len("file://"):] if path.startswith("file://") else path
    for name in sorted(os.listdir(local)):
        if not name.endswith(".parquet"):
            continue
        w = _widths(pq.ParquetFile(os.path.join(local, name)).metadata)
        if w:
            out.append(w)
    return out
