"""Output checks. They run outside the timed region.

* Registry legs are compared with their DuckDB ``ORACLES`` restatement:
  column names, row count and the sorted multiset of normalised values
  (the same rule as ``tools/check_correctness.py``). Oracle answers are
  cached per (SQL, input table contents, DuckDB version).
* A leg's ``ORACLES`` SQL restates Spark's exact ``percentile`` with
  DuckDB's ``quantile_cont``, which rounds differently: over 100 equal
  values -10.881804 it returns -10.881803999999998922, one ulp above them,
  where Spark returns the value itself. The check therefore uses the
  ``ORACLES`` SQL with each ``quantile_cont`` replaced by a restatement of
  Spark's rule (``spark_percentiles``); a difference from the plain
  ``ORACLES`` answer that this restatement explains is reported apart.
* ETL syncs: the snapshot must equal a DuckDB last-write-wins restatement
  over the batches sent so far (row count and an order-insensitive hash),
  and each export must hold one row per snapshot row; the singer file
  must read SCHEMA, then N RECORD lines, then STATE, per stream.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import re

import duckdb


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def normalise(cols: list[str], rows) -> tuple[list[str], list[list[str]]]:
    """Columns sorted by name; rows as sorted lists of value strings."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted([_norm(r[i]) for i in order] for r in rows)


# Spark's percentile over the sorted values ``s``: position
# p * (n - 1); the value there when its two neighbours are equal, else
# (higher - pos) * lo + (pos - lower) * hi.
_SPARK_PERCENTILE = [
    "CREATE OR REPLACE MACRO _spark_pct(s, pos) AS "
    "CASE WHEN s[CAST(floor(pos) AS BIGINT) + 1] = s[CAST(ceil(pos) AS BIGINT) + 1] "
    "THEN s[CAST(floor(pos) AS BIGINT) + 1] "
    "ELSE (ceil(pos) - pos) * s[CAST(floor(pos) AS BIGINT) + 1] "
    "+ (pos - floor(pos)) * s[CAST(ceil(pos) AS BIGINT) + 1] END",
    "CREATE OR REPLACE MACRO spark_percentile(vals, p) AS "
    "_spark_pct(list_sort(vals), CAST(p AS DOUBLE) * (len(vals) - 1))",
]


def spark_percentiles(sql: str) -> str:
    """``sql`` with every ``quantile_cont(col, p)`` computed by Spark's rule."""
    return re.sub(
        r"quantile_cont\((\w+), ([0-9.]+)\)",
        r"spark_percentile(list(\1) FILTER (WHERE \1 IS NOT NULL), \2)",
        sql,
    )


class Oracle:
    """DuckDB views over a table directory. An answer is read from
    ``known_dir`` (answers kept with the benchmark) or ``cache_dir``, else
    computed and cached in ``cache_dir``. Its key covers the DuckDB
    version, the SQL and the contents of the tables the SQL reads, so a
    changed oracle or table is computed afresh."""

    def __init__(self, con: duckdb.DuckDBPyConnection, table_dir: str, known_dir: str,
                 cache_dir: str) -> None:
        self.con = con
        self.dirs = (known_dir, cache_dir)
        for macro in _SPARK_PERCENTILE:
            con.sql(macro)
        for name in sorted(os.listdir(table_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(table_dir, name)
                con.sql(f"CREATE OR REPLACE VIEW {name[:-8]} AS SELECT * FROM '{path}'")

    def answer(self, sql: str, table_digests: list[str]) -> tuple[list[str], list[list[str]]]:
        key = hashlib.sha256(
            "\n".join([duckdb.__version__, *sorted(table_digests), sql]).encode()
        ).hexdigest()[:24]
        for d in self.dirs:
            path = os.path.join(d, f"oracle-{key}.json.gz")
            if os.path.exists(path):
                with gzip.open(path, "rt", encoding="utf-8") as f:
                    cached = json.load(f)
                return cached["cols"], cached["rows"]
        cur = self.con.sql(sql)
        cols, rows = normalise([d[0] for d in cur.description], cur.fetchall())
        os.makedirs(self.dirs[1], exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with gzip.open(tmp, "wt", encoding="utf-8") as f:
            json.dump({"cols": cols, "rows": rows}, f)
        os.replace(tmp, path)
        return cols, rows


def compare(name: str, got_cols: list[str], got_rows, want) -> str | None:
    """None when the leg's answer matches the oracle, else a diagnosis."""
    cols, rows = normalise(got_cols, got_rows)
    want_cols, want_rows = want
    if cols != want_cols:
        return f"{name}: columns {cols} != oracle {want_cols}"
    if len(rows) != len(want_rows):
        return f"{name}: {len(rows)} rows != oracle {len(want_rows)}"
    diff = [i for i, (a, b) in enumerate(zip(rows, want_rows)) if a != b]
    if not diff:
        return None
    bad_cols = sorted({
        cols[c] for i in diff for c in range(len(cols)) if rows[i][c] != want_rows[i][c]
    })
    return f"{name}: {len(diff)} of {len(rows)} rows differ (columns {bad_cols})"


# -- ETL ---------------------------------------------------------------------

# Canonical projection per stream: (expression over the raw batch,
# expression over the snapshot). Timestamps compare as UTC epoch micros.
_CANON = {
    "orders": [
        ("CAST(o_orderkey AS BIGINT)", "o_orderkey"),
        ("CAST(o_custkey AS BIGINT)", "o_custkey"),
        ("o_orderstatus", "o_orderstatus"),
        ("round(CAST(o_totalprice AS DOUBLE), 2)", "round(o_totalprice, 2)"),
        ("epoch_us(CAST(o_orderdate AS TIMESTAMP))", "epoch_us(o_orderdate)"),
        ("o_orderpriority", "o_orderpriority"),
        ("o_comment", "o_comment"),
        ("epoch_us(CAST(updated_at AS TIMESTAMP))", "epoch_us(updated_at)"),
    ],
    "events": [
        ("event_id", "event_id"),
        ("epoch_us(ts)", "epoch_us(ts)"),
        ("user_id", "user_id"),
        ("event_type", "event_type"),
        ("round(value, 2)", "round(value, 2)"),
        ("CAST(json_extract(props, '$.k') AS BIGINT)", "props.k"),
        ("json_extract_string(props, '$.source')", "props.source"),
        ("array_to_string(CAST(json_extract(props, '$.tags') AS VARCHAR[]), ',')",
         "array_to_string(props.tags, ',')"),
    ],
}
_SOURCES = {
    "orders": "read_csv('{path}/sync-output/orders.csv', header=true, all_varchar=true)",
    "events": "read_parquet('{path}/sync-output/events.parquet')",
}


def _digest(con, select_list: str, relation: str) -> tuple[int, int]:
    n, h = con.sql(f"SELECT count(*), sum(hash({select_list})) FROM {relation}").fetchone()
    return int(n), int(h or 0)


def snapshot_matches(con, stream: str, pk: str, batch_roots: list[str],
                     snapshot_path: str) -> tuple[str | None, int]:
    """Compare the snapshot with last-write-wins over ``batch_roots``.

    Returns (diagnosis or None, snapshot rows)."""
    raw = [c[0] for c in _CANON[stream]]
    snap = [c[1] for c in _CANON[stream]]
    union = " UNION ALL ".join(
        f"SELECT {i} AS __batch, * FROM {_SOURCES[stream].format(path=root)}"
        for i, root in enumerate(batch_roots)
    )
    lww = (
        f"(SELECT * FROM ({union}) QUALIFY row_number() OVER "
        f"(PARTITION BY CAST({pk} AS BIGINT) ORDER BY __batch DESC) = 1)"
    )
    want = _digest(con, ", ".join(raw), lww)
    got = _digest(con, ", ".join(snap), f"read_parquet('{snapshot_path}/*.parquet')")
    if got != want:
        return (f"snapshot {stream}: {got[0]} rows (hash {got[1]}) != "
                f"last-write-wins {want[0]} rows (hash {want[1]})"), got[0]
    return None, got[0]


def singer_matches(path: str, expected: list[tuple[str, int]]) -> str | None:
    """``expected`` lists (stream, record count) in file order."""
    segments: list[list] = []  # [stream, records, state_seen]
    with open(path, encoding="utf-8") as f:
        for line in f:
            kind = line[9:line.find('"', 9)]  # the sink writes '{"type":"<KIND>",...
            if kind == "SCHEMA":
                segments.append([json.loads(line)["stream"], 0, False])
            elif not segments or segments[-1][2]:
                return f"singer: {kind!r} line outside a SCHEMA..STATE segment"
            elif kind == "RECORD":
                segments[-1][1] += 1
            elif kind == "STATE":
                segments[-1][2] = True
            else:
                return f"singer: unexpected line {line[:40]!r}"
    got = [(s, n) for s, n, state in segments if state]
    if got != expected or len(got) != len(segments):
        return f"singer: segments {[(s, n, st) for s, n, st in segments]} != {expected}"
    return None


def count_rows(con, relation: str) -> int:
    return int(con.sql(f"SELECT count(*) FROM {relation}").fetchone()[0])


def count_lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(block.count(b"\n") for block in iter(lambda: f.read(1 << 20), b""))
