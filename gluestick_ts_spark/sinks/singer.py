"""Singer message sink: SCHEMA / RECORD / STATE emission.

Parity target: ``src/singer.ts``:

- ``genSingerHeader`` (``singer.ts:34-166``): build the stream's JSON
  Schema and rewrite the DataFrame (struct -> JSON where
  ``allowObjects`` is false, datetimes -> ISO-8601 strings).
- ``toSingerSchema`` (``singer.ts:168-191``): value -> JSON Schema
  recursion (used for sampled string-JSON columns).
- ``toSinger`` (``singer.ts:283-392``): emit one ``SCHEMA`` message, one
  ``RECORD`` per row (null fields dropped unless ``keep_null_fields``),
  and a trailing ``STATE {}``; append when the file exists.
- dtype classifier ``getColumnType`` (``singer.ts:394-407``).

Spark-first: the SCHEMA message derives from ``df.schema`` — a pure
metadata operation, **no data scan** (the reference pulls whole columns
into the JS heap to infer types, ``singer.ts:80-151`` — the
anti-pattern SURVEY §4 flags). RECORD lines are produced by ONE
distributed job: ``to_json(struct(*))`` with ``ignoreNullFields``,
wrapped in the envelope via string concat — all JVM-side codegen.
The single-file append contract is inherently driver-side; for parity
scale we stream part files into the target (documented limit, SURVEY
§7 hard part 2); ``single_file=False`` keeps everything distributed
for 100 TB runs.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.datetime_utils import iso8601_expr

__all__ = [
    "gen_singer_header",
    "to_singer_schema",
    "spark_type_to_singer_schema",
    "get_column_type",
    "to_singer",
]


# -- type mapping (singer.ts:22-32) ----------------------------------------

def get_column_type(dtype: T.DataType) -> str | None:
    """Classify a Spark type the way ``getColumnType`` classifies Polars
    dtype strings (``singer.ts:394-407``)."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "date"
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "float"
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    if isinstance(dtype, T.StringType):
        return "str"
    return None


def spark_type_to_singer_schema(dtype: T.DataType) -> dict[str, Any]:
    """Recursive StructType -> Singer JSON Schema. Every type is emitted
    as ``[<type>, "null"]`` (``singer.ts:22-32`` — all-nullable)."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return {"type": ["string", "null"], "format": "date-time"}
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
        return {"type": ["number", "null"]}
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return {"type": ["integer", "null"]}
    if isinstance(dtype, T.BooleanType):
        return {"type": ["boolean", "null"]}
    if isinstance(dtype, T.ArrayType):
        return {
            "type": ["array", "null"],
            "items": spark_type_to_singer_schema(dtype.elementType),
        }
    if isinstance(dtype, T.StructType):
        return {
            "type": ["object", "null"],
            "properties": {
                f.name: spark_type_to_singer_schema(f.dataType) for f in dtype.fields
            },
        }
    return {"type": ["string", "null"]}


def to_singer_schema(value: Any) -> dict[str, Any]:
    """Sampled-value -> JSON Schema recursion (``singer.ts:168-191``):
    object -> properties, array -> items from first element, scalars by
    Python type."""
    if isinstance(value, bool):
        return {"type": ["boolean", "null"]}
    if isinstance(value, int):
        return {"type": ["integer", "null"]}
    if isinstance(value, float):
        return {"type": ["number", "null"]}
    if isinstance(value, dict):
        return {
            "type": ["object", "null"],
            "properties": {k: to_singer_schema(v) for k, v in value.items()},
        }
    if isinstance(value, list):
        if value:
            return {"type": ["array", "null"], "items": to_singer_schema(value[0])}
        return {"type": ["array", "null"]}
    return {"type": ["string", "null"]}


def _merged_array_schema(df: DataFrame, col: str, sample_rows: int) -> dict[str, Any]:
    """Items schema for an array-of-JSON string column with object keys
    merged across up to ``sample_rows`` rows (``singer.ts:89-119``).
    Last-seen schema wins per key — the reference merges with
    ``Object.assign`` (``singer.ts:96-100``), where later occurrences
    overwrite earlier ones."""
    rows = (
        df.select(col)
        .where(F.col(col).isNotNull() & (F.trim(F.col(col)).rlike(r"^\[")))
        .limit(sample_rows)
        .collect()
    )
    merged_props: dict[str, Any] = {}
    scalar_items: dict[str, Any] | None = None
    for r in rows:
        try:
            value = json.loads(r[0])
        except (TypeError, ValueError):
            continue
        if not isinstance(value, list):
            continue
        for element in value:
            if isinstance(element, dict):
                for k, v in element.items():
                    # Object.assign semantics: last-seen value wins.
                    merged_props[k] = to_singer_schema(v)
            elif scalar_items is None:
                scalar_items = to_singer_schema(element)
    if merged_props:
        items: dict[str, Any] = {"type": ["object", "null"], "properties": merged_props}
    else:
        items = scalar_items or {"type": ["string", "null"]}
    return {"type": ["array", "null"], "items": items}


# -- header generation (singer.ts:34-166) -----------------------------------

def gen_singer_header(
    df: DataFrame,
    allow_objects: bool = False,
    schema: dict[str, Any] | None = None,
    catalog_schema: dict[str, Any] | None = None,
    infer_json_strings: bool = False,
    recursive_typing: bool = True,
    sample_rows: int = 100,
) -> tuple[DataFrame, dict[str, Any]]:
    """Build the Singer schema AND the export-rewritten DataFrame.

    Mirrors ``genSingerHeader``'s dual role (``singer.ts:42-73``):
    datetime columns become ISO-8601 strings; when ``allow_objects`` is
    false, struct/array columns are JSON-stringified and typed as
    string. A caller-declared ``schema`` short-circuits inference
    (``singer.ts:44-47``); ``catalog_schema`` properties merge over the
    inferred ones (``singer.ts:161-163``).

    Unlike the reference, inference never scans data: ``df.schema`` is
    fully typed. The ONE sampled path is opt-in: with
    ``infer_json_strings`` and ``allow_objects``, string columns whose
    first non-null value parses as a JSON object/array are typed from
    that sample (the reference's first-value sampling,
    ``singer.ts:80-130``) and parsed into real nested values via
    ``from_json`` + ``schema_of_json`` — ONE batched sampling job
    covering every candidate string column at once, never a full
    per-column scan (SURVEY §7 risk 4).

    ``recursive_typing`` upgrades the sampled path for ARRAY-valued
    JSON strings the way the reference's ``recursiveTyping`` does
    (``singer.ts:89-119``): instead of typing array items from the
    first element of the first row, object keys are merged across the
    elements of up to ``sample_rows`` rows, so rows with disjoint keys
    all land in the items schema. Bounded sample, never a full scan
    (the reference pulls the whole column; SURVEY §7 risk 4). Defaults
    ``True`` to match ``recursiveTyping = true`` (``singer.ts:304``).
    """
    properties: dict[str, Any] = {}
    exprs: list[Column] = []
    declared = (schema or {}).get("properties") if schema else None

    # ONE sampling job for ALL candidate string columns (was: one
    # .first() job per column): first_value(ignorenulls) of each
    # column's first JSON-looking value, batched into a single agg.
    sampled: dict[str, str] = {}
    if infer_json_strings and allow_objects:
        str_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]
        if str_cols:
            row = df.agg(
                *[
                    F.first(
                        F.when(
                            F.col(c).isNotNull()
                            & (F.trim(F.col(c)).rlike(r"^[\[{]")),
                            F.col(c),
                        ),
                        ignorenulls=True,
                    ).alias(c)
                    for c in str_cols
                ]
            ).first()
            if row is not None:
                sampled = {c: row[c] for c in str_cols if row[c]}

    for f in df.schema.fields:
        dtype = f.dataType
        json_sample = None
        sample_str = sampled.get(f.name)
        if sample_str:
            try:
                json_sample = json.loads(sample_str)
            except (TypeError, ValueError):
                json_sample = None
        if (
            recursive_typing
            and isinstance(json_sample, list)
        ):
            inferred = _merged_array_schema(df, f.name, sample_rows)
            from ..catalog import json_schema_to_spark_type

            exprs.append(
                F.from_json(F.col(f.name), json_schema_to_spark_type(inferred)).alias(
                    f.name
                )
            )
        elif json_sample is not None and isinstance(json_sample, (dict, list)):
            exprs.append(
                F.from_json(F.col(f.name), F.schema_of_json(F.lit(sample_str))).alias(
                    f.name
                )
            )
            inferred = to_singer_schema(json_sample)
        elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            exprs.append(iso8601_expr(F.col(f.name)).alias(f.name))
            inferred = {"type": ["string", "null"], "format": "date-time"}
        elif isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)) and not allow_objects:
            # Complex value JSON-stringified + typed string
            # (singer.ts:131-157).
            exprs.append(F.to_json(F.col(f.name)).alias(f.name))
            inferred = {"type": ["string", "null"]}
        else:
            exprs.append(F.col(f.name))
            inferred = spark_type_to_singer_schema(dtype)
        if declared is not None and f.name in declared:
            properties[f.name] = declared[f.name]
        else:
            properties[f.name] = inferred

    if catalog_schema:
        # catalog wins over inference (singer.ts:161-163)
        for name, prop in catalog_schema.items():
            if name in properties:
                properties[name] = prop

    # the reference's header envelope carries the object type
    # (singer.ts:41: { type: ["object", "null"], properties: {} })
    return df.select(*exprs), {
        "type": ["object", "null"],
        "properties": properties,
    }


# -- writer (singer.ts:283-392) ---------------------------------------------

def _merge_parts(
    tmp_dir: str,
    target: str,
    head: str | None = None,
    tail: str | None = None,
    append: bool = False,
) -> None:
    """Stream a distributed write's part files into one target file
    (driver-side byte copy, no row materialization), with optional
    ``head``/``tail`` lines around them; ``append`` adds to an existing
    target. Shared by the single-file singer, csv and jsonl sinks."""
    with open(target, "a" if append else "w", encoding="utf-8") as out:
        if head is not None:
            out.write(head + "\n")
        for part in sorted(glob.glob(os.path.join(tmp_dir, "part-*"))):
            with open(part, encoding="utf-8") as src:
                shutil.copyfileobj(src, out)
        if tail is not None:
            out.write(tail + "\n")


def to_singer(
    df: DataFrame,
    stream: str,
    output_dir: str,
    keys: list[str] | None = None,
    filename: str = "data.singer",
    allow_objects: bool = False,
    schema: dict[str, Any] | None = None,
    keep_null_fields: bool = False,
    catalog_schema: dict[str, Any] | None = None,
    single_file: bool = True,
    drop_all_null_cols: bool = False,
    infer_json_strings: bool = False,
    recursive_typing: bool = True,
    catalog_stream: str | None = None,
    root_dir: str = ".",
) -> None:
    """Write the Singer message stream for ``df``.

    ``single_file=True`` reproduces the reference contract exactly
    (one appendable ``data.singer``); ``single_file=False`` writes the
    RECORD lines as a distributed text dataset (dir of parts) with
    SCHEMA/STATE in sidecar files — the 100 TB mode.

    ``drop_all_null_cols`` enables the column pruning the reference
    computes but never applies (the select is commented out at
    ``singer.ts:320``) — default False to match reference behavior.

    When no explicit ``catalog_schema`` was passed and EITHER the
    ``USE_CATALOG_SCHEMA`` env var is truthy OR ``catalog_stream`` is
    set, the stream's catalog schema is loaded from
    ``<root_dir>/catalog.json`` and its object/array columns are parsed
    from JSON strings before export — mirroring the reference's
    ``if (catalogSchema || catalogStream)`` dispatcher
    (``singer.ts:307, 324-328``; ``catalog_stream`` also overrides the
    stream name used for the lookup).
    """
    keys = keys or []
    env_truthy = os.environ.get("USE_CATALOG_SCHEMA", "").lower() in (
        "1", "true", "yes",
    )
    if catalog_schema is None and (catalog_stream or env_truthy):
        from ..catalog import get_catalog_schema
        from ..functions.json_utils import parse_df_cols

        catalog_schema = get_catalog_schema(catalog_stream or stream, root_dir)
        if catalog_schema:
            df = parse_df_cols(df, catalog_schema)
    if drop_all_null_cols and len(df.columns) > 0:
        # One agg job: keep columns with >= 1 non-null value
        # (singer.ts:313-322, intended behavior).
        counts = df.agg(
            *[F.count(F.col(c)).alias(c) for c in df.columns]
        ).first()
        keep = [c for c in df.columns if (counts[c] or 0) > 0]
        if keep:
            df = df.select(*keep)
    modified, header = gen_singer_header(
        df,
        allow_objects=allow_objects,
        schema=schema,
        catalog_schema=catalog_schema,
        infer_json_strings=infer_json_strings,
        recursive_typing=recursive_typing,
    )

    schema_msg = json.dumps(
        {
            "type": "SCHEMA",
            "stream": stream,
            "schema": header,
            "key_properties": keys,
        },
        # compact separators = JSON.stringify's byte format (the
        # reference emits SCHEMA/RECORD/STATE all compact)
        separators=(",", ":"),
    )
    state_msg = json.dumps({"type": "STATE", "value": {}}, separators=(",", ":"))

    # RECORD payloads: one JVM-side job. Null fields dropped per record
    # unless keep_null_fields (singer.ts:361-365) — to_json's
    # ignoreNullFields matches exactly.
    payload = F.to_json(
        F.struct(*[F.col(c) for c in modified.columns]),
        {"ignoreNullFields": "false" if keep_null_fields else "true"},
    )
    record_line = F.concat(
        F.lit('{"type":"RECORD","stream":"' + stream + '","record":'),
        payload,
        F.lit("}"),
    ).alias("value")
    records = modified.select(record_line)

    os.makedirs(output_dir, exist_ok=True)
    target = os.path.join(output_dir, filename)

    if not single_file:
        records.write.mode("overwrite").text(target + ".records")
        with open(target + ".schema", "w", encoding="utf-8") as f:
            f.write(schema_msg + "\n")
        with open(target + ".state", "w", encoding="utf-8") as f:
            f.write(state_msg + "\n")
        return

    # Parity mode: distributed write to a temp dir, then stream part
    # files into the (possibly pre-existing -> append, singer.ts:387-391)
    # target. Driver streams bytes, never materializes rows.
    tmp = tempfile.mkdtemp(prefix="gs_singer_")
    try:
        records.write.mode("overwrite").text(tmp)
        _merge_parts(tmp, target, head=schema_msg, tail=state_msg, append=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
