"""Sink dispatcher + file-format writers.

Parity target: ``toExport`` (``src/etl-utils.ts:17-99``):

- format resolution: explicit option > ``DEFAULT_EXPORT_FORMAT`` env >
  default ``singer`` (``etl-utils.ts:23-26``).
- output-name resolution: ``HG_UNIFIED_OUTPUT_<NAME>`` env override,
  templated ``OUTPUT_FILE_PREFIX`` via the safe formatter
  (``etl-utils.ts:27-37``).
- writers: parquet (``:45-47``), json array (``:59-63``), jsonl
  (``:64-70``), csv with struct stringify (``:71-97``), singer
  (``:50-57``).

Spark-first: every writer is a distributed ``df.write`` job. The two
single-file formats the reference mandates (json array; csv-as-one-file)
get a driver-side part-file merge for parity — documented scale cliff,
with ``single_file=False`` escape hatch (SURVEY §7 hard part 2/7).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.templating import build_string_format_variables, format_str_safely
from .singer import _merge_parts, to_singer

__all__ = [
    "to_export",
    "write_parquet",
    "write_csv",
    "write_jsonl",
    "write_json_array",
]

_JSON_ARRAY_MAX_BYTES = 4 << 30  # refuse silently-unscalable exports


def _resolve_name(
    name: str,
    unified_model: str | None,
    reserved_variables: dict[str, Any] | None = None,
) -> str:
    """Name resolution incl. env override + templated prefix
    (``etl-utils.ts:27-37``); ``reserved_variables`` are job-scoped
    template kwargs threaded into the variable dict, highest
    precedence (``etl-utils.ts:25,34-35``)."""
    out_name = unified_model or os.environ.get(f"HG_UNIFIED_OUTPUT_{name.upper()}") or name
    prefix = os.environ.get("OUTPUT_FILE_PREFIX")
    if prefix:
        variables = build_string_format_variables(reserved_variables)
        out_name = format_str_safely(prefix, variables) + out_name
    return out_name


def _stringify_complex(df: DataFrame) -> DataFrame:
    """JSON-encode struct/array/map columns (``etl-utils.ts:84-92``) —
    one select, JVM-side ``to_json``."""
    complex_cols = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
    }
    if not complex_cols:
        return df
    return df.select(
        *[
            F.to_json(F.col(c)).alias(c) if c in complex_cols else F.col(c)
            for c in df.columns
        ]
    )


def write_parquet(df: DataFrame, path: str) -> None:
    """``writeParquet`` (``etl-utils.ts:45-47``)."""
    df.write.mode("overwrite").parquet(path)


def write_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """CSV with struct stringify (``etl-utils.ts:71-97``)."""
    out = _stringify_complex(df)
    if not single_file:
        (
            out.write.mode("overwrite")
            .option("header", "true")
            .option("escape", '"')
            .csv(path)
        )
        return
    tmp = tempfile.mkdtemp(prefix="gs_csv_")
    try:
        # Header must appear once; write data headerless and emit the
        # header line on the driver. escape='"' = RFC 4180 doubled
        # quotes, matching polars writeCSV (Spark's default backslash
        # escape writes {\"k\"...} cells standard CSV readers misparse)
        (
            out.write.mode("overwrite")
            .option("header", "false")
            .option("emptyValue", "")
            .option("escape", '"')
            .csv(tmp)
        )
        _merge_parts(tmp, path, head=",".join(out.columns))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_jsonl(df: DataFrame, path: str, single_file: bool = True) -> None:
    """JSONL (``etl-utils.ts:64-70``) — Spark's native JSON sink *is*
    JSONL, so the distributed path is free."""
    if not single_file:
        df.write.mode("overwrite").json(path)
        return
    tmp = tempfile.mkdtemp(prefix="gs_jsonl_")
    try:
        df.write.mode("overwrite").json(tmp)
        _merge_parts(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_json_array(df: DataFrame, path: str, indent: bool = True) -> None:
    """Single-file JSON array (``etl-utils.ts:59-63``).

    Inherently single-file; the driver streams JSONL parts and wraps
    them in ``[...]`` without holding the table in memory. Exports
    larger than ``_JSON_ARRAY_MAX_BYTES`` are rejected with a clear
    error (scale-safe default is JSONL — SURVEY §7 hard part 7).
    """
    tmp = tempfile.mkdtemp(prefix="gs_json_")
    try:
        df.write.mode("overwrite").json(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        total = sum(os.path.getsize(p) for p in parts)
        if total > _JSON_ARRAY_MAX_BYTES:
            raise ValueError(
                f"JSON-array export of {total} bytes exceeds the single-file "
                f"limit ({_JSON_ARRAY_MAX_BYTES}); use format='jsonl' instead"
            )
        with open(path, "w", encoding="utf-8") as out:
            out.write("[")
            first = True
            for part in parts:
                with open(part, encoding="utf-8") as src:
                    for line in src:
                        line = line.strip()
                        if not line:
                            continue
                        if not first:
                            out.write(",")
                        if indent:
                            # pretty-print each record like
                            # JSON.stringify(records, null, 2)
                            out.write("\n" + json.dumps(json.loads(line), indent=2))
                        else:
                            out.write(line)
                        first = False
            out.write("\n]" if (indent and not first) else "]")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def to_export(
    df: DataFrame,
    name: str,
    output_dir: str,
    keys: list[str] | None = None,
    unified_model: str | None = None,
    export_format: str | None = None,
    output_name: str | None = None,
    single_file: bool = True,
    input_dir: str = "sync-output",
    root_dir: str = ".",
    reserved_variables: dict[str, Any] | None = None,
    **singer_options: Any,
) -> None:
    """Dispatch to a writer (``etl-utils.ts:17-99``).

    Format precedence: ``export_format`` arg > ``DEFAULT_EXPORT_FORMAT``
    env > ``"singer"`` (``etl-utils.ts:23-26``).

    ``reserved_variables`` are job-scoped template variables for the
    ``OUTPUT_FILE_PREFIX`` templating, taking precedence over env/tenant
    values (``etl-utils.ts:25,34-35``).

    On the singer branch the dispatcher defaults ``allow_objects=True``
    — ``allowObjects: options.allowObjects ?? true``
    (``etl-utils.ts:55``) — while a DIRECT ``to_singer`` call keeps its
    own ``False`` default (``singer.ts:300``); pass
    ``allow_objects=False`` here to force JSON-stringified structs.

    Singer ``key_properties`` precedence: a NON-EMPTY ``keys`` arg,
    else a ``Reader`` PK lookup for the stream (parquet footer ->
    catalog breadcrumbs), matching ``toExport``'s
    ``options.keys || new Reader().getPk(name)`` fallback
    (``etl-utils.ts:50-51``) — ``||`` is falsy-or, so an empty keys
    list ALSO falls back to the PK lookup, exactly like the reference.
    ``input_dir``/``root_dir`` locate that Reader; to force a no-PK
    export, pass ``keys=[]`` with a stream that has no discoverable PK,
    or call ``to_singer`` directly.
    """
    fmt = (export_format or os.environ.get("DEFAULT_EXPORT_FORMAT") or "singer").lower()
    out_name = output_name or _resolve_name(name, unified_model, reserved_variables)
    os.makedirs(output_dir, exist_ok=True)

    if fmt == "singer":
        if not keys:  # None OR [] fall back, like the reference's ||
            from ..sources.reader import Reader

            keys = Reader(df.sparkSession, input_dir, root_dir).get_pk(name)
        # dispatcher-only default flip (etl-utils.ts:55): ?? true
        singer_options.setdefault("allow_objects", True)
        to_singer(
            df,
            out_name,
            output_dir,
            keys=keys,
            single_file=single_file,
            root_dir=root_dir,
            **singer_options,
        )
    elif fmt == "parquet":
        write_parquet(df, os.path.join(output_dir, f"{out_name}.parquet"))
    elif fmt == "csv":
        write_csv(df, os.path.join(output_dir, f"{out_name}.csv"), single_file=single_file)
    elif fmt == "jsonl":
        write_jsonl(df, os.path.join(output_dir, f"{out_name}.jsonl"), single_file=single_file)
    elif fmt == "json":
        write_json_array(df, os.path.join(output_dir, f"{out_name}.json"))
    else:
        raise ValueError(f"Unknown export format: {fmt!r}")
