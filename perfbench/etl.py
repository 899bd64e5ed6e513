"""``etl_sync``: the reference's whole job, one sync per op.

A sync discovers the tap output with ``Reader``, reads every stream with
catalog types, parses the catalog's object columns with ``parse_df_cols``,
merges the batch into the primary-key snapshot with ``snapshot_records``
(datetimes localised), and exports the merged snapshot as singer, parquet
and jsonl with ``to_export``. A pass is one whole series of syncs into a
fresh state directory, so every pass holds the same syncs: the first
writes the snapshot, the later ones merge into it and rewrite it whole.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from gluestick_ts_spark import Reader, parse_df_cols, snapshot_records, to_export

import checks
import gen
from tracing import Op, dir_bytes, flush_writes

EXPORT_FORMATS = ("singer", "parquet", "jsonl")
N_BATCHES = 3  # a fourth sync added 13 s to a 44 s run; see BASELINE.md
# batch 0 is a full sync of the sf0.1 orders and events tables
ORDERS0 = gen.table_sizes(0.1)["orders"]
EVENTS0 = gen.table_sizes(0.1)["events"]


class EtlSync:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.batches = gen.write_sync_series(
            os.path.join(ctx.work_dir, "inputs"), ctx.seed, N_BATCHES, ORDERS0, EVENTS0
        )
        self._state = 0

    def inputs(self) -> dict:
        return {
            "batches": len(self.batches),
            "rows": sum(b.rows for b in self.batches),
            "bytes": sum(b.bytes for b in self.batches),
        }

    def check(self) -> None:
        """Nothing left to check: every sync is checked right after it."""

    def run_pass(self) -> list[Op]:
        self._state += 1
        state = os.path.join(self.ctx.work_dir, f"state_{self._state}")
        snapshots = os.path.join(state, "snapshots")
        exports = os.path.join(state, "exports")
        ops = []
        input_bytes = 0
        for i, batch in enumerate(self.batches):
            shutil.rmtree(exports, ignore_errors=True)
            flush_writes(self.ctx.work_dir)
            op = self._sync(batch, snapshots, exports, i)
            input_bytes += batch.bytes
            if op.ok:
                start = time.perf_counter()
                self._check(self.batches[: i + 1], snapshots, exports, op)
                self.ctx.check_s += time.perf_counter() - start
            snap_b, export_b = dir_bytes(snapshots), dir_bytes(exports)
            op.layers["operators.snapshot_bytes_written"] = snap_b
            op.layers["sinks.bytes_written"] = export_b
            op.layers["stored_bytes_per_input_byte"] = (snap_b + export_b) / input_bytes
            ops.append(op)
        shutil.rmtree(state, ignore_errors=True)
        return ops

    def _sync(self, batch, snapshots: str, exports: str, i: int) -> Op:
        ctx, span = self.ctx, self.ctx.tracer.span
        op = Op(f"sync_{i}", rows=batch.rows)
        op.layers["sources.rows_in"] = batch.rows
        op.layers["sources.bytes_in"] = batch.bytes
        sync_dir = os.path.join(batch.root, "sync-output")
        op.t0, start = time.time(), time.perf_counter()
        try:
            with span("op"):
                with span("sources.discover"):
                    reader = Reader(ctx.spark, sync_dir, batch.root)
                    with open(os.path.join(batch.root, "catalog.json"), encoding="utf-8") as f:
                        catalog = {s["stream"]: s for s in json.load(f)["streams"]}
                for stream in reader.streams:
                    with span("sources.read"):
                        df = reader.get(stream, catalog_types=True)
                        pk = reader.get_pk(stream)
                    with span("functions.transform"):
                        df = parse_df_cols(df, catalog[stream]["schema"]["properties"])
                    with span("operators.snapshot"):
                        merged = snapshot_records(
                            df, stream, snapshots, pk=pk, localize_datetime_types=True
                        )
                    for fmt in EXPORT_FORMATS:
                        with span(f"sinks.export.{fmt}"):
                            to_export(merged, stream, exports, keys=pk, export_format=fmt,
                                      input_dir=sync_dir, root_dir=batch.root)
        except Exception as exc:  # noqa: BLE001 - a failed sync is counted, not fatal
            op.ok = False
            ctx.errors.append(f"{op.name}: {type(exc).__name__}: {exc}")
        op.seconds = time.perf_counter() - start
        op.t1 = time.time()
        ctx.observe(op)
        return op

    def _check(self, sent, snapshots: str, exports: str, op: Op) -> None:
        con, problems = self.ctx.duck, self.ctx.wrong
        expected = []
        for stream, pk in gen.STREAM_PKS.items():
            snap_path = os.path.join(snapshots, f"{stream}.snapshot.parquet")
            problem, n = checks.snapshot_matches(
                con, stream, pk, [b.root for b in sent], snap_path
            )
            expected.append((stream, n))
            parquet = f"read_parquet('{exports}/{stream}.parquet/*.parquet')"
            exported = {
                "parquet": checks.count_rows(con, parquet),
                "jsonl": checks.count_lines(os.path.join(exports, f"{stream}.jsonl")),
            }
            for fmt, got in exported.items():
                if got != n:
                    problems.append(f"{op.name}: {fmt} export of {stream} has {got} rows != {n}")
            if problem:
                problems.append(f"{op.name}: {problem}")
        # Reader lists streams sorted by name; the singer file follows that order.
        problem = checks.singer_matches(os.path.join(exports, "data.singer"), sorted(expected))
        if problem:
            problems.append(f"{op.name}: {problem}")
