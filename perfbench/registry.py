"""Registry workloads: each op builds one ``QUERIES`` leg and runs it to
the ``noop`` sink.

The inputs are sf0.1 and read-only. The text legs read
``data/documents_sf0.1.parquet``, a copy of the repository's sf0.1
``documents`` fixture (5,000 rows, data seed 42); the relational tables
are generated once per checkout at sf0.1 from a fixed data seed. The
legs run in a fixed order, so the run's seed changes nothing here. (A
seed-permuted order moved the first-use costs the legs share from one
leg to another, which made the per-op percentiles depend on the seed
more than on the program.) After the measured passes every leg's result
is collected and compared with its DuckDB ``ORACLES`` answer (see
``checks`` for how percentiles are restated). The text
legs' answers are kept in ``data/oracles``; any other answer, or one
whose SQL, tables or DuckDB version changed, is computed on first use
and cached in the checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from gluestick_ts_spark.plans.queries import ORACLES, QUERIES

import checks
import gen
from tracing import Op, dir_bytes, flush_writes

DATA_SEED = 42
SF = 0.1
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DOCUMENTS = os.path.join(DATA, "documents_sf0.1.parquet")
# The text legs' DuckDB answers at sf0.1 take about two minutes; they are
# kept here so that no run has to compute them.
ORACLE_ANSWERS = os.path.join(DATA, "oracles")

WORKLOADS = {
    "sql_analytics": [
        "q1_pricing_summary", "q3_top_shipping", "q5_regional_revenue",
        "q6_revenue_delta", "window_funcs_orders", "asof_join_orders",
        "sessionize_events", "rollup_cube_status", "join_broadcast_brand",
        "dedup_keep_last",
    ],
    "text_curation": [
        "curation_pipeline_docs", "text_stats", "lang_scores",
        "bm25_search_docs", "minhash_dedup_docs", "dedup_incremental_docs",
    ],
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def oracle_tables(leg: str) -> list[str]:
    """The tables the leg's oracle restatement names."""
    return [t for t in TABLES
            if re.search(rf"\b(?:FROM|JOIN)\s+{t}\b", ORACLES[leg], re.IGNORECASE)]


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def prepare_tables(cache_dir: str, tables: list[str]) -> tuple[str, dict]:
    """Generate (or copy) ``tables`` once per checkout; returns the table
    directory and ``{name: {"rows", "bytes", "sha256"}}``."""
    digest = hashlib.sha256(f"{SF} {DATA_SEED} {sorted(tables)}".encode())
    for path in (gen.__file__, DOCUMENTS):
        digest.update(_sha256(path).encode())
    table_dir = os.path.join(cache_dir, f"tables-{digest.hexdigest()[:16]}")
    manifest_path = os.path.join(table_dir, "manifest.json")
    if not os.path.exists(manifest_path):
        manifest = gen.write_tables(table_dir, SF, DATA_SEED,
                                    [t for t in tables if t != "documents"])
        if "documents" in tables:
            target = os.path.join(table_dir, "documents.parquet")
            shutil.copyfile(DOCUMENTS, target)
            manifest["documents"] = {"rows": pq.ParquetFile(target).metadata.num_rows,
                                     "bytes": os.path.getsize(target)}
        for name, info in manifest.items():
            info["sha256"] = _sha256(os.path.join(table_dir, f"{name}.parquet"))
        with open(manifest_path, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
    with open(manifest_path, encoding="utf-8") as f:
        return table_dir, json.load(f)


class Registry:
    def __init__(self, ctx, name: str) -> None:
        self.ctx = ctx
        self.legs = WORKLOADS[name]
        tables = sorted({t for leg in self.legs for t in oracle_tables(leg)})
        self.table_dir, self.manifest = prepare_tables(ctx.cache_dir, tables)
        self.oracle = checks.Oracle(ctx.duck, self.table_dir, ORACLE_ANSWERS, ctx.cache_dir)
        self.leg_rows = {leg: self._input_rows(leg) for leg in self.legs}
        self.built: dict = {}  # leg -> its last DataFrame, for check()

    def inputs(self) -> dict:
        return {
            "sf": SF,
            "legs": len(self.legs),
            "rows": sum(t["rows"] for t in self.manifest.values()),
            "bytes": sum(t["bytes"] for t in self.manifest.values()),
        }

    def check(self) -> None:
        """Collect the last build of every leg, all legs at once, and
        compare it with its oracle answer, its percentiles computed by
        Spark's rule. Where that answer differs from the plain ``ORACLES``
        one, a result that matches it but not ``ORACLES`` is reported as
        a divergence from ``ORACLES``, not as a wrong output."""
        start = time.perf_counter()
        want, exact = {}, {}
        for leg in self.built:
            digests = [self.manifest[t]["sha256"] for t in oracle_tables(leg)]
            want[leg] = self.oracle.answer(ORACLES[leg], digests)
            exact[leg] = self.oracle.answer(checks.spark_percentiles(ORACLES[leg]), digests)

        def check_leg(leg: str) -> tuple[str | None, str | None]:
            df = self.built[leg]
            try:
                rows = df.collect()
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                return f"{leg}: {type(exc).__name__}: {exc}", None
            wrong = checks.compare(leg, df.columns, rows, exact[leg])
            if wrong or want[leg] == exact[leg]:
                return wrong, None
            return None, checks.compare(leg, df.columns, rows, want[leg])

        with ThreadPoolExecutor(max(1, len(want))) as pool:
            for wrong, divergence in pool.map(check_leg, want):
                if wrong:
                    self.ctx.wrong.append(wrong)
                if divergence:
                    self.ctx.divergences.append(divergence)
        self.ctx.check_s += time.perf_counter() - start

    def _input_rows(self, leg: str) -> int:
        """Rows of the tables the leg's oracle restatement names."""
        return sum(self.manifest[t]["rows"] for t in oracle_tables(leg))

    def run_pass(self) -> list[Op]:
        ctx, span = self.ctx, self.ctx.tracer.span
        tmp = ctx.tmp_dir
        ops = []
        for leg in self.legs:
            op = Op(leg, rows=self.leg_rows[leg])
            flush_writes(ctx.work_dir)
            held = dir_bytes(tmp)
            op.t0, start = time.time(), time.perf_counter()
            try:
                with span("op"):
                    calls = ctx.py4j.calls if ctx.py4j else 0
                    b0 = time.time()
                    with span("plans.build"):
                        df = QUERIES[leg](ctx.spark, self.table_dir)
                    op.build = (b0, time.time())
                    self.built[leg] = df
                    if ctx.py4j:
                        op.layers["plans.py4j_calls"] = ctx.py4j.calls - calls
                    with span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    op.layers["plans.exec_s"] = time.time() - op.build[1]
                    op.layers["plans.build_s"] = op.build[1] - op.build[0]
            except Exception as exc:  # noqa: BLE001 - a failed leg is counted, not fatal
                op.ok = False
                ctx.errors.append(f"{leg}: {type(exc).__name__}: {exc}")
            op.seconds = time.perf_counter() - start
            op.t1 = time.time()
            op.layers["plans.temp_bytes_held"] = dir_bytes(tmp) - held
            ctx.observe(op)
            ops.append(op)
        return ops
