"""Benchmark for gluestick_ts_spark, end to end and layer by layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 10 --trace 0

Workloads: ``etl_sync`` (Reader -> parse_df_cols -> snapshot_records ->
to_export, one sync per op), ``text_curation`` and ``sql_analytics``
(one registry leg per op, built and run to the noop sink). One
closed-loop client in one process drives ``local[4]``. ``BENCHMARK.json``
lists ``etl_sync`` and ``text_curation``. ``sql_analytics`` is the control
for build-layer changes: its ``plans.build_share`` is the base that
``text_curation``'s is compared with. It is run by hand, because a third
workload does not fit the time budget of a benchmark run set.

A run starts the session, which is ``setup_s``. It then warms the engine
with a fixed Spark workload that uses no library code, outside every
timed region, so the first op pays for the library's first use and not
for the engine's. It then measures whole passes of the workload until
``--seconds`` have passed; the first pass is what a fresh process pays,
which is how ETL jobs and curation runs are used. Before each op,
untimed, the files the run wrote are flushed to disk. Outputs are checked
outside the timed region. With ``--trace 0`` the run reports the
end-to-end metrics. With ``--trace 1`` the measured passes also record
spans, count py4j calls and read the status store after every op, and
the run reports the per-layer metrics; ``trace.overhead_frac`` is the
cost of the instruments that run inside the timed ops (spans and the
py4j counter), timed on this machine, over the op time. Every metric is
printed by name and unit, with the failed-op share, the number of
failed output checks and the legs whose result differs from ``ORACLES``
only where DuckDB's ``quantile_cont`` rounds apart from Spark's
``percentile`` (see ``checks``); the last line of stdout is one JSON
object.

``sources.read_s`` and ``functions.transform_s`` time plan construction
only: ``Reader.get`` and ``parse_df_cols`` are lazy, so the CSV and
Parquet scans and the JSON parse of ``props`` run when
``snapshot_records`` writes, and count in ``operators.snapshot_s``.

Inputs, state and caches live under ``.bench_build/perfbench`` in the
checkout; spans of a traced run are written to its ``traces``
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import tracing  # noqa: E402
from etl import EtlSync  # noqa: E402 - imports the program; fails without it
from registry import Registry  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
WORKLOADS = ("etl_sync", "text_curation", "sql_analytics")

SPAN_METRICS = {
    "sources.read_s": ("sources.discover", "sources.read"),
    "functions.transform_s": ("functions.transform",),
    "operators.snapshot_s": ("operators.snapshot",),
    "sinks.export_s.singer": ("sinks.export.singer",),
    "sinks.export_s.parquet": ("sinks.export.parquet",),
    "sinks.export_s.jsonl": ("sinks.export.jsonl",),
    "plans.build_s": ("plans.build",),
    "plans.exec_s": ("plans.exec",),
    "op.self_s": ("op",),
}
OP_SUMS = [
    "sources.rows_in", "sources.bytes_in", "operators.snapshot_bytes_written",
    "sinks.bytes_written", "plans.build_jobs", "plans.build_driver_s",
    "plans.py4j_calls", "plans.temp_bytes_held",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_ms", "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
]
LEG_METRICS = [
    "plans.build_s", "plans.exec_s", "plans.build_jobs", "plans.build_driver_s",
    "plans.py4j_calls", "plans.temp_bytes_held",
]


@dataclass
class Context:
    seed: int
    work_dir: str
    cache_dir: str
    tmp_dir: str
    tracer: object
    duck: object
    spark: object = None
    py4j: object = None
    store: object = None
    wrong: list[str] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    divergences: list[str] = field(default_factory=list)  # from ORACLES, see checks
    check_s: float = 0.0  # wall time spent in output checks

    def set_tracing(self, on: bool) -> None:
        """Spans, py4j counting and status-store reads, on or off."""
        if on and self.store is None:
            sc = self.spark.sparkContext
            self.py4j = tracing.Py4jCounter(sc._gateway._gateway_client)
            self.store = tracing.StatusStore(sc)
        self.tracer.enabled = on
        if self.py4j is not None:
            self.py4j.active = on

    def observe(self, op) -> None:
        """Read the status store for ``op`` while tracing."""
        if not self.tracer.enabled:
            return
        self.py4j.active = False
        try:
            op.layers.update(tracing.spark_counters(self.store, op))
        finally:
            self.py4j.active = True


def start_session(work_dir: str, tmp_dir: str):
    from gluestick_ts_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp_dir} -Dderby.system.home={work_dir}"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload, seconds: float) -> tuple[list, int]:
    """Whole passes until ``seconds`` have elapsed (at least one)."""
    ops, passes, start = [], 0, time.perf_counter()
    while passes == 0 or time.perf_counter() - start < seconds:
        ops += workload.run_pass()
        passes += 1
    return ops, passes


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples beyond it; the maximum when there are fewer than
    eleven samples."""
    s = sorted(samples)
    i = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s) - 1 - i


def end_to_end(ops, setup_s: float) -> dict[str, float]:
    done = [op for op in ops if op.ok]
    seconds = [op.seconds for op in done]
    return {
        "setup_s": setup_s,
        "rows_per_s": sum(op.rows for op in done) / sum(seconds),
        "op_p50_s": statistics.median(seconds),
        "op_tail_s": tail(seconds)[0],
    }


def per_layer(ops, passes: int, self_s: dict[str, float], session_s: float,
              overhead: float, legs: list[str], rss_mb: float) -> dict[str, float]:
    m = {"session.start_s": session_s, "peak_rss_mb": rss_mb}
    for name, spans in SPAN_METRICS.items():
        m[name] = sum(self_s.get(s, 0.0) for s in spans) / passes
    sums: dict[str, float] = defaultdict(float)
    for op in ops:
        for k, v in op.layers.items():
            sums[k] += v
    for k in OP_SUMS:
        m[k] = sums[k] / passes
    m["operators.snapshot_write_amp"] = (
        m["operators.snapshot_bytes_written"] / m["sources.bytes_in"]
        if m["sources.bytes_in"] else 0.0
    )
    # bytes stored per input byte after the last op of each pass
    ends = [op.layers["stored_bytes_per_input_byte"] for op in ops if op.name == ops[-1].name]
    m["stored_bytes_per_input_byte"] = statistics.median(ends)
    op_ms = 1000.0 * sum(op.seconds for op in ops)
    m["spark.busy_frac"] = m["spark.executor_run_ms"] * passes / (op_ms * CORES)
    busy = m["plans.build_s"] + m["plans.exec_s"]
    m["plans.build_share"] = m["plans.build_s"] / busy if busy else 0.0
    for leg in legs:
        mine = [op for op in ops if op.name == leg]
        for k in LEG_METRICS:
            m[f"{k}.{leg}"] = sum(op.layers[k] for op in mine) / len(mine) if mine else 0.0
    m["trace.overhead_frac"] = overhead
    return m


def report(workload: str, args, inputs: dict, phases: dict, ops, passes: int,
           metrics: dict, ctx: Context) -> dict:
    """Print every metric by name and unit; return the result object, whose
    metrics are exactly the ones ``BENCHMARK.json`` declares for the mode."""
    units = declared_units(args.trace)

    def unit(name: str) -> str:  # per-leg metrics share their family's unit
        return units.get(name) or units.get(name.rsplit(".", 1)[0], "")

    attempted = len(ops)
    failed = sum(not op.ok for op in ops)
    print(f"workload {workload}  seed {args.seed}  trace {args.trace}  cores {CORES}  "
          f"passes {passes}  ops {attempted}")
    print(f"  inputs  {json.dumps(inputs)}")
    print("  wall    " + "  ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print("  ops     " + "  ".join(f"{op.name} {op.seconds:.2f}" for op in ops))
    for name, value in metrics.items():
        print(f"  {name:<44} {value:.6g} {unit(name)}")
    if not args.trace:
        value, pct, beyond = tail([op.seconds for op in ops if op.ok])
        print(f"  {'op_tail_s is':<44} p{pct:.1f} of {attempted} ops, {beyond} beyond it")
    print(f"  {'failed_frac':<44} {failed / attempted:.6g} ({failed} of {attempted} ops)")
    print(f"  {'wrong_outputs':<44} {len(ctx.wrong)} checks")
    for problem in ctx.errors + ctx.wrong:
        print(f"  ! {problem}")
    if ctx.divergences:
        print(f"  {'oracle_divergences':<44} {len(ctx.divergences)} legs "
              "(differ from ORACLES, match it with Spark's percentile rule)")
    for divergence in ctx.divergences:
        print(f"  ~ {divergence}")
    return {
        "correct": not ctx.wrong and not ctx.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def declared_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def engine_warmup(spark, work_dir: str) -> None:
    """A fixed Spark workload that uses no library code. It loads the
    engine paths every op needs (parquet scan, regex, shuffle, window,
    join, Python UDF workers), so the first op of a pass pays for the
    library's first use, not for the engine's."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    path = os.path.join(work_dir, "warmup.parquet")
    spark.range(1_000).select(
        "id", (F.col("id") % 97).alias("k"),
        F.concat(F.lit("w "), F.col("id").cast("string"), F.lit(" x y")).alias("s"),
    ).write.mode("overwrite").parquet(path)
    d = spark.read.parquet(path)
    words = d.select("k", F.explode(F.split(F.regexp_replace("s", "[0-9]", "n"), " ")).alias("w"))
    ranked = words.groupBy("k", "w").count().withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy(F.desc("count")))
    )
    ranked.join(d.groupBy("k").agg(F.max("id").alias("m")), "k").collect()
    d.select(F.udf(len, "int")("s")).write.format("noop").mode("overwrite").save()


def run(args) -> dict:
    work = os.path.join(BUILD, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Temp stores, Spark scratch and JVM temp files stay inside the checkout.
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "TZ": "UTC"})
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    time.tzset()
    tempfile.tempdir = tmp
    ctx = Context(args.seed, work, os.path.join(BUILD, "cache"), tmp,
                  tracing.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", False),
                  duckdb.connect())
    spark = None
    try:
        workload = EtlSync(ctx) if args.workload == "etl_sync" else Registry(ctx, args.workload)
        start = time.perf_counter()
        spark = ctx.spark = start_session(work, tmp)
        spark.sparkContext.setLogLevel("ERROR")
        setup_s = time.perf_counter() - start
        warm_start = time.perf_counter()
        engine_warmup(spark, work)  # not part of setup_s: no library code
        warm_s = time.perf_counter() - warm_start
        ctx.set_tracing(bool(args.trace))
        ops, passes = measure(workload, args.seconds)
        ctx.set_tracing(False)
        workload.check()
        phases = {"setup": setup_s, "warm-up": warm_s,
                  "measure": time.perf_counter() - warm_start - warm_s,
                  "of which checks": ctx.check_s}
        if args.trace:
            self_s = ctx.tracer.self_times()
            ctx.tracer.write(os.path.join(BUILD, "traces", f"{ctx.tracer.run_id}.jsonl"))
            rss = tracing.peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
            overhead = tracing.instrument_cost_s(
                ctx.py4j.calls, len(ctx.tracer.spans)) / sum(op.seconds for op in ops)
            # per-leg metrics for this workload's legs and for every leg
            # BENCHMARK.json declares (zero when this workload has no such leg)
            declared = [n.split(".", 2)[2] for n in declared_units(1) if n.startswith("plans.build_s.")]
            legs = list(dict.fromkeys(getattr(workload, "legs", []) + declared))
            metrics = per_layer(ops, passes, self_s, setup_s, overhead, legs, rss)
        else:
            metrics = end_to_end(ops, setup_s)
        return report(args.workload, args, workload.inputs(), phases, ops, passes, metrics, ctx)
    finally:
        if spark is not None:
            stop_session(spark)
        ctx.duck.close()
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
