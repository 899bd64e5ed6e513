"""Headline suite: times the ``BENCH_QUERIES`` registry legs and prints
ONE JSON line.

Usage::

    SPARK_GRAFT_SF_DIR=<fixture dir> python bench.py

Environment:

- ``SPARK_GRAFT_SF_DIR``: fixture directory (default: the sf0.1
  fixture); ``SPARK_GRAFT_CPUS`` sets ``local[N]`` through ``get_spark``.
- ``SPARK_GRAFT_BENCH_RUNS`` (default 3) and
  ``SPARK_GRAFT_BENCH_VOLATILE_EXTRA`` (default 2): every leg gets
  runs + extra round-robin warm passes; ``queries`` holds the per-leg
  medians and ``value`` their sum. The first pass's timings (planning
  and codegen included) ride along as ``queries_cold`` / ``cold_total``.
- ``SPARK_GRAFT_BENCH_WARC=0`` / ``SPARK_GRAFT_BENCH_GRAPH=0`` skip the
  WARC-ingest and PageRank throughput legs;
  ``SPARK_GRAFT_BENCH_SUB_RUNS`` (default 3) is their median-of-N.

Each leg is built and written to the noop sink (every row materialized
on the executors, nothing collected); a failing leg is recorded under
``errors`` and the rest of the suite still runs.

Drift sentinel: ``q1_pricing_summary`` is timed at suite start and end.
``queries_normalized`` divides each median by the sentinel mean, which
cancels uniform box drift; compare normalized values across runs first,
and treat a ``sentinel.ratio`` far from 1.0 as a run whose load changed
mid-suite.

The full payload goes to ``BENCH_FULL.json`` and is appended to
``BENCH_HISTORY.jsonl``; the printed last line is trimmed to fit a
1,900-character tail capture.
"""

from __future__ import annotations

import json
import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gluestick_ts_spark.plans.queries import QUERIES
from gluestick_ts_spark.session import get_spark

# Headline set: parity ops + relational coverage + extensions.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_shipping",
    "q5_regional_revenue",
    "q6_revenue_delta",
    "join_broadcast_brand",
    "range_join_followup_orders",
    "window_funcs_orders",
    "rollup_cube_status",
    "rollup_events_hourly",
    "stats_agg_orders",
    "sessionize_events",
    "dedup_keep_last",
    "snapshot_upsert",
    "json_extract_agg",
    "parse_objs_keep_original",
    "asof_join_orders",
    "text_stats",
    "lang_scores",
    "dedup_exact_docs",
    "line_dedup_docs",
    "curation_pipeline_docs",
    "dedup_incremental_docs",
    "bm25_search_docs",
    "minhash_dedup_docs",
    "simhash_pairs_docs",
    "embedding_cosine_topk",
    "semantic_dedup_embeddings",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "multimodal_frame_pipeline",
    # round-9 addition: real-codec feature extraction + perceptual-hash
    # near-dup pairs (first medians are this round's baselines)
    "multimodal_features",
    # round-8 additions: the sketch/LM/shuffle/ppjoin rows
    "top_terms",
    "approx_distinct_users",
    "hash_split_documents",
    "ngram_jaccard_adjacent",
]


def _sub_median(fn, label: str = "") -> float:
    """Round 16: median-of-N for the warc/linkgraph SUB-legs — they sat
    outside the suite's median-of-5 umbrella and carried exactly the
    single-sample noise the headline legs were cured of in r14 (r15
    recorded pagerank warm 7.1 s vs cold 6.3 s on untouched code).
    N defaults to 3 (SPARK_GRAFT_BENCH_SUB_RUNS); each call of ``fn``
    must be a complete warm pass returning seconds."""
    n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SUB_RUNS", "3")))
    return statistics.median(fn() for _ in range(n))


def _bench_warc_ingest(spark) -> dict:
    """The WARC-ingest + WET-write throughput leg (round 12). It times
    ``read_warc(emit_text=True, emit_payload=False)`` (the curation
    entry path), ``write_wet`` of the extracted text from a persisted
    frame, and the CDX ``index_warc`` / ``fetch_warc_records`` sub-legs
    (fetch over a 12.5% urlkey-prefix selection). ``read_mb_s`` is
    on-disk container MB/s. The fixture is deterministic (seedless
    arithmetic word rotation), sf-independent, ~100 MB raw across 16
    containers, built and deleted under a temp dir; generation is
    reported but never timed."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gluestick_ts_spark.sources.warc import read_warc, warc_encode, write_wet

    root = tempfile.mkdtemp(prefix="gs_bench_warc_")
    try:
        wdir = os.path.join(root, "crawl")
        os.makedirs(wdir)
        t0 = time.time()
        # 8 base bodies (~16 KB each) rotated per record with a unique
        # prefix: deterministic, cheap to build, compresses like prose
        words = [f"w{i:03d}" for i in range(997)]
        bases = [
            " ".join(words[(b * 131 + j * 7) % 997] for j in range(2048))
            for b in range(8)
        ]
        containers, per = 16, 400
        disk_bytes = 0
        raw_bytes = 0
        for c in range(containers):
            recs = []
            for i in range(per):
                html = (
                    f"<html><head><title>doc {c}-{i}</title></head>"
                    f"<body><p>doc {c}-{i} {bases[(c + i) % 8]}</p></body></html>"
                )
                recs.append(
                    {
                        "warc_type": "response",
                        "url": f"http://bench{c:02d}.example/doc/{i}",
                        "content_type": "application/http; msgtype=response",
                        "body": (
                            b"HTTP/1.1 200 OK\r\n"
                            b"Content-Type: text/html; charset=utf-8\r\n\r\n"
                            + html.encode()
                        ),
                    }
                )
            raw_bytes += sum(len(r["body"]) for r in recs)
            blob = warc_encode(recs, per_record_gzip=True)
            disk_bytes += len(blob)
            with open(os.path.join(wdir, f"seg-{c:02d}.warc.gz"), "wb") as fh:
                fh.write(blob)
        gen_sec = round(time.time() - t0, 3)

        # READ leg: the curation entry path — text projected, payload
        # dropped at the scan (the module's 100 TB prescription).
        # Cold first (binaryFile scan codegen + first Arrow exchange is
        # ~2.5 s one-time on this box), then warm — the warm number is
        # the throughput headline, same convention as the query suite.
        def _read_pass() -> float:
            t0 = time.time()
            read_warc(
                spark, wdir, emit_text=True, emit_payload=False
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        read_cold = _read_pass()
        read_sec = _sub_median(_read_pass)

        docs = (
            read_warc(spark, wdir, emit_text=True, emit_payload=False)
            .where(F.col("error").isNull())
            .select("url", "text")
            .persist()
        )
        records = docs.count()  # cache materialization — untimed

        # WET WRITE leg: the sink alone (input frame is cached); warm
        # pass after one cold, like the read
        def _wet_pass(out: str) -> float:
            t0 = time.time()
            write_wet(docs, out, mode="overwrite")
            return time.time() - t0

        _wet_pass(os.path.join(root, "wet_cold"))
        out = os.path.join(root, "wet")
        wet_sec = _sub_median(lambda: _wet_pass(out))
        wet_bytes = sum(
            os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
        )
        docs.unpersist()

        # CDX leg (round 12): index the same fixture, publish CDXJ,
        # select 2 of 16 hosts (12.5%) by urlkey prefix, ranged-fetch
        # ONLY those records — the index-first access pattern. The
        # fetch headline is records/s over the SELECTED set; the win
        # to watch is fetch_sec << read_sec at matching selectivity.
        from gluestick_ts_spark.sources.cdx import (
            fetch_warc_records,
            index_warc,
            read_cdxj,
            write_cdxj,
        )

        def _index_pass() -> float:
            t0 = time.time()
            index_warc(spark, wdir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.time() - t0

        _index_pass()
        index_sec = _sub_median(_index_pass)
        cdxj_dir = os.path.join(root, "cdxj")
        write_cdxj(index_warc(spark, wdir), cdxj_dir)
        sel = read_cdxj(spark, cdxj_dir).where(
            "urlkey LIKE 'example,bench00%' OR urlkey LIKE 'example,bench01%'"
        )

        def _fetch_pass() -> float:
            t0 = time.time()
            fetch_warc_records(
                spark, sel, emit_text=True, emit_payload=False
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        _fetch_pass()
        fetch_sec = _sub_median(_fetch_pass)
        fetched = int(sel.count())

        # columnar-index leg (round 13): the cc-index parquet shape —
        # one-time write cost, then the probe that replaces a full
        # text-index scan (partition + row-group pruned)
        from gluestick_ts_spark.sources.cdx import (
            probe_cdx_parquet,
            read_cdx_parquet,
            write_cdx_parquet,
        )

        ccidx_dir = os.path.join(root, "ccidx")
        t0 = time.time()
        write_cdx_parquet(index_warc(spark, wdir), ccidx_dir)
        ccidx_write_sec = time.time() - t0

        def _probe_pass() -> float:
            t0 = time.time()
            probe_cdx_parquet(
                read_cdx_parquet(spark, ccidx_dir), "example,bench00"
            ).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        _probe_pass()
        ccidx_probe_sec = _sub_median(_probe_pass)

        # WAT sidecar leg (round 13): envelope generation (the in-row
        # JSON build over the container walk) and the sidecar write —
        # the per-dump metadata pass a crawl user runs once per
        # segment. Warm-after-cold like every other leg. A regression
        # here means the envelope build (title/outlink extraction +
        # to_json) or the per-record-gzip sink got slower.
        from gluestick_ts_spark.sources.wat import wat_from_warc, write_wat

        wat_src = read_warc(spark, wdir, emit_text=True, emit_payload=False)

        def _wat_gen_pass() -> float:
            t0 = time.time()
            wat_from_warc(wat_src).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.time() - t0

        _wat_gen_pass()
        wat_gen_sec = _sub_median(_wat_gen_pass)

        def _wat_write_pass(out: str) -> float:
            t0 = time.time()
            write_wat(wat_from_warc(wat_src), out, mode="overwrite")
            return time.time() - t0

        _wat_write_pass(os.path.join(root, "wat_cold"))
        wat_dir = os.path.join(root, "wat")
        wat_write_sec = _sub_median(lambda: _wat_write_pass(wat_dir))
        wat_bytes = sum(
            os.path.getsize(os.path.join(wat_dir, f))
            for f in os.listdir(wat_dir)
        )

        mb = 1024 * 1024
        return {
            "sub_runs": max(
                1, int(os.environ.get("SPARK_GRAFT_BENCH_SUB_RUNS", "3"))
            ),
            "containers": containers,
            "records": records,
            "container_bytes": disk_bytes,
            "raw_capture_bytes": raw_bytes,
            "fixture_gen_sec": gen_sec,
            "read_cold_sec": round(read_cold, 3),
            "read_sec": round(read_sec, 3),
            "read_mb_s": round(disk_bytes / mb / read_sec, 2),
            "read_raw_mb_s": round(raw_bytes / mb / read_sec, 2),
            "read_records_s": round(records / read_sec, 1),
            "wet_write_sec": round(wet_sec, 3),
            "wet_bytes": wet_bytes,
            "wet_mb_s": round(wet_bytes / mb / wet_sec, 2),
            "cdx_index_sec": round(index_sec, 3),
            "cdx_index_records_s": round(records / index_sec, 1),
            "cdx_fetch_records": fetched,
            "cdx_fetch_sec": round(fetch_sec, 3),
            "cdx_fetch_records_s": round(fetched / fetch_sec, 1),
            "ccidx_write_sec": round(ccidx_write_sec, 3),
            "ccidx_probe_sec": round(ccidx_probe_sec, 3),
            "wat_gen_sec": round(wat_gen_sec, 3),
            "wat_gen_records_s": round(records / wat_gen_sec, 1),
            "wat_write_sec": round(wat_write_sec, 3),
            "wat_bytes": wat_bytes,
            # records/s is the honest primary unit for WAT: the
            # payloads are tiny JSON envelopes, so MB/s through the
            # same sink that writes WET at ~26 MB/s reads as a
            # regression when it's just small records (annotated only)
            "wat_write_records_s": round(records / wat_write_sec, 1),
            "wat_write_payload_mb_s_note": round(
                wat_bytes / mb / wat_write_sec, 2
            ),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bench_linkgraph(spark) -> dict:
    """PageRank throughput leg (round 13): 3 damped rounds over a
    deterministic ~2x10^5-edge, ~33k-node synthetic domain graph (the
    eTLD+1 grain pagerank actually runs at — a real crawl's 10^7-node
    graph is this shape, 100x over). Headline is edges/s/round; the
    timed pass includes the per-round join+aggregate, the eager
    checkpoints, and the dangling-mass collects — i.e. everything a
    round costs. A regression here means the iteration plan grew a
    shuffle or the checkpoint overhead moved."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.linkgraph import pagerank

    iters = 3
    e = (
        spark.range(200_000)
        .select(
            F.concat(F.lit("d"), (F.col("id") % 9973).cast("string")).alias(
                "src"
            ),
            F.concat(
                F.lit("d"),
                ((F.col("id") * 7919 + 13) % 31337).cast("string"),
            ).alias("dst"),
            ((F.col("id") % 7) + 1).cast("long").alias("w"),
        )
        .where("src != dst")
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()

    def _pass() -> float:
        t0 = time.time()
        pagerank(e, iters=iters, weight_col="w").write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    cold = _pass()
    sec = _sub_median(_pass)
    return {
        "sub_runs": max(
            1, int(os.environ.get("SPARK_GRAFT_BENCH_SUB_RUNS", "3"))
        ),
        "edges": int(n_edges),
        "iters": iters,
        "pagerank_cold_sec": round(cold, 3),
        "pagerank_sec": round(sec, 3),
        "edges_per_s_per_round": round(n_edges * iters / sec, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None
    spark = get_spark(app_name="gluestick-ts-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM, file listing, and whole-stage-codegen paths with
    # tiny jobs exercising scan/join/agg/window before timing starts.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count("*").alias("c"))
        .withColumn("rk", F.row_number().over(Window.partitionBy("r_name").orderBy("c")))
        .count()
    )

    # DRIFT SENTINEL (round 10): the driver-measured warm suite drifted
    # 70.3 -> 88.5 s across rounds 8-9 while quiet re-runs stayed ~12%
    # lower — box/session noise is now the size of a real regression.
    # Re-time ONE stable, untouched-since-r3 query (q1) single-shot at
    # suite START and END; the pair (and their ratio) rides in the
    # headline so a round-over-round comparison can separate "the box
    # was slow" (sentinel moved with the suite) from "a plan regressed"
    # (a query moved, the sentinel didn't). ``queries_normalized``
    # divides each median by the sentinel mean — unitless ratios that
    # cancel uniform box drift across rounds.
    SENTINEL = "q1_pricing_summary"

    def _time_sentinel() -> float:
        fn = QUERIES[SENTINEL]
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    try:
        _time_sentinel()  # warm q1's own codegen so start != cold
        sentinel_start = _time_sentinel()
    except Exception as exc:  # noqa: BLE001 — sentinel must not kill the suite
        print(f"BENCH-ERR sentinel: {exc}", file=sys.stderr)
        sentinel_start = None

    # round 14: EVERY leg gets runs + extra passes (median-of-5 at the
    # defaults). r12 flagged six 15-34% phantom movers, r13 medianed
    # exactly those six — and the phantom moved to five DIFFERENT legs
    # at up to 1.96x with empty diffs, while all six medianed legs
    # landed 0.85-0.97x. Two rounds of evidence: per-leg drift on 1-2 s
    # legs is ~+/-50% at runs=3 on this box, so the fixed-subset fix
    # was aimed at the wrong set; medians for all legs cost ~2x warm
    # wall time (minutes) and buy a regression signal that actually
    # means something.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    extra_runs = max(
        0, int(os.environ.get("SPARK_GRAFT_BENCH_VOLATILE_EXTRA", "2"))
    )
    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    errors: dict[str, str] = {}
    for _ in range(n_runs + extra_runs):
        for name in BENCH_QUERIES:
            if name in errors:
                continue  # already failed; don't burn passes re-throwing
            fn = QUERIES[name]
            t0 = time.time()
            # Fault isolation: one broken query must not erase the
            # timing signal for the rest of the suite (round 4 lost ALL
            # bench numbers to a single analyzer error).
            try:
                df = fn(spark, sf_dir)
                # Materialize all rows on executors; don't move to driver.
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"BENCH-ERR {name}: {errors[name]}", file=sys.stderr)
                continue
            samples[name].append(time.time() - t0)
            # Release eager localCheckpoint RDDs the query pinned —
            # they free on Python GC, and letting them pile up inflates
            # executor memory pressure for every query timed after a
            # checkpoint-heavy one.
            del df
            gc.collect()

    # round 12: the ingest-grain throughput leg (fault-isolated like
    # everything else; SPARK_GRAFT_BENCH_WARC=0 skips it)
    warc_ingest: dict | None = None
    if os.environ.get("SPARK_GRAFT_BENCH_WARC", "1") != "0":
        try:
            warc_ingest = _bench_warc_ingest(spark)
        except Exception as exc:  # noqa: BLE001
            warc_ingest = {"err": f"{type(exc).__name__}: {exc}"[:500]}
            print(f"BENCH-ERR warc_ingest: {warc_ingest['err']}", file=sys.stderr)

    # round 13: the PageRank-iteration throughput leg (fault-isolated;
    # SPARK_GRAFT_BENCH_GRAPH=0 skips it)
    linkgraph: dict | None = None
    if os.environ.get("SPARK_GRAFT_BENCH_GRAPH", "1") != "0":
        try:
            linkgraph = _bench_linkgraph(spark)
        except Exception as exc:  # noqa: BLE001
            linkgraph = {"err": f"{type(exc).__name__}: {exc}"[:500]}
            print(f"BENCH-ERR linkgraph: {linkgraph['err']}", file=sys.stderr)

    try:
        sentinel_end = _time_sentinel()
    except Exception as exc:  # noqa: BLE001
        print(f"BENCH-ERR sentinel: {exc}", file=sys.stderr)
        sentinel_end = None
    sentinel_mean = (
        round((sentinel_start + sentinel_end) / 2, 3)
        if sentinel_start and sentinel_end
        else None
    )

    timed = {n: s for n, s in samples.items() if s}
    medians = {n: round(statistics.median(s), 3) for n, s in timed.items()}
    cold = {n: round(s[0], 3) for n, s in timed.items()}
    total = round(sum(medians.values()), 3)
    normalized = (
        {n: round(v / sentinel_mean, 3) for n, v in medians.items()}
        if sentinel_mean
        else {}
    )
    queries_out: dict[str, object] = dict(medians)
    for n, err in errors.items():
        queries_out[n] = {"err": err}
    # The FULL payload (cold map, raw medians, everything) goes
    # to BENCH_FULL.json (+ one appended line in BENCH_HISTORY.jsonl);
    # stdout's last line is the size-budgeted headline built below.
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": queries_out,
        "sf": sf_num,
        "runs": n_runs,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "errors": len(errors),
        "sentinel": {
            "query": SENTINEL,
            "start": sentinel_start,
            "end": sentinel_end,
            "mean": sentinel_mean,
            "ratio": (
                round(sentinel_end / sentinel_start, 3)
                if sentinel_start and sentinel_end
                else None
            ),
        },
        "queries_normalized": normalized,
        "warc_ingest": warc_ingest,
        "linkgraph": linkgraph,
        # round 16: the sub-legs ride the SAME sentinel as the suite
        # (they run between sentinel start/end), so their timing fields
        # get the same unitless box-drift-cancelling treatment the
        # query medians have had since r10
        "sub_legs_normalized": (
            {
                src: {
                    k: round(v / sentinel_mean, 3)
                    for k, v in d.items()
                    if k.endswith("_sec") and isinstance(v, (int, float))
                }
                for src, d in (
                    ("warc_ingest", warc_ingest),
                    ("linkgraph", linkgraph),
                )
                if isinstance(d, dict) and "err" not in d
            }
            if sentinel_mean
            else {}
        ),
        # methodology (round 14): EVERY leg's median comes from
        # runs + extra_runs warm samples (median-of-5 at defaults) —
        # the r12/r13 phantom-mover evidence says per-leg noise on
        # this box exceeds regression signal at 3 samples
        "warm_samples_per_leg": n_runs + extra_runs,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    # BENCH_FULL.json is overwritten every run (smoke runs clobber real
    # ones), and the driver's per-round snapshot only keeps the LAST
    # 2000 stdout chars — so raw medians also append to a durable
    # one-line-per-run history the repo can track across rounds.
    hist_path = os.path.join(here, "BENCH_HISTORY.jsonl")
    with open(hist_path, "a") as fh:
        fh.write(json.dumps({"ts": round(time.time(), 1), **full}) + "\n")
    # The driver archives the tail of stdout and parses its last line;
    # rounds 7, 13, and 14 all lost their raw medians because the
    # single line outgrew the 2000-char capture window and archived as
    # `parsed: null`. Emission contract since round 15: the LAST line
    # is BUILT to fit — per-leg medians rounded to 2 dp (raw values
    # live in BENCH_FULL.json / BENCH_HISTORY.jsonl), normalized
    # ratios as a 3-dp list ALIGNED TO THE SORTED "queries" KEY ORDER
    # (names stated once), and a shrink ladder that drops precision
    # before it ever exceeds the window.
    def _q2(v, nd):
        return round(v, nd) if isinstance(v, (int, float)) else {
            "err": str(v.get("err", v))[:60]
        }

    def _final_line(nd: int, with_queries: bool) -> dict:
        names = sorted(queries_out)
        line: dict[str, object] = {
            "metric": full["metric"],
            "value": total,
            "unit": "sec",
            "sf": sf_num,
            "errors": len(errors),
            "warm_samples_per_leg": n_runs + extra_runs,
            "sentinel_mean": sentinel_mean,
            "cold_total": full["cold_total"],
        }
        if with_queries:
            line["queries"] = {n: _q2(queries_out[n], nd) for n in names}
        else:
            line["query_names"] = names
        line["norm"] = [normalized.get(n) for n in names]
        line["norm_note"] = "norm[i] = median/sentinel_mean for sorted queries keys"
        line["full_json"] = full_path
        return line

    compact = _final_line(2, True)
    for fallback in (_final_line(1, True), _final_line(1, False)):
        if len(json.dumps(compact)) <= 1900:
            break
        compact = fallback
    out_line = json.dumps(compact)
    if len(out_line) > 1900:
        print(
            f"BENCH-WARN final line {len(out_line)} chars exceeds the "
            "1900-char tail-capture budget", file=sys.stderr,
        )
    print(out_line)


if __name__ == "__main__":
    main()
