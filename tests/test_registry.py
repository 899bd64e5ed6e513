"""Registry-level invariants: every driver query is oracle-covered,
the registry honors the 50-row driver cap, and the multimodal oracle's
arithmetic restatement matches the actual fake-codec byte functions.

No SparkSession needed — these are pure-Python contract pins.
"""

from __future__ import annotations

from gluestick_ts_spark.operators.multimodal import _fake_frames, _fake_resize
from gluestick_ts_spark.plans.queries import (
    ORACLES,
    QUERIES,
    _mm_synth_payload,
)


def test_registry_within_driver_cap():
    assert len(QUERIES) <= 50


def test_every_query_takes_spark_and_sf_only():
    """Each registry entry has ONE build path: the driver contract
    calls ``fn(spark, sf)``, so no query may grow a knob (a second
    parameter with a default) that forks a build only some callers
    take."""
    import inspect

    params = {n: list(inspect.signature(f).parameters) for n, f in QUERIES.items()}
    assert {n: p for n, p in params.items() if p != ["spark", "sf"]} == {}


def test_every_query_has_an_oracle():
    """Since r9 the oracle map is TOTAL: no rows-only residue. A new
    query without an oracle_sql entry must consciously delete this
    test, not silently weaken the correctness gate."""
    missing = sorted(set(QUERIES) - set(ORACLES))
    assert missing == []
    stale = sorted(set(ORACLES) - set(QUERIES))
    assert stale == []


def test_mm_synth_payload_deterministic_and_format_cycled():
    from gluestick_ts_spark.operators.media_codecs import sniff_format

    for i in range(24):
        p1, p2 = _mm_synth_payload(i), _mm_synth_payload(i)
        assert p1 == p2
        expect = {0: "bmp", 1: "wav", 2: "png", 3: "jpeg"}[i % 4]
        if i % 20 == 10:
            expect = "gif"  # the GIF slot rides the png quarter
        if i % 20 == 13:
            expect = "avi"  # round 11: the VIDEO slot rides the wav quarter
        if i % 20 == 6:
            expect = "mp4"  # round 12: metadata-probe slot, png quarter
        if i % 20 == 9:
            expect = "mp3"  # round 12: metadata-probe slot, wav quarter
        assert sniff_format(p1) == expect


def test_frame_oracle_arithmetic_matches_fake_codecs():
    """The multimodal_frame_pipeline oracle restates the fake resize +
    frame sampler as integer arithmetic over the input byte length;
    brute-force equality against the real byte functions for every
    length up to well past the 64-byte resize cap."""
    for n in range(1, 400):
        payload = bytes(range(256))[:1] * n
        resized = _fake_resize(payload, 16, 4)
        step = max(1, n // 64)
        rn = min(64, (n + step - 1) // step)
        assert len(resized) == rn, n
        frames = _fake_frames(resized, 3)
        fsize = max(1, rn // 3)
        expect = [
            min(fsize, rn - i * fsize) for i in range(min(3, rn))
        ]
        assert [len(f) for f in frames] == expect, n


# ---------------------------------------------------------------------------
# Registry reachability (round 10): the driver registry is CAPPED at 50
# rows, so new operators ride existing queries as tagged parts instead
# of new rows (the ham/c4/sem pattern). This map formalizes that
# contract: EVERY operator/function module must either name >= 1
# registry query that reaches it, or carry an explicit exemption with
# the reason the registry can't express it. A new module that does
# neither fails test_every_module_reachable_or_exempt — coverage stays
# total without cap pressure.
# ---------------------------------------------------------------------------

_Q = "queries"
_X = "exempt"

MODULE_REACH = {
    # operators/
    "operators.asof": (_Q, ["asof_join_orders", "range_join_followup_orders"]),
    "operators.bpe": (_Q, ["chunk_tokens_docs"]),  # bpepairs part
    "operators.bucketing": (_X, "storage-layout/bucketed-write helpers with no "
        "query-shaped output; pinned by tests/test_bucketing.py plan asserts"),
    "operators.cdc": (_Q, ["snapshot_upsert"]),  # diff part
    "operators.dedup": (_Q, ["dedup_exact_docs", "minhash_dedup_docs",
                             "dedup_clusters_docs", "simhash_pairs_docs",
                             "dedup_incremental_docs", "line_dedup_docs"]),
    "operators.drift": (_X, "two-generation PSI/JS monitoring report; pinned "
        "by hand-computed-PSI values in tests/test_drift.py (incl. the "
        "streaming twin) — no single-relation oracle surface"),
    "operators.dsir": (_Q, ["hash_split_documents"]),  # dsir part
    "operators.expectations": (_Q, ["stats_agg_orders"]),  # dq part
    "operators.frequent": (_Q, ["top_terms"]),  # heavy part
    "operators.funnel": (_Q, ["sessionize_events"]),  # funnel/retention parts
    "operators.imagehash": (_Q, ["multimodal_features"]),  # phash part + cols
    "operators.classifier": (_Q, ["lang_scores"]),  # clf_* columns (r12)
    "operators.jpeg_codec": (_Q, ["multimodal_features"]),  # jpeg quarter
    "operators.gif_codec": (_Q, ["multimodal_features"]),  # gif slots
    "operators.avi_codec": (_Q, ["multimodal_features"]),  # video slots (r11)
    "operators.linkage": (_Q, ["semi_anti_join_customers"]),  # fuzzy part
    "operators.linkgraph": (_X, "domain link graph + quantized PageRank "
        "over crawl outlinks; hand-computed-rank + partition-invariance "
        "pins in tests/test_linkgraph.py (r12)"),
    "operators.media_codecs": (_Q, ["multimodal_features"]),
    "operators.ml": (_Q, ["approx_distinct_users"]),  # auc/auc_lang parts
    "operators.multimodal": (_Q, ["multimodal_features",
                                  "multimodal_frame_pipeline"]),
    "operators.overlap": (_Q, ["approx_distinct_users"]),  # overlap part
    "operators.packing": (_Q, ["chunk_tokens_docs"]),  # pack part
    "operators.profile": (_Q, ["corpus_profile_docs",
                               "curation_pipeline_docs"]),
    "operators.psl": (_Q, ["curation_pipeline_docs"]),  # url-stage domains
    "operators.rollup": (_Q, ["rollup_events_hourly"]),
    "operators.scd2": (_Q, ["snapshot_upsert"]),  # scd2 part (shared merge)
    "operators.scd2_partitioned": (_Q, ["snapshot_upsert"]),
    "operators.search": (_Q, ["bm25_search_docs"]),
    "operators.setjoin": (_Q, ["ngram_jaccard_adjacent"]),  # ppjoin part
    "operators.similarity": (_Q, ["embedding_cosine_topk", "embedding_neardup",
                                  "semantic_dedup_embeddings", "ann_lsh_topk",
                                  "ann_ivf_topk", "ivf_train_centroids",
                                  "ngram_contamination_docs"]),
    "operators.skew": (_X, "salting/skew-mitigation utilities applied INSIDE "
        "other operators; pinned by tests/test_skew.py distribution asserts"),
    "operators.snapshot": (_Q, ["snapshot_upsert", "dedup_keep_last"]),
    "operators.snapshot_partitioned": (_X, "bucket-partitioned store layout "
        "for the snapshot family — byte-identical-untouched-bucket contract "
        "pinned by tests/test_snapshot.py; registry reaches the flat form "
        "via snapshot_upsert"),
    "operators.timeseries": (_Q, ["sessionize_events"]),  # anomaly/gapfill/
                                                          # debounce parts
    "operators.weburl": (_Q, ["curation_pipeline_docs"]),  # url stage
    # functions/
    "functions.datetime_utils": (_Q, ["parse_dates_fallback"]),
    "functions.json_utils": (_X, "reference-parity JSON helpers; the registry "
        "rows json_extract_agg / parse_objs_keep_original pin the identical "
        "semantics with inline expressions, module pinned by pytest"),
    "functions.sampling": (_Q, ["hash_split_documents"]),
    "functions.schema_drift": (_X, "pure-metadata ingest gate (no data "
        "output); pinned by tests/test_schema_drift.py"),
    "functions.templating": (_X, "reference-parity env/tenant templating "
        "(driver-side strings); pinned by tests/test_templating.py incl. "
        "property tests"),
    "functions.text": (_Q, ["text_stats", "lang_scores", "scalar_funcs",
                            "curation_pipeline_docs", "line_dedup_docs"]),
    "functions.vectors": (_Q, ["embedding_cosine_topk"]),
    # sinks/ + sources/
    "sinks.export": (_X, "file-sink dispatcher (side effects, no DataFrame "
        "out); byte-level reference-example replays in "
        "tests/test_examples_replay.py + tests/test_sinks.py"),
    "sinks.singer": (_X, "singer message sink; byte-level example replays"),
    "sinks.zorder": (_X, "file-layout writer; benefit MEASURED from written "
        "parquet footers in tests/test_zorder.py"),
    "sources.cdx": (_X, "crawl-index source (CDX/CDXJ/SURT) + ranged "
        "record fetch; byte-extent and fetch==scan equality pins in "
        "tests/test_cdx.py (r12)"),
    "sources.fs": (_X, "Hadoop-FS path utilities used by every store"),
    "sources.wat": (_X, "WAT metadata sidecar (generate/write/parse + "
        "link-graph edges); round-trip + real-CC-envelope + frontier "
        "composition pins in tests/test_wat.py (r12)"),
    "sources.parquet_compat": (_Q, ["parse_dates_fallback",
                                    "q1_pricing_summary"]),  # every _t() scan
    "sources.reader": (_X, "reference Reader (csv/parquet/catalog); "
        "end-to-end example replays in tests/test_examples_replay.py"),
    "sources.warc": (_X, "crawl-container source (WARC/1.1 + HTTP split); "
        "fixture round-trips + distributed binaryFile reads in "
        "tests/test_warc.py — a source, like sources.reader, has no "
        "single-relation oracle surface"),
    # streaming/
    "streaming.incremental": (_X, "foreachBatch twins of registry-reached "
        "batch operators; crash-replay pytest suite "
        "(tests/test_weburl.py, test_imagehash.py, test_streaming_*.py)"),
}


def test_every_module_reachable_or_exempt():
    """The part-riding contract: every module in the package either
    names live registry queries or carries an explicit exemption.
    Fails on (a) a new module with no entry, (b) an entry naming a
    query that left the registry, (c) a stale entry for a deleted
    module."""
    import pkgutil

    import gluestick_ts_spark.functions as fns
    import gluestick_ts_spark.operators as ops
    import gluestick_ts_spark.sinks as sks
    import gluestick_ts_spark.sources as srcs
    import gluestick_ts_spark.streaming as strm

    found = set()
    for pkg, prefix in [(ops, "operators"), (fns, "functions"),
                        (sks, "sinks"), (srcs, "sources"),
                        (strm, "streaming")]:
        for m in pkgutil.iter_modules(pkg.__path__):
            if not m.name.startswith("_"):
                found.add(f"{prefix}.{m.name}")
    unmapped = sorted(found - set(MODULE_REACH))
    assert unmapped == [], f"modules with no reachability entry: {unmapped}"
    stale = sorted(set(MODULE_REACH) - found)
    assert stale == [], f"reachability entries for deleted modules: {stale}"
    for mod, (kind, val) in MODULE_REACH.items():
        if kind == _Q:
            missing = sorted(set(val) - set(QUERIES))
            assert missing == [], (mod, missing)
            assert val, mod
        else:
            assert isinstance(val, str) and len(val) > 20, mod
