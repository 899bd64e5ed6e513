"""Physical-plan regression gates for the headline queries.

Correctness tests prove the VALUES; these prove the PLAN — the
properties that decide whether a query survives a 100 TB scale-up:
small dimensions broadcast (no shuffled join of a 5-row region table),
filters reach the parquet scan (PushedFilters), projections prune the
read schema (a 2-column query must not scan 16 columns), hot
relational paths stay JVM-side (no Python eval operators), and
single-aggregation queries shuffle exactly once. A regression in any
of these can pass every value check at sf0.001 and still fall over on
a cluster.
"""

from __future__ import annotations

import re

import pytest

from gluestick_ts_spark.plans.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _shuffles(plan: str) -> int:
    # detail-section headers only; broadcast exchanges are not shuffles
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


@pytest.mark.parametrize(
    "name",
    ["q3_top_shipping", "q5_regional_revenue", "q14_promo_revenue",
     "join_broadcast_brand", "q7_nation_volume", "q10_returned_items"],
)
def test_dimension_joins_broadcast(spark, sf_dir, name):
    """Every dim-to-fact join must be a broadcast join — a shuffled
    join keyed on a 5-row region table would shuffle the fact side for
    nothing."""
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, name
    assert "SortMergeJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize(
    "name,must_push",
    [
        ("q6_revenue_delta", "l_shipdate"),      # date + qty + discount slice
        ("q14_promo_revenue", "l_shipdate"),     # month slice
        ("q3_top_shipping", "o_orderdate"),      # date slice on orders
    ],
)
def test_filters_reach_parquet_scan(spark, sf_dir, name, must_push):
    """Selective predicates must appear in PushedFilters — a filter
    evaluated post-scan reads the whole table off disk first."""
    plan = _plan(spark, sf_dir, name)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(must_push in p for p in pushed), (name, pushed)


@pytest.mark.parametrize(
    "name,table_width,max_cols",
    [
        ("q1_pricing_summary", 16, 7),    # lineitem is 16 cols wide
        ("q6_revenue_delta", 16, 4),
        ("stats_agg_orders", 9, 4),       # orders is 9 cols wide
        ("hash_split_documents", 5, 3),   # documents: doc_id + lang + text
                                          # (text feeds the dsir gram fold)
    ],
)
def test_scan_schema_pruned(spark, sf_dir, name, table_width, max_cols):
    """Column pruning must reach the scan: reading all N columns for a
    narrow projection multiplies scan bytes at 100 TB."""
    plan = _plan(spark, sf_dir, name)
    widths = [s.count(":") for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]
    assert widths, name
    assert max(widths) <= max_cols < table_width, (name, widths)


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "sessionize_events", "text_stats", "lang_scores",
     "dedup_exact_docs", "chunk_tokens_docs", "ngram_contamination_docs",
     "minhash_dedup_docs", "simhash_pairs_docs", "ann_lsh_topk",
     "dedup_incremental_docs"],
)
def test_hot_paths_have_no_python_operators(spark, sf_dir, name):
    """Relational, text, and dedup/ANN hot paths are pure Column
    expressions — a Python eval node (pickled row round-trip) in one of
    these is a 10-100x slowdown that values-tests can't see. (The only
    sanctioned Python boundary is Arrow mapInPandas in the multimodal
    queries.)"""
    plan = _plan(spark, sf_dir, name)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, (name, node)


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q6_revenue_delta", "window_funcs_orders"],
)
def test_single_pass_queries_shuffle_once(spark, sf_dir, name):
    """One groupBy/window over one table = exactly one shuffle; a
    second Exchange means the plan re-partitions data it already
    partitioned. (sessionize_events left this list when it became the
    behavioral-analytics union — its sess part's single user-keyed
    window is now covered by the dedicated gate below; same for
    stats_agg_orders when it gained the dq leg — its stats part is
    gated alone below.)"""
    plan = _plan(spark, sf_dir, name)
    assert _shuffles(plan) <= 1, (name, _shuffles(plan))


def test_stats_part_still_shuffles_once_and_dq_scans_once(spark, sf_dir):
    """stats_agg_orders grew legs, but its stats part must keep the
    single-aggregation single-shuffle plan, and the dq leg (the
    expectations report) must fold all five constraints into ONE scan
    of orders — exchanges after the aggregate carry a handful of
    1-row summaries, but a second 'Scan parquet' means a constraint
    bought its own corpus pass."""
    from pyspark.sql import functions as F

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    stats = QUERIES["stats_agg_orders"](spark, sf_dir).where(F.col("part") == "stats")
    plan = stats._jdf.queryExecution().explainString(mode)
    assert _shuffles(plan) <= 1, _shuffles(plan)
    dq = QUERIES["stats_agg_orders"](spark, sf_dir).where(F.col("part") == "dq")
    plan = dq._jdf.queryExecution().explainString(mode)
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) <= 1, scans
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_sessionize_union_keeps_user_keyed_shuffles_only(spark, sf_dir):
    """The behavioral-analytics union (sessionize + funnel +
    retention + gapfill) must key every hash exchange on its analysis
    keys — user id (sess window, funnel/cohort aggregates and join),
    the tiny (cohort, offset) pair, or the gapfill leg's (event_type[,
    bucket]) keys — never on anything wider, and never a global sort
    (the gapfill windows order WITHIN key partitions only)."""
    plan = _plan(spark, sf_dir, "sessionize_events")
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all(
        ("user_id" in a) or ("__u" in a) or ("cohort" in a)
        or ("event_type" in a)
        for a in hashed
    ), hashed
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_fuzzy_join_leg_never_cross_joins(spark, sf_dir):
    """The edit-distance leg's ORACLE is the quadratic cross join; the
    Spark plan must instead equi-join 16-byte deletion-variant keys —
    no cartesian/nested-loop joins anywhere in the union, and no hash
    exchange ever keys on the raw name column."""
    plan = _plan(spark, sf_dir, "semi_anti_join_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert all("c_name" not in a and "val_" not in a for a in hashed), hashed
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_ann_lsh_reuses_query_partitioning(spark, sf_dir):
    """The LSH candidate pipeline must dedup and rank on ONE
    query-keyed exchange — regressing to separate (query, neighbor)
    and (query) shuffles doubles post-join data movement."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import ann_lsh_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ann_lsh_topk(e, e.where(F.col("vec_id") < 8), k=5, dim=64)
    plan = _plan_of(spark, out)
    assert _shuffles(plan) == 1, plan
    args = re.findall(r"\(\d+\) Exchange\n(?:[^\n]*\n)?Arguments: ([^\n]+)", plan)
    assert all("neighbor_id" not in a for a in args), args


def _plan_of(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_bucketed_store_candidate_join_prunes_partitions(spark, sf_dir, tmp_path):
    """The store side of the incremental-dedup candidate join must be
    PARTITION-PRUNED to the batch's buckets: a bucket IN (...) filter on
    the store scan, and strictly fewer bucket dirs read than the store
    holds. Without pruning, every daily batch re-scans (and re-shuffles)
    the whole corpus signature store — the exact cost the bucketed
    layout exists to avoid at 100 TB."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.dedup import (
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        write_signature_store,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    store_sigs = minhash_signatures(docs.where(F.col("doc_id") % 3 == 0))
    path = "file://" + str(tmp_path / "store")
    # many buckets so a 2-doc batch cannot cover them all
    write_signature_store(store_sigs, path, num_bands=16, num_buckets=64)

    batch = docs.where(F.col("doc_id").isin([1, 2]))
    survivors, _ = dedup_minhash_incremental_bucketed(batch, path, threshold=0.7)
    plan = _plan_of(spark, survivors)
    pf = [
        p
        for p in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if "bucket" in p
    ]
    assert pf, plan[:2000]
    # the IN-list is the pruning: 2 docs x 16 bands hit at most 32 of
    # the 64 bucket dirs, so the scan provably skips the majority of
    # the store (inputFiles() can't show this — it lists the pre-prune
    # file index; the optimizer applies the partition filter at scan
    # planning)
    in_vals = re.search(r"INSET ([\d, ]+)|IN \(([\d, ]*)\)", pf[0])
    assert in_vals, pf[0]
    vals = (in_vals.group(1) or in_vals.group(2)).strip(", ")
    n_buckets_read = len(vals.split(","))
    assert 0 < n_buckets_read <= 32, pf[0]


def test_whole_stage_codegen_covers_headline_agg(spark, sf_dir):
    """The q1 aggregation pipeline must run inside WholeStageCodegen —
    falling out of codegen (e.g. via an unsupported expression) is a
    silent interpreter-mode regression. (AQE finalizes the physical
    plan only at execution, so run the 6-row aggregate and inspect the
    executed plan.)"""
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(n) Operator" in the executed plan
    starred = re.findall(r"\*\(\d+\) (\w+)", plan)
    assert "HashAggregate" in starred, (starred, plan[:300])


def _exchange_args(plan: str) -> list[str]:
    return re.findall(r"\(\d+\) Exchange\n(?:[^\n]*\n)?Arguments: ([^\n]+)", plan)


def _hash_shuffles(plan: str) -> int:
    """Key-partitioned exchanges only: the small-scan-only _spread
    repartition compiles to RoundRobinPartitioning and is a no-op on a
    sharded corpus, so plan gates count the exchanges that move data BY
    KEY (the ones that scale with a join/agg)."""
    return sum(1 for a in _exchange_args(plan) if "hashpartitioning" in a)


def test_winnow_columns_keep_single_shuffle_and_hash_keys(spark, sf_dir):
    """The winnowing fingerprint columns riding dedup_exact_docs are
    map-only: the query still key-shuffles exactly once (the keep-last
    window on the 16-byte fingerprint; the only other exchange is the
    round-robin spread of the small scan) and no exchange ever keys on
    document text."""
    plan = _plan(spark, sf_dir, "dedup_exact_docs")
    assert _hash_shuffles(plan) == 1, plan
    args = _exchange_args(plan)
    hashed = [a for a in args if "hashpartitioning" in a]
    assert hashed and all("text" not in a for a in hashed), args


def test_corpus_profile_is_one_pruned_aggregate_pass(spark, sf_dir):
    """The dataset-card profile must stay the cheapest full-corpus
    statement: scan reads only (text, lang, source) of the 5-column
    table, every per-doc stat is a map-side Column expression (no
    Python), and the only key shuffles are the two of the canonical
    distinct-aggregate (group+fingerprint, then group) — keyed on
    short columns, never on document text."""
    plan = _plan(spark, sf_dir, "corpus_profile_docs")
    widths = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert widths and max(s.count(":") for s in widths) <= 3, widths
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert _hash_shuffles(plan) <= 2, plan
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all("text" not in a for a in hashed), hashed


def test_top_terms_unigram_has_no_global_window_and_broadcasts_vocab(spark, sf_dir):
    """The unigram-LM half of top_terms must scale: the top-V
    vocabulary comes from TakeOrderedAndProject (per-partition top-V,
    merged on the driver) — NEVER a single-partition Window sort of
    the full distinct vocabulary — the vocab joins back as a
    broadcast, and no exchange keys on document text."""
    plan = _plan(spark, sf_dir, "top_terms")
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    args = _exchange_args(plan)
    assert all("text" not in a for a in args), args


def test_line_dedup_broadcasts_boilerplate_and_shuffles_twice(spark, sf_dir):
    """All four dedup grains (corpus lines, within-doc lines, C4
    sentence spans, ExactSubstr 8-token windows) must keep the corpus
    on the map side for their boilerplate decisions: duplicate
    line/span/window stats (HAVING count>=2 subsets, map-side
    combined) broadcast back onto their streams — never a
    corpus-vs-corpus shuffled self-join — so the key shuffles are each
    grain's stats aggregate, removal dedup, and doc-keyed reassembly,
    and nothing more. Hot lines/spans/windows are safe BECAUSE the
    aggregates combine map-side; window-over-key formulations would
    put every occurrence of a hot key in one partition."""
    plan = _plan(spark, sf_dir, "line_dedup_docs")
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # per grain: stats-agg key + removal dedup + doc-keyed rebuild
    # (line: 2, span: 3, substr: 3) — 8 total, all short keys
    assert _hash_shuffles(plan) <= 8, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert all("text" not in a for a in hashed), hashed


def test_semantic_dedup_confines_quadratic_work_to_clusters(spark, sf_dir):
    """SemDeDup's whole point is O(sum of cluster sizes squared), not
    O(n^2): the pairwise-cosine stage must be an EQUI-join on the
    centroid id — never a nested-loop/cartesian cross join — the
    centroid assignment must be in-row (no assignment shuffle: every
    key exchange keys on id/cid, none on a vector column), and no
    Python operators anywhere."""
    plan = _plan(spark, sf_dir, "semantic_dedup_embeddings")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan), plan[:1500]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all("__v" not in a and "embedding" not in a for a in hashed), hashed


def test_curation_pipeline_composes_without_new_shuffle_classes(spark, sf_dir):
    """The end-to-end curation verdict must inherit its stages' scale
    shapes, not add new ones: benchmark gram set broadcasts (no
    corpus-vs-corpus contamination join), no Python operators, no
    cartesian products, and no exchange ever keys on document text —
    every key shuffle is on doc id / fingerprint / token / gram
    hash."""
    plan = _plan(spark, sf_dir, "curation_pipeline_docs")
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the unigram model's 1-row
    # corpus-total broadcast (a scalar attached to every row); count
    # detail-section headers, not tree echoes
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all("text" not in a for a in hashed), hashed
    # the round-9 URL stage's two windows key on THEIR short derived
    # columns (normalized url / eTLD+1 domain) — presence proves the
    # stage composed into the plan without a new shuffle class. Round
    # 16: the full path checkpoints the per-doc flag relation before
    # the adaptive filter's double read, so those windows execute at
    # construction and no longer print in the final explained plan —
    # the gate moves to the two URL-stage operators the full path runs
    # pre-checkpoint, over a synthetic URL column.
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.weburl import domain_cap_flag, url_dedup_flag

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url_df = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://www.example"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".org/item/"),
            F.col("doc_id").cast("string"),
        ).alias("__url"),
    )
    url_df = url_dedup_flag(url_df, "__url", "doc_id", flag_col="url_keep")
    url_df = domain_cap_flag(
        url_df, "__url", "doc_id", cap=25, seed=1,
        flag_col="domain_keep", domain_col="domain",
    ).drop("__url")
    url_hashed = [
        a
        for a in _exchange_args(
            url_df._jdf.queryExecution().explainString(mode)
        )
        if "hashpartitioning" in a
    ]
    assert any("__url_norm" in a for a in url_hashed), url_hashed
    assert any("__dom" in a for a in url_hashed), url_hashed


def test_bm25_shuffles_short_keys_and_broadcasts_query_side(spark, sf_dir):
    """Hybrid retrieval must keep the corpus on the map side: the
    BM25 leg's query vocabulary and per-term document frequencies
    broadcast (no sort-merge join anywhere — and the 50-row BM25
    ranking is checkpointed so its corpus subtree never inlines
    twice); the vector leg's only nested-loop join is the broadcast
    of the 5 hashed query vectors across the corpus; every exchange
    keys on short columns (term/id/query_id — never document text);
    and the shuffle budget stays at the justified ones (BM25:
    match-dedup, df-count, 1-row stats, shared query-keyed exchange;
    fusion: cosine rank window + the (query, doc) fusion aggregate +
    its rank window)."""
    plan = _plan(spark, sf_dir, "bm25_search_docs")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1, plan[:1500]
    assert _hash_shuffles(plan) <= 6, plan
    args = _exchange_args(plan)
    assert args and all("text" not in a for a in args), args

    # the checkpointed BM25 subtree, asserted on the operator itself
    import os

    from pyspark.sql import functions as F

    from gluestick_ts_spark.functions.text import tokens_expr
    from gluestick_ts_spark.operators.search import bm25_topk

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    q = d.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 8)).alias(
            "query_text"
        ),
    )
    bm = bm25_topk(d, q, k=10)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    bplan = bm._jdf.queryExecution().explainString(mode)
    assert "SortMergeJoin" not in bplan
    assert bplan.count("BroadcastHashJoin") >= 2, bplan
    assert _hash_shuffles(bplan) <= 3, bplan
    bargs = _exchange_args(bplan)
    assert bargs and all("text" not in a for a in bargs), bargs


def test_fingerprint_membership_probe_prunes_and_broadcasts_batch(
    spark, sf_dir, tmp_path
):
    """The streaming curation filter's dedup stage must stay bounded by
    the BATCH at any store size: the store scan partition-pruned to the
    batch's fp buckets (bucket IN (...) with fewer buckets than the
    store holds), the batch side broadcast into a LeftSemi probe, and
    the store side NEVER broadcast — the round-6 scale-killer was a
    broadcast of the whole (unboundedly growing) fingerprint store on
    every micro-batch."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.functions.text import fingerprint_expr
    from gluestick_ts_spark.operators.dedup import (
        fingerprint_store_membership,
        write_fingerprint_store,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = "file://" + str(tmp_path / "memstore")
    write_fingerprint_store(
        docs.select(fingerprint_expr("text").alias("fp")).distinct(),
        path,
        num_buckets=64,
    )
    probe = docs.where(F.col("doc_id").isin([1, 2])).select(
        fingerprint_expr("text").alias("fp")
    )
    hits = fingerprint_store_membership(probe, path)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = hits._jdf.queryExecution().explainString(mode)
    # partition pruning: 2 fps hit at most 2 of the 64 bucket dirs
    pf = [
        p
        for p in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if "bucket" in p
    ]
    assert pf, plan[:2000]
    in_vals = re.search(r"INSET ([\d, ]+)|IN \(([\d, ]*)\)", pf[0])
    assert in_vals, pf[0]
    assert len((in_vals.group(1) or in_vals.group(2)).strip(", ").split(",")) <= 2
    # probe shape: batch broadcast into a semi-join; the parquet store
    # scan streams (it is the LeftSemi build's STREAMED side, so the
    # only broadcast exchange must NOT hang off the store scan)
    assert "LeftSemi" in plan, plan[:2000]
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert "Scan parquet" in plan


def test_scd2_merge_keys_on_pk_and_broadcasts_batch_keys(spark, tmp_path):
    """The SCD2 merge must shuffle ONLY on the primary key (the
    timeline windows) with the batch's key set BROADCAST into the
    touched/untouched split — a shuffled anti-join keyed on the whole
    history would move the closed-history mass every batch."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.scd2 import _row_hash, _scd2_merge

    hist = spark.range(1000).select(
        F.col("id"),
        F.concat(F.lit("c"), F.col("id")).alias("city"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
        _row_hash(["city"]).alias("row_hash"),
    )
    batch = spark.range(5).select(
        F.col("id"),
        F.lit("moved").alias("city"),
        F.lit("2024-02-01 00:00:00").cast("timestamp").alias("valid_from"),
        _row_hash(["city"]).alias("row_hash"),
        F.lit(1).alias("__src"),
    )
    merged = _scd2_merge(hist, batch, ["id"], ["city"])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = merged._jdf.queryExecution().explainString(mode)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # both the anti (untouched bypass) and semi (touched) joins
    # broadcast the batch-key side
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, plan[:1500]
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    # every key exchange carries the pk, none the attribute payload
    assert hashed and all("id" in a and "city" not in a for a in hashed), hashed


def test_snapshot_diff_leg_is_one_pk_equi_join(spark, sf_dir):
    """The CDC diff leg (snapshot_upsert 'diff' part) is ONE pk-keyed
    full-outer equi-join: every hash exchange keys on the pk, the join
    is never a nested-loop/cartesian fallback, and everything after
    the join is map-only (no second aggregation shuffle)."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.cdc import snapshot_diff

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    old = o.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("total")
    )
    new = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("total")
    )
    df = snapshot_diff(old, new, pk="o_orderkey", compare_cols=["total"])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "FullOuter" in plan, plan[:2000]
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:2000]
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all("o_orderkey" in a for a in hashed), hashed
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_anomaly_leg_windows_within_key_partitions(spark, sf_dir):
    """The rolling-zscore leg (sessionize_events 'anomaly' part) keys
    every exchange on event_type (the baseline window and the spine
    join reuse the aggregate's partitioning) and never sorts globally
    — the trailing frame orders buckets WITHIN each key's partition."""
    from pyspark.sql import functions as F

    df = QUERIES["sessionize_events"](spark, sf_dir).where(F.col("part") == "anomaly")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all("event_type" in a for a in hashed), hashed
    assert "rangepartitioning" not in plan, plan[:2000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_overlap_leg_joins_sketches_not_raw_ids(spark, sf_dir):
    """The theta-overlap leg (approx_distinct_users 'overlap' part)
    must join the per-event_type SKETCH relations — every hash
    exchange keys on event_type (the sketch aggregates and their
    join), or on the exact-verification pair; user_id alone never
    becomes a join partitioning key, and the whole leg stays JVM-side."""
    from pyspark.sql import functions as F

    df = QUERIES["approx_distinct_users"](spark, sf_dir).where(
        F.col("part") == "overlap"
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all("event_type" in a for a in hashed), hashed
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_bigram_lm_leg_broadcasts_model_tables(spark, sf_dir):
    """The interpolated-bigram-LM leg (top_terms 'doclp2' part) joins
    the exploded bigram positions against BROADCAST model tables —
    both the folded-conditional bigram table and the vocab ride
    BroadcastHashJoins; hash exchanges key only on token/pair/doc
    keys (the count aggregates and the per-document mean), there is
    no global sort beyond TakeOrdered, and the leg stays JVM-side."""
    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.profile import bigram_logprob_scores
    from gluestick_ts_spark.plans.queries import _cjk_dd_text_expr

    d2 = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text", _cjk_dd_text_expr(200, 61, 161)
    )
    df = bigram_logprob_scores(
        d2, vocab_size=100, bigram_size=500, min_count=2, lam=0.7,
        cjk=is_cjk_doc_expr("text"),
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    allowed = ("__t", "tok", "a", "b", "id", "part")
    for args in _exchange_args(plan):
        if "hashpartitioning" not in args:
            continue
        keys = re.findall(r"hashpartitioning\(([^,)]+)", args)
        assert keys and all(
            any(k.strip().startswith(a) for a in allowed) for k in keys
        ), args
    assert "rangepartitioning" not in plan, plan[:2000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node


def test_phash_band_join_never_cross_joins_and_decodes_once(spark, sf_dir):
    """multimodal_features' phash leg (round-9/10 part): the pigeonhole
    band join must be an EQUI-join on (block, block_val) — never a
    CartesianProduct over hashes — and Python appears ONLY at the two
    Arrow decode boundaries (payload synth + image_dhash). The leg
    eagerly checkpoints at construction, so this gates the same inner
    pipeline the query runs, built from the query's own synthesizer."""
    from gluestick_ts_spark.operators.imagehash import hamming_join, image_dhash
    from gluestick_ts_spark.plans.queries import QUERIES, _phash_synth_payload

    d = QUERIES["scan_project_literal"]  # noqa: F841 — registry import sanity
    base = spark.range(60).withColumnRenamed("id", "doc_id")

    def _synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [_phash_synth_payload(int(i)) for i in pdf["doc_id"]]
            yield pdf

    imgs = base.mapInPandas(_synth, schema="doc_id long, content binary")
    hashed = image_dhash(imgs)
    pairs = hamming_join(hashed, hashed, max_hamming=6)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = pairs._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the self-join's explain text repeats the decode subtree once per
    # side (2 Arrow stages x 2 sides); the production pipeline persists
    # the banded blocks so decode EXECUTES once — what matters here is
    # that Python appears only at decode, nowhere in the join/filter
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) <= 4, plan[:1200]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # candidates come from an EQUI-join (broadcast at test size,
    # shuffled-on-(block, block_val) at scale) and no exchange ever
    # carries the payload bytes — only ids/hashes/band keys move
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan[:1200]
    hashed_keys = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert all("content" not in a for a in hashed_keys), hashed_keys


def test_ham_leg_broadcasts_codes_and_bounds_rerank(spark, sf_dir):
    """ann_lsh_topk's ham leg (round-9 part): the Hamming scan streams
    corpus CODES against BROADCAST query codes (one BroadcastNestedLoop
    join over 64-bit ints — the documented small-side cross, never a
    CartesianProduct), the exact re-rank rejoins vectors by id (hash
    joins), and every hash exchange keys on ids — vectors never key a
    shuffle."""
    from pyspark.sql import functions as F

    ham = QUERIES["ann_lsh_topk"](spark, sf_dir).where(F.col("mode") == "ham")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = ham._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan
    # two sanctioned broadcast-small-side crosses: the corpus-codes
    # scan against the broadcast query codes, and the recall
    # verification's exact-cosine pass against the same broadcast
    # queries — never more
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    assert "BroadcastExchange" in plan  # query codes + query vectors
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, node
    hashed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert hashed and all(
        ("query_id" in a or "neighbor_id" in a or "vec_id" in a)
        and "embedding" not in a
        for a in hashed
    ), hashed


def test_budget_columns_never_single_partition(spark, sf_dir):
    """hash_split_documents' budget columns (round-9 part): the global
    running token sum must ride the two-pass score-bucket scheme —
    NO SinglePartition exchange anywhere in the query's plan. The
    second half proves the gate has teeth: the naive formulation (a
    global ORDER BY window) DOES trip it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    split = QUERIES["hash_split_documents"](spark, sf_dir)
    plan = split._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" not in plan, plan[:1500]

    # injected regression: the naive global cumulative window
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    naive = docs.withColumn(
        "cum",
        F.sum(F.length("text")).over(
            Window.orderBy(F.col("doc_id")).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    naive_plan = naive._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" in naive_plan  # the gate catches the naive plan


def test_robots_verdict_broadcasts_rules_and_never_shuffles_corpus(
    spark, sf_dir
):
    """robots_filter's DataFrame mode (r11; centrally gated r12): the
    compiled rules relation BROADCASTS and the corpus joins it 1:1 —
    one BroadcastHashJoin, zero corpus-side exchanges (the only hash
    exchange is the rules-side dropDuplicates on `domain`, which is
    domain-count-sized), and Python appears ONLY at the rules-compile
    Arrow boundary, never on the corpus side."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.weburl import robots_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "text",
        F.concat(
            F.lit("http://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}.example", "User-agent: *\nDisallow: /p/1") for i in range(3)],
        "domain string, robots_text string",
    )
    out = robots_filter(docs, robots, "url")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # every key-partitioned exchange is the rules side (domain key);
    # none may carry the corpus text or url
    keyed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
    assert len(keyed) <= 1, keyed
    assert all("domain" in a for a in keyed), keyed
    assert all("text" not in a and "url" not in a for a in keyed), keyed
    # one Arrow stage: the rules compile; the corpus never runs Python
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan[:1200]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_video_band_joins_never_cross_join(spark, sf_dir):
    """multimodal_features' vdup AND vtrim legs (r11/r12): the banded
    Hamming join over 64-bit video hashes must stay an EQUI-join —
    never a CartesianProduct over clips — and no exchange may carry
    the video payload bytes; Python appears only at the synth+hash
    Arrow boundaries (the phash gate, extended to the video legs)."""
    from gluestick_ts_spark.operators.imagehash import (
        hamming_join,
        media_hashes,
        vhash_of_payload,
    )
    from gluestick_ts_spark.plans.queries import (
        _vdup_synth_payload,
        _vtrim_synth_payload,
    )

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for n, synth, hash_fn in (
        (30, _vdup_synth_payload, vhash_of_payload),
        (20, _vtrim_synth_payload,
         lambda p: vhash_of_payload(p, sample="even")),
    ):
        base = spark.range(n).withColumnRenamed("id", "doc_id")

        def _synth(batches, fn=synth):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["content"] = [fn(int(i)) for i in pdf["doc_id"]]
                yield pdf

        vids = base.mapInPandas(_synth, schema="doc_id long, content binary")
        hashed = media_hashes(vids, columns={"vhash": hash_fn}).select(
            "doc_id", "vhash"
        )
        pairs = hamming_join(hashed, hashed, id_col="doc_id",
                             hash_col="vhash", max_hamming=8)
        plan = pairs._jdf.queryExecution().explainString(mode)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        ), plan[:1200]
        keyed = [a for a in _exchange_args(plan) if "hashpartitioning" in a]
        assert all("content" not in a for a in keyed), keyed
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


_TOKENIZER = re.compile(r"split\(lower\(trim\((\w+)#\d+")


def _tokenized_sources(plan: str) -> dict:
    """Tokenizer occurrences per source column in an optimized plan."""
    from collections import Counter

    return Counter(_TOKENIZER.findall(plan))


def test_text_rules_tokenize_each_staged_source_once(spark, sf_dir, monkeypatch):
    """The per-document text rules read STAGED token arrays
    (functions/text.py staging contract): in the optimized plans of
    curation's staging and per-document projections (both run as eager
    checkpoints at construction, so they are captured there), the
    tokenizer ``split(lower(trim(x)), '\\s+')`` appears once per
    source column, not once per rule."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    QUERIES["curation_pipeline_docs"](spark, sf_dir)
    monkeypatch.undo()
    staging = [p for p in plans if re.search(r"AS __jt_lang#", p)]
    per = [p for p in plans if re.search(r"AS gopher_ok#", p)]
    assert len(staging) == 1 and len(per) == 1, len(plans)
    assert _tokenized_sources(staging[0]) == {"text": 1}
    assert _tokenized_sources(per[0]) == {"text": 1}
    # the ten license-family regexes read the one staged lowered text
    assert per[0].count("lower(concat(") == 1
    assert per[0].count("AS __lic_low#") == 1
    assert per[0].count("RLIKE(__lic_low#") >= 10
