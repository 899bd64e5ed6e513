"""Query catalog: every implemented operator as a (spark_fn, oracle_sql)
pair for the driver's correctness gate.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
``ORACLES[name]`` is the ANSI-SQL DuckDB equivalent over the same
parquet tables. Column names/aliases are IDENTICAL on both sides (the
driver sorts columns by name before value-hashing).

Cross-engine determinism rules used throughout:

- money aggregates: cast to DECIMAL before SUM (exact, order-
  independent), cast the final sum to DOUBLE — bit-identical across
  engines regardless of partition/summation order;
- ratio/score doubles: same literal arithmetic expression order on
  both sides (IEEE doubles are deterministic given identical ops);
- timestamps: formatted to strings (engines exchange naive vs UTC
  semantics otherwise);
- cosine scores: ROUND(...,6) BEFORE ranking so rank boundaries agree;
- every computed integer is LONG/BIGINT on both sides.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_utils import ISO8601_SPARK_FORMAT, parse_dates_expr
from ..operators.psl import registered_domain_sql as _psl_registered_domain_sql
from ..functions.text import (
    CJK_LANGS,
    CJK_STOP_CHARS,
    DEFAULT_LANGS,
    LANG_MARKERS,
    strip_html_expr,
    STOPWORDS_EN,
    chunk_tokens,
    fingerprint_expr,
    fingerprint_sql,
    gopher_cjk_toks_duck_sql,
    gopher_cjk_toks_sql,
    gopher_grams_sql,
    gopher_lines_sql,
    gopher_quality_flags,
    gopher_rules_duck_sql,
    gopher_rules_sql,
    _cjk_route_sqls,
    is_cjk_doc_expr,
    justext_sql,
    lang_id_duck_sql,
    lang_id_sql,
    lang_score_sql,
    license_flags_sql,
    redact_pii_expr,
    repetition_profile_sql,
    shingles_expr,
    stopwords_for_lang_sql,
    tokens_expr,
    tokens_sql,
    winnow_fingerprints_expr,
    winnow_fps_sql,
)
from ..functions.sampling import (
    hash_split,
    md5_bucket_expr,
    weighted_domain_sample,
)
from ..functions.vectors import cosine_similarity_expr
from ..operators.asof import asof_join
from ..operators.cdc import snapshot_diff
from ..operators.classifier import (
    clf_features_expr,
    clf_features_sql,
    logreg_apply_sql,
    logreg_prob_expr,
    logreg_train_sql,
    train_logreg_hashed,
)
from ..operators.dedup import (
    _hash_params,
    dedup_clusters,
    dedup_exact,
    dedup_minhash,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_contamination,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.multimodal import (
    attach_media_metadata,
    extract_media_features,
    resize_media,
    sample_frames,
)
from ..operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    ann_recall_vs_exact,
    cosine_topk,
    hyperplanes,
    ivf_assign,
    train_ivf_centroids,
)
from ..operators.profile import corpus_profile
from ..operators.snapshot import keep_last_dedup
from ..sources.parquet_compat import read_parquet_compat

QueryFn = Callable[[SparkSession, str], DataFrame]


_BG_POOL = None


def _bg_submit(fn, *args, **kwargs):
    """Run an independent eager sub-build (one that fires its own Spark
    jobs at construction — pagerank, LM model tables, index stores) on
    a driver worker thread, so its jobs and py4j traffic overlap the
    main builder's instead of serializing behind them (guide §2.6:
    actions are only sequential because the driver calls them
    sequentially; FIFO scheduling back-fills idle executors). The pool
    is tiny and REUSED across calls — worker threads persist, so no
    per-build JVM-connection churn — and holds no state besides the
    in-flight futures, which every caller consumes in the same build.
    Errors surface at ``.result()`` exactly as they would inline.

    Round 17: width is GATED on ``defaultParallelism`` instead of the
    r16 ``max_workers=2`` local[32] constant (the r16 verdict's own
    recorded TODO): ``min(4, max(2, dp // 8))`` — 2 below 24 cores
    (matching the measured r16 optimum under contention; a 4-core box
    gets 2), 3 at 24 (so three independent eager sub-builds can be in
    flight where the dependency graph has three — curation's
    rank/lp/per spine), and 4 from 32 on, the cap per guide §2.6
    ("2-3 jobs in flight is plenty"). Sized once at first use from the
    active session."""
    global _BG_POOL
    if _BG_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        try:
            from pyspark.sql import SparkSession

            dp = SparkSession.getActiveSession().sparkContext.defaultParallelism
        except Exception:  # no active session: the conservative floor
            dp = 16
        _BG_POOL = ThreadPoolExecutor(
            max_workers=min(4, max(2, dp // 8)),
            thread_name_prefix="gs_bg_build",
        )
    return _BG_POOL.submit(fn, *args, **kwargs)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver supplies its own SparkSession: pin the session TZ so
    # timestamp formatting matches the (TZ-naive) DuckDB oracle even when
    # the host TZ isn't UTC. Runtime-settable; idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet_compat(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _dec(c, scale: int = 2):
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal(18,{scale})")


_REV = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"


def _rev_expr():
    one = F.lit(1).cast("decimal(18,2)")
    return F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast("double")


# ---------------------------------------------------------------------------
# Parity operators (reference surface, SURVEY §2.1)
# ---------------------------------------------------------------------------

def q_scan_project_literal(spark, sf):
    """Catalog-typed scan + literal column injection (§2.1 rows 2-3, 34;
    reference examples/example-csv.ts:37-39)."""
    return _t(spark, sf, "customer").select("*", F.lit("acme").alias("tenant"))


def q_catalog_typed_cast(spark, sf):
    """Catalog integer->Int64 cast semantics (§2.1 rows 4, 6, 21)."""
    n = _t(spark, sf, "nation")
    return n.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )


def q_parse_dates_fallback(spark, sf):
    """The datetime parity family as ONE tagged union (registry-
    folding pattern): the ``parse`` part is the strptime fallback
    chain (§2.1 row 5; reader.ts:111-128); the ``iso`` part is
    string->UTC timestamp localization + ISO-8601 export format
    (§2.1 rows 22-23; etl-utils.ts:191-212, singer.ts:63-73)."""
    li = _t(spark, sf, "lineitem")
    s = F.when(
        F.col("l_orderkey") % 2 == 0, F.date_format("l_shipdate", "yyyy-MM-dd")
    ).otherwise(F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"))
    parse = li.select(
        F.lit("parse").alias("part"),
        "l_orderkey",
        "l_linenumber",
        F.date_format(parse_dates_expr(s), "yyyy-MM-dd HH:mm:ss").alias("parsed_ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("iso_ts"),
    )
    ev = _t(spark, sf, "events")
    raw = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    localized = F.coalesce(raw.try_cast("timestamp"), F.try_to_timestamp(raw))
    iso = ev.select(
        F.lit("iso").alias("part"),
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
        F.lit(None).cast("string").alias("parsed_ts"),
        "event_id",
        F.date_format(localized, ISO8601_SPARK_FORMAT).alias("iso_ts"),
    )
    return parse.unionByName(iso)


def q_snapshot_upsert(spark, sf):
    """Snapshot merge semantics as ONE tagged union: the ``upsert``
    part is the reference's last-write-wins merge (§2.1 rows 18-20 —
    union old+new, keep-last per PK with new-beats-old ordering); the
    ``scd2`` part is the history-preserving sibling: two deterministic
    batches flow through a REAL on-disk SCD2 store (the materialization
    IS the operator, like rollup_events_hourly) and the oracle states
    the RESULTING version chains directly — changed keys carry a
    closed + an open version, unchanged re-sends keep their original
    valid_from with no new version, new keys open at batch 2. Since
    round 8 the store is the BUCKET-PARTITIONED layout
    (operators/scd2_partitioned.py — the 100 TB path, where an upsert
    rewrites only the buckets its keys hash to); it is row-identical
    to the flat operators/scd2.py store by shared merge algebra, so
    the oracle is unchanged. The ``diff`` part is the delta-reporting
    sibling (operators/cdc.py snapshot_diff): the SAME two generations
    the upsert merges are diffed by pk into insert/update/delete rows
    — ``status`` carries the change type, ``total`` the surviving
    image (new image, old image for deletes)."""
    import atexit
    import shutil
    import tempfile

    from ..operators.scd2_partitioned import scd2_upsert_partitioned as scd2_upsert

    o = _t(spark, sf, "orders")
    old = o.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("total"), F.lit(0).alias("src")
    )
    new = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("total"), F.lit(1).alias("src")
    )
    merged = old.unionByName(new)
    out = keep_last_dedup(merged, ["o_orderkey"], [F.col("src").desc()])
    upsert = out.select(
        F.lit("upsert").alias("part"),
        "o_orderkey",
        F.round("total", 2).alias("total"),
        "src",
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("string").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(None).cast("boolean").alias("is_current"),
    )

    k = F.col("o_orderkey")
    t1, t2 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    b1 = o.where(k % 5 == 0).select(
        "o_orderkey", F.col("o_orderstatus").alias("status"), F.lit(t1).alias("ts")
    )
    b2 = (
        o.where(k % 10 == 0)
        .select(
            "o_orderkey",
            F.concat(F.col("o_orderstatus"), F.lit("X")).alias("status"),
            F.lit(t2).alias("ts"),
        )
        .unionByName(
            o.where((k % 5 == 0) & (k % 10 != 0)).select(
                "o_orderkey",
                F.col("o_orderstatus").alias("status"),
                F.lit(t2).alias("ts"),
            )
        )
        .unionByName(
            o.where((k % 7 == 1) & (k % 5 != 0)).select(
                "o_orderkey",
                F.col("o_orderstatus").alias("status"),
                F.lit(t2).alias("ts"),
            )
        )
    )
    tmp_root = tempfile.mkdtemp(prefix="gs_scd2_")
    atexit.register(shutil.rmtree, tmp_root, ignore_errors=True)
    scd2_upsert(b1, "orders", tmp_root, pk="o_orderkey", eff_ts="ts")
    hist = scd2_upsert(b2, "orders", tmp_root, pk="o_orderkey", eff_ts="ts")
    scd2p = hist.select(
        F.lit("scd2").alias("part"),
        "o_orderkey",
        F.lit(None).cast("double").alias("total"),
        F.lit(None).cast("int").alias("src"),
        "status",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )
    diff = snapshot_diff(
        old.drop("src"), new.drop("src"),
        pk="o_orderkey", compare_cols=["total"],
    ).select(
        F.lit("diff").alias("part"),
        "o_orderkey",
        F.round(F.coalesce("total", "total_old"), 2).alias("total"),
        F.lit(None).cast("int").alias("src"),
        F.col("change_type").alias("status"),
        F.lit(None).cast("string").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(None).cast("boolean").alias("is_current"),
    )
    return upsert.unionByName(scd2p).unionByName(diff)


def q_dedup_keep_last(spark, sf):
    """Keep-last dedup by key with explicit deterministic order
    (§2.1 row 19 — window row_number, NOT dropDuplicates)."""
    ev = _t(spark, sf, "events")
    out = keep_last_dedup(
        ev, ["user_id", "event_type"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_type", "event_id", F.round("value", 4).alias("value"))


def q_json_extract_agg(spark, sf):
    """Both JSON directions as ONE tagged union (registry-folding
    pattern): the ``agg`` part parses JSON strings into objects
    (§2.1 row 25) and aggregates the extracted field; the ``encode``
    part is the struct -> JSON string direction (§2.1 row 26,
    reference singer.ts:49-57 / etl-utils.ts:84-92)."""
    ev = _t(spark, sf, "events")
    k = F.from_json("props", "k BIGINT")["k"]
    agg = (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("cnt"))
        .select(
            F.lit("agg").alias("part"),
            "event_type",
            "sum_k",
            "cnt",
            F.lit(None).cast("long").alias("c_custkey"),
            F.lit(None).cast("string").alias("payload"),
        )
    )
    c = _t(spark, sf, "customer")
    enc = c.select(
        F.lit("encode").alias("part"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("sum_k"),
        F.lit(None).cast("long").alias("cnt"),
        "c_custkey",
        F.to_json(F.struct(F.col("c_custkey"), F.col("c_name"))).alias("payload"),
    )
    return agg.unionByName(enc)


# ---------------------------------------------------------------------------
# Relational coverage (SURVEY §2.2: joins/aggs/windows/sorts/set ops)
# ---------------------------------------------------------------------------

def q_q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape: scan + filter + groupBy aggregate. Money sums in
    DECIMAL (order-independent), averages derived from exact sums."""
    li = _t(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(18,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount"))
    charge = disc_price * (one + _dec("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.sum(_dec("l_discount")).cast("double").alias("sum_disc"),
        F.count("*").alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        (F.col("sum_disc") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


def q_q3_top_shipping(spark, sf):
    """TPC-H Q3 shape: 3-way join (broadcast dim) + agg + top-k with a
    deterministic tie-break."""
    c = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    joined = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    agg = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        _rev_expr().alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_q5_regional_revenue(spark, sf):
    """TPC-H Q5 shape: star join through region->nation->customer with
    broadcast dimensions, revenue per region."""
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "r_name")
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), o["o_custkey"] == dims["c_custkey"])
    )
    return joined.groupBy("r_name").agg(
        _rev_expr().alias("revenue"), F.count("*").alias("cnt")
    )


def q_join_broadcast_brand(spark, sf):
    """Broadcast-hash join with a small dimension + agg by brand."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(_rev_expr().alias("revenue"), F.count("*").alias("cnt"))
    )


def q_semi_anti_join_customers(spark, sf):
    """The non-inner join family as ONE tagged union (registry-folding
    pattern): customers without any order ('anti', left-anti join),
    customers with at least one order > 300k ('semi', left-semi join),
    the full-outer-join match-class census ('full_outer' — counts of
    matched / customer-only / order-only keys in one row), and the
    'fuzzy' part — the EXACT edit-distance<=1 self-join of customer
    names (operators/linkage.py: deletion-neighborhood blocking +
    levenshtein verify, never a cross join; the oracle IS the cross
    join with a levenshtein filter, which is the whole point —
    identical output, quadratic only on the oracle side).
    ``fuzzy_custkey`` is the matched partner, ``edit_dist`` the true
    distance; both NULL on the other parts."""
    from ..operators.linkage import edit_distance_self_join

    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    nulls = [
        F.lit(None).cast("long").alias(n)
        for n in ("n_matched", "n_cust_only", "n_order_only",
                  "fuzzy_custkey", "edit_dist")
    ]
    anti = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", F.lit("anti").alias("op"), *nulls
    )
    big = o.where(F.col("o_totalprice") > 300000.0)
    semi = c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi").select(
        "c_custkey", F.lit("semi").alias("op"), *nulls
    )
    ck = _t(spark, sf, "customer").select("c_custkey")
    ok = _t(spark, sf, "orders").select("o_custkey").distinct()
    j = ck.join(ok, ck["c_custkey"] == ok["o_custkey"], "full_outer")
    fo = j.agg(
        F.count(
            F.when(ck["c_custkey"].isNotNull() & ok["o_custkey"].isNotNull(), 1)
        ).alias("n_matched"),
        F.count(F.when(ok["o_custkey"].isNull(), 1)).alias("n_cust_only"),
        F.count(F.when(ck["c_custkey"].isNull(), 1)).alias("n_order_only"),
    ).select(
        F.lit(None).cast("long").alias("c_custkey"),
        F.lit("full_outer").alias("op"),
        "n_matched",
        "n_cust_only",
        "n_order_only",
        F.lit(None).cast("long").alias("fuzzy_custkey"),
        F.lit(None).cast("long").alias("edit_dist"),
    )
    fz = edit_distance_self_join(
        c.select("c_custkey", "c_name"), "c_name", "c_custkey", max_dist=1
    ).select(
        F.col("id_a").alias("c_custkey"),
        F.lit("fuzzy").alias("op"),
        F.lit(None).cast("long").alias("n_matched"),
        F.lit(None).cast("long").alias("n_cust_only"),
        F.lit(None).cast("long").alias("n_order_only"),
        F.col("id_b").alias("fuzzy_custkey"),
        F.col("dist").cast("long").alias("edit_dist"),
    )
    return anti.unionByName(semi).unionByName(fo).unionByName(fz)


def q_window_funcs_orders(spark, sf):
    """Window-function coverage in one pass: per-group rank
    (row_number), quartile (ntile), relative-position functions
    (percent_rank, cume_dist — both rounded to 9 dp so the ratio
    arithmetic is engine-deterministic), running sum
    (unbounded-preceding frame), lag and lead — all with deterministic
    tie-break ordering so every function is bit-identical to the
    oracle's. Both windows share the one per-customer hash exchange."""
    o = _t(spark, sf, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_time = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_run = w_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w_rank).cast("long").alias("price_rank"),
        F.ntile(4).over(w_rank).cast("long").alias("price_quartile"),
        F.round(F.percent_rank().over(w_rank), 9).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w_rank), 9).alias("price_cume_dist"),
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_total"),
        F.lag("o_totalprice").over(w_time).alias("prev_price"),
        F.lead("o_orderkey").over(w_time).alias("next_orderkey"),
    )


def q_rollup_cube_status(spark, sf):
    """The whole multi-grouping family — ROLLUP, CUBE, and GROUPING
    SETS — as one tagged union (registry-folding pattern): subtotals +
    grand total, all grouping combinations, and an explicit grouping-
    set list (per-nation and per-segment customer stats in one pass),
    each tagged by ``op`` over generic (key1, key2) string keys."""
    o = _t(spark, sf, "orders")
    aggs = [
        F.count("*").alias("cnt"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    ]
    r = (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(*aggs)
        .withColumn("op", F.lit("rollup"))
    )
    cb = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(*aggs)
        .withColumn("op", F.lit("cube"))
    )
    both = r.unionByName(cb).select(
        "op",
        F.col("o_orderstatus").alias("key1"),
        F.col("o_orderpriority").alias("key2"),
        "cnt",
        "total",
    )
    c = _t(spark, sf, "customer")
    gs = (
        c.groupingSets(
            [["c_nationkey"], ["c_mktsegment"]], "c_nationkey", "c_mktsegment"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total"),
        )
        .select(
            F.lit("gsets").alias("op"),
            F.col("c_nationkey").cast("string").alias("key1"),
            F.col("c_mktsegment").alias("key2"),
            "cnt",
            "total",
        )
    )
    # pivot coverage: status x priority counts through Spark's PIVOT
    # (explicit value list — no extra distinct-values job), melted back
    # to rows via stack so the union stays long-form; an empty cell
    # survives as a NULL-cnt row (the oracle builds the same grid)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = o.groupBy("o_orderstatus").pivot("o_orderpriority", prios).count()
    stack_expr = "stack({n}, {args}) as (key2, cnt)".format(
        n=len(prios),
        args=", ".join(f"'{p}', `{p}`" for p in prios),
    )
    pv = wide.select(
        F.lit("pivot").alias("op"),
        F.col("o_orderstatus").alias("key1"),
        F.expr(stack_expr),
    ).select("op", "key1", "key2", "cnt", F.lit(None).cast("double").alias("total"))
    return both.unionByName(gs).unionByName(pv)


def q_setops_customers(spark, sf):
    """EXCEPT and INTERSECT (distinct) set ops as one tagged union:
    customer keys without orders vs with orders — plus the
    ``unionByName(allowMissingColumns=True)`` parity rows (§2.1 row
    20) folded in as 'union_c'/'union_s' parts (the established
    tagged-union pattern; keeps the registry at the 50-row cap)."""
    cust = _t(spark, sf, "customer")
    c = cust.select("c_custkey")
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    ex = c.subtract(o).withColumn("op", F.lit("except"))
    ix = c.intersect(o).withColumn("op", F.lit("intersect"))
    setops = ex.unionByName(ix).select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "op",
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("double").alias("acctbal"),
    )
    # §2.1 row 20: the missing acctbal column null-fills on the supplier side
    cu = cust.select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("union_c").alias("op"),
    )
    su = _t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("union_s").alias("op")
    )
    uni = cu.unionByName(su, allowMissingColumns=True).select(
        F.lit(None).cast("long").alias("c_custkey"), "op", "name", "acctbal"
    )
    return setops.unionByName(uni)


def q_sessionize_events(spark, sf):
    """Behavioral analytics over the event stream as ONE tagged union
    (registry-folding pattern): the ``sess`` part is 30-minute-gap
    sessionization via lag + running sum (the batch analogue of a
    session window); the ``funnel`` part is the ordered-funnel report
    (operators/funnel.py — one user-keyed aggregate + in-row step
    state machine, never a join per step) over the first two days:
    signup -> view -> purchase -> click -> error, per-step
    reached-user counts; the ``retention`` part is the weekly cohort
    matrix (retention_matrix — users cohorted by first-event week,
    distinct-active counts per (cohort, week offset)); the ``gapfill``
    part is time-series resampling (operators/timeseries.py) — events
    thinned to minutes 0-9 of each hour (a deterministic gap pattern),
    bucketed per event_type into a DENSE 15-minute spine between the
    type's first and last bucket, zero-filled counts riding ``n_users``
    and the last-observation-carried-forward count riding
    ``period_offset`` (column reuse per the folding pattern;
    ``cohort_week`` carries the bucket timestamp, ``is_gap`` marks
    spine-only rows and is NULL on the other parts); the ``anomaly``
    part is trailing-window anomaly detection
    (operators/timeseries.py rolling_zscore) over GAPLESS hourly
    per-type counts — each hour scored against the mean/stddev of its
    preceding 24 hours (exact decimal rolling sums, the
    stats_agg_orders determinism trick), column reuse: ``session_id``
    carries the baseline row count, ``period_offset`` the z-score
    scaled to 1e-4 ticks (``round(z*10000)`` — the union has no free
    double column), ``is_gap`` the anomaly flag; the ``debounce`` part
    is burst suppression (operators/timeseries.py debounce — keep the
    first event per user per 30-minute-gap burst, the double-fire
    cleaner): kept events ride with ``session_id`` carrying the burst
    id and ``n_users`` the absorbed-follower count. Timestamps are
    collision-free per user in the test data, so the oracle's
    earliest-match min-ts cascade is exactly the fold's greedy
    semantics."""
    from ..operators.funnel import funnel_counts, retention_matrix
    from ..operators.timeseries import debounce, resample_gapfill, rolling_zscore

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # exact integer microseconds — double-epoch would lose precision
    prev = F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        prev.isNull() | (F.unix_micros("ts") - prev > 1_800_000_000), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        F.lit("sess").alias("part"),
        "user_id",
        "event_id",
        F.sum(new_sess).over(wsum).cast("long").alias("session_id"),
        F.lit(None).cast("long").alias("step_idx"),
        F.lit(None).cast("string").alias("step"),
        F.lit(None).cast("long").alias("n_users"),
    )
    fun = funnel_counts(
        ev.where(F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")),
        ["signup", "view", "purchase", "click", "error"],
    ).select(
        F.lit("funnel").alias("part"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("session_id"),
        F.col("step_idx").cast("long").alias("step_idx"),
        "step",
        "n_users",
        F.lit(None).cast("string").alias("cohort_week"),
        F.lit(None).cast("long").alias("period_offset"),
    )
    sess = sess.select(
        "*",
        F.lit(None).cast("string").alias("cohort_week"),
        F.lit(None).cast("long").alias("period_offset"),
    )
    ret = retention_matrix(ev).select(
        F.lit("retention").alias("part"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("session_id"),
        F.lit(None).cast("long").alias("step_idx"),
        F.lit(None).cast("string").alias("step"),
        "n_users",
        F.date_format("cohort_period", "yyyy-MM-dd").alias("cohort_week"),
        "period_offset",
    )
    sparse = ev.where(F.minute("ts") < 10)
    zf = resample_gapfill(
        sparse, "ts", "15 minutes", {"cnt": F.count("*")},
        group_cols=["event_type"], fill="zero",
    )
    # locf derived from the SAME resample pass: gap rows (is_gap) are
    # the zero-filled holes, so carrying the last observed count
    # forward over the dense spine is one key-partitioned window
    w_locf = (
        Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zf = zf.withColumn(
        "cnt_locf",
        F.last(
            F.when(~F.col("is_gap"), F.col("cnt")), ignorenulls=True
        ).over(w_locf),
    )
    gap = zf.select(
        F.lit("gapfill").alias("part"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("session_id"),
        F.lit(None).cast("long").alias("step_idx"),
        F.col("event_type").alias("step"),
        F.col("cnt").cast("long").alias("n_users"),
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("cohort_week"),
        F.col("cnt_locf").cast("long").alias("period_offset"),
        F.col("is_gap"),
    )
    hourly = resample_gapfill(
        ev, "ts", "1 hour", {"cnt": F.count("*")},
        group_cols=["event_type"], fill="zero",
    )
    anom = rolling_zscore(
        hourly, "cnt", "bucket", group_cols=["event_type"],
        lookback=24, threshold=2.5, min_periods=8,
    ).select(
        F.lit("anomaly").alias("part"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("roll_n").alias("session_id"),
        F.lit(None).cast("long").alias("step_idx"),
        F.col("event_type").alias("step"),
        F.col("cnt").cast("long").alias("n_users"),
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("cohort_week"),
        F.round(F.col("zscore") * 10000).cast("long").alias("period_offset"),
        F.col("is_anomaly").alias("is_gap"),
    )
    deb = debounce(
        ev.select("user_id", "event_id", "ts"),
        "ts", ["user_id"], within="30 minutes", tie_cols=["event_id"],
    ).select(
        F.lit("debounce").alias("part"),
        "user_id",
        "event_id",
        F.col("burst_id").alias("session_id"),
        F.lit(None).cast("long").alias("step_idx"),
        F.lit(None).cast("string").alias("step"),
        F.col("n_suppressed").alias("n_users"),
        F.lit(None).cast("string").alias("cohort_week"),
        F.lit(None).cast("long").alias("period_offset"),
        F.lit(None).cast("boolean").alias("is_gap"),
    )
    return (
        sess.withColumn("is_gap", F.lit(None).cast("boolean"))
        .unionByName(fun.withColumn("is_gap", F.lit(None).cast("boolean")))
        .unionByName(ret.withColumn("is_gap", F.lit(None).cast("boolean")))
        .unionByName(gap)
        .unionByName(anom)
        .unionByName(deb)
    )


def q_asof_join_orders(spark, sf):
    """As-of join (backward): each event matched to the user's latest
    order at-or-before the event time. Custom operator — union +
    window, one shuffle (operators/asof.py)."""
    ev = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("price"))
    )
    out = asof_join(ev, o, "user_id", "o_custkey", "ts", "o_orderdate")
    return out.select("event_id", "user_id", "price")


def q_q7_nation_volume(spark, sf):
    """TPC-H Q7 shape: shipping volume between customer-nation and
    supplier-nation pairs (two broadcast nation joins + year slice)."""
    n1 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf, "lineitem").where(F.year("l_shipdate") == 1997)
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == n1["c_nk"])
        .join(F.broadcast(n2), s["s_nationkey"] == n2["s_nk"])
        .where(F.col("cust_nation") != F.col("supp_nation"))
    )
    return j.groupBy("cust_nation", "supp_nation").agg(
        _rev_expr().alias("revenue"), F.count("*").alias("cnt")
    )


def q_q10_returned_items(spark, sf):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    )
    agg = j.groupBy("c_custkey", "c_name", "c_mktsegment").agg(
        _rev_expr().alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


def q_q14_promo_revenue(spark, sf):
    """TPC-H Q14 shape: promo-type revenue share (conditional agg over
    a broadcast part join); one row, exact DECIMAL sums."""
    li = _t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf, "part").select("p_partkey", "p_type")
    one = F.lit(1).cast("decimal(18,2)")
    disc = _dec("l_extendedprice") * (one - _dec("l_discount"))
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return j.agg(
        (
            F.sum(F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
            * 100.0
            / F.sum(disc).cast("double")
        ).alias("promo_pct"),
        F.count("*").alias("cnt"),
    )


def q_q6_revenue_delta(spark, sf):
    """TPC-H Q6 shape: tight filter + single agg — the predicate-
    pushdown showcase (filters reach the parquet scan)."""
    li = _t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
        F.count("*").alias("cnt"),
    )


def q_range_join_followup_orders(spark, sf):
    """Range join: per order, count the same customer's follow-up
    orders strictly within the next 30 days — equi-key (customer) +
    time-range predicate."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    a = o.alias("a")
    b = o.alias("b")
    j = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("b.o_orderdate") > F.col("a.o_orderdate"))
        & (F.col("b.o_orderdate") <= F.col("a.o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left",
    )
    return j.groupBy(F.col("a.o_orderkey").alias("o_orderkey")).agg(
        F.count(F.col("b.o_orderkey")).alias("n_followups")
    )


def _string_funcs_part(spark, sf):
    """String scalar functions parity (upper/substring/replace/concat/
    lpad/length) + the PII-redaction pass over a synthesized
    email+phone string (functions/text.py redact_pii_expr — patterns
    restricted to the Java∩RE2 regex subset so DuckDB can oracle it)."""
    c = _t(spark, sf, "customer")
    pii_src = F.concat_ws(
        " ",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0"),  # phone-like run
        F.lit("contact:"),
        F.concat(F.lower(F.col("c_mktsegment")), F.lit("@example.com")),
    )
    return c.select(
        F.col("c_custkey").alias("key"),
        F.lit("string").alias("part"),
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("dashed"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.length("c_name").cast("long").alias("name_len"),
        redact_pii_expr(pii_src).alias("redacted"),
        strip_html_expr(
            F.concat(
                F.lit('<p class="x">'),
                F.col("c_name"),
                F.lit("</p> &amp; <b>seg:</b> &lt;"),
                F.col("c_mktsegment"),
                F.lit("&gt;"),
            )
        ).alias("unhtml"),
    )


def _scalar_math_date_part(spark, sf):
    """Math + datetime scalar functions parity in one projection
    (abs/ceil/floor/round/sqrt/ln + year/month/day/quarter + month
    truncation)."""
    o = _t(spark, sf, "orders")
    return o.select(
        F.col("o_orderkey").alias("key"),
        F.lit("math_date").alias("part"),
        F.abs(F.col("o_totalprice") - 150000.0).alias("dist"),
        F.ceil("o_totalprice").cast("long").alias("ceil_p"),
        F.floor("o_totalprice").cast("long").alias("floor_p"),
        F.round("o_totalprice", 1).alias("round_p"),
        F.sqrt("o_totalprice").alias("sqrt_p"),
        # ln rounded: JVM StrictMath and DuckDB libm differ in the last ulp
        F.round(F.log(F.col("o_totalprice")), 6).alias("ln_p"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias("month_start"),
    )


def _array_funcs_part(spark, sf):
    """Array / higher-order function coverage over the embedding
    column: size, element access, slice-fold sum, transform+max,
    filter+count — all JVM-side lambdas."""
    e = _t(spark, sf, "embeddings").where(F.col("vec_id") < 1000)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        F.col("vec_id").alias("key"),
        F.lit("array").alias("part"),
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(dbl, 1), 6).alias("first_el"),
        F.round(
            F.aggregate(F.slice(dbl, 1, 8), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("head_sum"),
        F.round(F.array_max(F.transform(dbl, lambda x: F.abs(x))), 6).alias("max_abs"),
        F.size(F.filter(dbl, lambda x: x > 0)).cast("long").alias("n_pos"),
    )


def q_scalar_funcs(spark, sf):
    """Scalar/array-function parity as ONE tagged union (the
    established registry-folding pattern: semi+anti, rollup+cube,
    except+intersect): the ``math_date`` part projects math/datetime
    scalars over orders, the ``string`` part string scalars + PII
    redaction over customer, the ``array`` part (folded in from the
    former array_funcs query) higher-order array lambdas over
    embeddings. Columns absent on a side are typed NULLs
    (unionByName(allowMissingColumns)), mirrored as CAST(NULL AS ...)
    in the oracle, so every value stays hash-checked."""
    math = _scalar_math_date_part(spark, sf)
    strs = _string_funcs_part(spark, sf)
    arrs = _array_funcs_part(spark, sf)
    return math.unionByName(strs, allowMissingColumns=True).unionByName(
        arrs, allowMissingColumns=True
    )


def q_stats_agg_orders(spark, sf):
    """Statistical aggregates per priority: mean and sample stddev
    derived from EXACT DECIMAL sums (sum, sum-of-squares), so the
    double result is independent of partition/summation order and
    bit-comparable across engines; plus min/max/count and the
    pivot-style conditional counts per order status (folded in from the
    former conditional_agg_pivot query — same groupBy key, one agg);
    plus the 'topk' part: global top-100 orders by totalprice
    (TakeOrderedAndProject — folded in from order_limit_global); plus
    the 'dq' part: the Deequ-style one-pass data-quality report
    (operators/expectations.py — five constraints on orders folded
    into ONE aggregate scan; column reuse: ``o_orderpriority`` carries
    the constraint name, ``cnt`` the violation count, ``o_orderkey``
    the table total, ``cnt_open`` the 0/1 passed flag)."""
    from ..operators.expectations import (
        check_expectations,
        expect_in,
        expect_not_null,
        expect_quantile,
        expect_range,
        expect_regex,
        expect_unique,
    )

    o = _t(spark, sf, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.sum(_dec("o_totalprice")).cast("double").alias("s"),
        F.sum(_dec("o_totalprice") * _dec("o_totalprice")).cast("double").alias("s2"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("cnt_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("cnt_filled"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("cnt_partial"),
    )
    mean = F.col("s") / F.col("cnt")
    var = (F.col("s2") - F.col("s") * F.col("s") / F.col("cnt")) / (F.col("cnt") - 1)
    stats = agg.select(
        F.lit("stats").alias("part"),
        "o_orderpriority",
        "cnt",
        F.round(mean, 4).alias("mean_price"),
        F.round(F.sqrt(var), 4).alias("stddev_price"),
        "min_price",
        "max_price",
        "cnt_open",
        "cnt_filled",
        "cnt_partial",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    # 'topk' part: global top-100 by totalprice — folded in from the
    # former order_limit_global query (TakeOrderedAndProject, no full
    # sort materialization)
    topk = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select(
            F.lit("topk").alias("part"),
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(None).cast("long").alias("cnt"),
            F.lit(None).cast("double").alias("mean_price"),
            F.lit(None).cast("double").alias("stddev_price"),
            F.lit(None).cast("double").alias("min_price"),
            F.lit(None).cast("double").alias("max_price"),
            F.lit(None).cast("long").alias("cnt_open"),
            F.lit(None).cast("long").alias("cnt_filled"),
            F.lit(None).cast("long").alias("cnt_partial"),
            "o_orderkey",
            "o_totalprice",
        )
    )
    dq = check_expectations(
        o,
        [
            expect_not_null("o_orderkey"),
            expect_unique("o_orderkey"),
            expect_in("o_orderstatus", ["O", "F", "P"]),
            expect_range("o_totalprice", 0, 600000),
            expect_regex("o_orderpriority", "^[1-5]-"),
            # dataset-level distribution gate (the sixth constraint,
            # riding the SAME one-scan aggregate): the exact
            # interpolated median price must sit in a sane band —
            # exact=True so DuckDB's quantile_cont restates it
            expect_quantile("o_totalprice", 0.5, 1000, 400000, exact=True),
        ],
    ).select(
        F.lit("dq").alias("part"),
        F.col("constraint").alias("o_orderpriority"),
        F.col("violations").alias("cnt"),
        F.lit(None).cast("double").alias("mean_price"),
        F.lit(None).cast("double").alias("stddev_price"),
        F.lit(None).cast("double").alias("min_price"),
        F.lit(None).cast("double").alias("max_price"),
        F.when(F.col("passed"), 1).otherwise(0).cast("long").alias("cnt_open"),
        F.lit(None).cast("long").alias("cnt_filled"),
        F.lit(None).cast("long").alias("cnt_partial"),
        F.col("total").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    return stats.unionByName(topk).unionByName(dq)


def q_rollup_events_hourly(spark, sf):
    """Materialized hourly rollup (operators/rollup.py — the
    continuous-aggregate store) driver-checked against full recompute:
    the events table is split deterministically, the seed's rollup is
    WRITTEN date-partitioned, the remainder is REFRESHED in (additive
    merge of counts + exact DECIMAL sums over only the affected date
    partitions), and the merged store is read back. Because the store
    holds only mergeable statistics, the refreshed store must equal
    DuckDB's one-shot aggregate over ALL events exactly — which is
    what the hash check asserts. The store round-trips through real
    parquet under a per-run temp dir (the materialization IS the
    operator). The store also carries a mergeable DataSketches HLL
    sketch of user_id — the distinct statistic additive stores can't
    hold as a plain number — and ``users_within_5pct`` asserts the
    estimate landed within 5% of the exact per-bucket COUNT DISTINCT
    after surviving write + refresh + union (the within_bound
    pattern; DuckDB states TRUE). It also carries a mergeable KLL
    quantile sketch of value (the OTHER statistic additive stores
    can't hold); ``p95_in_rank_band`` asserts the store-surviving P95
    estimate lies within the exact [P85, max] value band of its
    bucket — a rank window >= 5x wider than KLL's ~1.65% normalized
    rank error at the default k, so the guard holds at any scale
    while still pinning the sketch to its own bucket's distribution
    (DuckDB states TRUE)."""
    import atexit
    import shutil
    import tempfile

    from ..operators.rollup import (
        refresh_rollup,
        rollup_aggregate,
        write_rollup,
    )

    ev = _t(spark, sf, "events")
    # bench loops invoke this repeatedly: register the per-run store
    # for cleanup so it can't accrete one parquet dir per invocation
    tmp_root = tempfile.mkdtemp(prefix="gs_rollup_")
    atexit.register(shutil.rmtree, tmp_root, ignore_errors=True)
    path = tmp_root + "/store"
    seed = ev.where(F.col("event_id") % 3 != 0)
    batch = ev.where(F.col("event_id") % 3 == 0)
    write_rollup(
        rollup_aggregate(
            seed, "ts", ["event_type"], ["value"],
            distinct_cols=["user_id"], quantile_cols=["value"],
        ),
        path,
    )
    merged = refresh_rollup(
        batch, path, "ts", ["event_type"], ["value"],
        distinct_cols=["user_id"], quantile_cols=["value"],
    )
    exact = ev.groupBy(
        F.window(F.col("ts"), "1 hour")["start"].alias("bucket_start"),
        "event_type",
    ).agg(
        F.count_distinct("user_id").alias("__ex"),
        F.percentile("value", 0.85).alias("__p85"),
        F.max("value").alias("__vmax"),
    )
    return merged.join(exact, on=["bucket_start", "event_type"]).select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_start"
        ),
        "event_type",
        "cnt",
        F.col("sum_value").cast("double").alias("sum_value"),
        "mean_value",
        (
            F.abs(F.col("approx_distinct_user_id") - F.col("__ex"))
            <= 0.05 * F.col("__ex")
        ).alias("users_within_5pct"),
        F.col("approx_p95_value").between(
            F.col("__p85"), F.col("__vmax")
        ).alias("p95_in_rank_band"),
    )


def q_parse_objs_keep_original(spark, sf):
    """JSON parse with keep-original-on-failure (§2.1 row 25 hard
    part): malformed cells keep the raw string instead of nulling."""
    ev = _t(spark, sf, "events")
    raw = F.when(F.col("event_id") % 10 == 0, F.lit("not json")).otherwise(F.col("props"))
    # from_json PERMISSIVE yields a non-null struct with null fields for
    # malformed input, so validity comes from try_parse_json instead.
    valid = F.try_parse_json(raw).isNotNull()
    out = F.when(valid, F.get_json_object(raw, "$.k")).otherwise(raw)
    return ev.select("event_id", out.alias("k_or_raw"))


def q_ngram_contamination_docs(spark, sf):
    """Benchmark-contamination screens, both modalities, as ONE tagged
    union (registry-folding pattern).

    ``ngram``: every 20th document plays the held-out eval set; the
    remaining corpus is scored by how many of its distinct word
    8-grams leak from that set (broadcast benchmark hash set + one
    per-document count shuffle — the 100 TB shape).

    ``sem`` (round 9): the SEMANTIC screen an n-gram check can't do —
    every 20th embedding plays the eval set and
    ``semantic_contamination`` reports each one's single most-similar
    training vector by exact cosine (rounded to 6 dp BEFORE the
    argmax, ties to lowest id) plus the >= 0.92 leak verdict. The
    benchmark side broadcasts; the corpus streams once. Oracle: DuckDB
    brute-forces the same argmax with the same rounding."""
    from ..operators.similarity import semantic_contamination

    _nl = lambda t: F.lit(None).cast(t)  # noqa: E731
    d = _t(spark, sf, "documents")
    bench = d.where(F.col("doc_id") % 20 == 0)
    corp = d.where(F.col("doc_id") % 20 != 0)
    ngram = ngram_contamination(corp, bench, n=8).select(
        F.lit("ngram").alias("part"),
        "doc_id",
        "n_contaminated",
        "contaminated",
        _nl("long").alias("match_id"),
        _nl("double").alias("max_cosine"),
    )
    e = _t(spark, sf, "embeddings")
    sem = semantic_contamination(
        e.where(F.col("vec_id") % 20 != 0),
        e.where(F.col("vec_id") % 20 == 0),
        threshold=0.92,
    )
    return ngram.unionByName(sem.select(
        F.lit("sem").alias("part"),
        F.col("bench_id").alias("doc_id"),
        _nl("long").alias("n_contaminated"),
        "contaminated",
        "match_id",
        "max_cosine",
    ))


def q_approx_distinct_users(spark, sf):
    """HyperLogLog++ approximate distinct — ORACLE-CHECKED: the raw HLL
    estimate is engine-specific, so the query emits only the
    deterministic evidence: the exact count and ``within_bound`` = the
    HLL estimate landed within 5% of it (rsd=0.02, so 0.05 = 2.5
    sigma; measured rel-error is 0.000-0.004 on the test events). The
    oracle asserts ``within_bound`` is literally TRUE — a drifting HLL
    now FAILS the hash match instead of hiding in a rows-only entry.
    The estimate itself stays visible in pytest (test_properties).

    Also carries the ``auc`` part (registry-folding pattern): the
    exact Mann-Whitney rank-sum ROC AUC (operators/ml.py binary_auc)
    of the heuristic quality score predicting the Gopher verdict over
    documents — midranks are exact k/2 values so the statistic is
    bit-deterministic across engines, and DuckDB replicates the whole
    rank algebra (the distillation TRAINING loop is pytest-gated in
    test_ml.py; its float-order-sensitive gradients can't be
    oracle-hashed, but this metric of record can). The ``auc_lang``
    part is the STRATIFIED mode (group_cols=['stratum']): one AUC row
    per language, rank window partitioned by stratum — the 100 TB
    formulation, driver-checked so the partitioned ranking provably
    matches DuckDB's per-stratum algebra.

    The ``overlap`` part is the Theta-sketch set-intersection operator
    (operators/overlap.py): per event_type, the distinct users active
    on BOTH odd and even days of the month — the statistic HLL can't
    answer (HLL unions, never intersects) and whose exact form needs a
    full id-keyed shuffle join. The sketch path is one aggregate per
    side + a tiny sketch join; ``within_bound`` asserts the estimate
    landed within 5% (+0.5 absolute slack for near-empty sets) of the
    exact intersection, which DuckDB restates via the two-sided
    HAVING. exact_users carries the exact intersection count."""
    from ..functions.text import gopher_quality_flags, quality_score_expr
    from ..operators.ml import binary_auc
    from ..operators.overlap import distinct_overlap

    ev = _t(spark, sf, "events")
    rel_err = F.abs(
        F.approx_count_distinct("user_id", rsd=0.02) - F.count_distinct("user_id")
    ) / F.count_distinct("user_id")
    sketch = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        (rel_err <= 0.05).alias("within_bound"),
    ).select(
        F.lit("sketch").alias("part"),
        "event_type",
        "exact_users",
        "within_bound",
        F.lit(None).cast("double").alias("auc"),
        F.lit(None).cast("long").alias("n_pos"),
        F.lit(None).cast("long").alias("n_neg"),
        F.lit(None).cast("string").alias("stratum"),
    )
    from ..operators.dedup import _spread

    d = _spread(_t(spark, sf, "documents")).select(
        F.col("lang").alias("stratum"),
        quality_score_expr("text").alias("s"),
        gopher_quality_flags("text").getField("passes").cast("int").alias("y"),
    ).localCheckpoint(eager=True)
    nulls = [
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("exact_users"),
        F.lit(None).cast("boolean").alias("within_bound"),
    ]
    auc = binary_auc(d, "s", "y").select(
        F.lit("auc").alias("part"),
        *nulls,
        "auc",
        "n_pos",
        "n_neg",
        F.lit(None).cast("string").alias("stratum"),
    )
    strat = binary_auc(d, "s", "y", group_cols=["stratum"]).select(
        F.lit("auc_lang").alias("part"),
        *nulls,
        "auc",
        "n_pos",
        "n_neg",
        "stratum",
    )
    even = ev.where(F.dayofmonth("ts") % 2 == 0)
    odd = ev.where(F.dayofmonth("ts") % 2 == 1)
    exact_inter = (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.max((F.dayofmonth("ts") % 2 == 0).cast("int")).alias("__e"),
            F.max((F.dayofmonth("ts") % 2 == 1).cast("int")).alias("__o"),
        )
        .where((F.col("__e") == 1) & (F.col("__o") == 1))
        .groupBy("event_type")
        .agg(F.count("*").alias("__exact"))
    )
    overlap = (
        distinct_overlap(even, odd, "user_id", keys=["event_type"])
        .join(exact_inter, on="event_type", how="left")
        .na.fill({"__exact": 0})
        .select(
            F.lit("overlap").alias("part"),
            "event_type",
            F.col("__exact").alias("exact_users"),
            (
                F.abs(F.col("distinct_intersection") - F.col("__exact"))
                <= 0.05 * F.col("__exact") + 0.5
            ).alias("within_bound"),
            F.lit(None).cast("double").alias("auc"),
            F.lit(None).cast("long").alias("n_pos"),
            F.lit(None).cast("long").alias("n_neg"),
            F.lit(None).cast("string").alias("stratum"),
        )
    )
    return sketch.unionByName(auc).unionByName(strat).unionByName(overlap)


# ---------------------------------------------------------------------------
# Extension: text analysis / dedup / similarity (SURVEY §2.2 Extensions)
# ---------------------------------------------------------------------------

# deterministic boilerplate wrapper for the text_stats justext columns:
# a link-only nav block, the document text as the content block, a
# short trailing paragraph (exercises context inheritance), and a
# link-heavy footer — shared verbatim by the Spark synth and the
# oracle's SQL so the two engines classify the SAME page
_JT_HTML_PRE = (
    '<div><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></div><p>'
)
_JT_HTML_POST = (
    '</p><p>Read the full story.</p>'
    '<div>(c) 2026 <a href="/terms">Terms</a> <a href="/privacy">Privacy</a></div>'
)

# round 12: planted NON-ENGLISH docs for the language-ROUTED jusText
# gate. The sf corpus is EN word-soup only, so multilingual routing
# would be vacuously EN-only; these deterministic twins replace the
# CONTENT text of every 50th doc (pure function of doc_id — base prose
# + the doc_id as suffix, mirrored verbatim in the oracle SQL) with
# prose in a modeled language whose ROUTED stop-density clears the
# stop_tenths=1 gate while the EN list scores it 0.0 — i.e. each
# planted doc's content block flips short -> good ONLY because routing
# picked the right stoplist: the count-visible planted positive the
# generated-oracle discipline requires (10 docs per language at
# sf0.01, visible in the jt_lang histogram).
# Round 13 replaces the pinyin-transliterated zh synth with REAL
# Chinese script and adds Japanese and Korean: these docs have no
# usable whitespace tokens, so they exercise the whole CJK route —
# script-class lang-ID, the char-grain jusText density gate (their
# content block flips short -> good ONLY under the cjk arms), and the
# char-grain routed Gopher rules (gopher_pass_routed flips false ->
# true ONLY under routing — unrouted they are one giant pseudo-token).
_JT_LANG_TEXTS: dict[int, tuple[str, str]] = {
    7: ("de", "der schnelle braune fuchs springt mit dem faulen hund "
        "und die katze bleibt nicht weg sondern ist mit dem hund "
        "zusammen bei dem haus von der familie zu hause nummer "),
    19: ("fr", "le renard brun rapide saute par dessus le chien "
         "paresseux et le chat reste dans la maison avec les enfants "
         "qui jouent pour une heure et est heureux dans le jardin "
         "avec le chien "),
    31: ("zh", "我们的朋友不在家里他们有很多事情和我们一起去看那个人的"
         "房子这是一个很好的地方大家都喜欢在这里住因为天气很好而且人们"
         "也很友善我们每天都去公园散步"),
    11: ("ja", "私たちの友達は家にいませんが彼らはたくさんの用事があっ"
         "て私たちと一緒にあの人の家を見に行きますこれはとても良い場所"
         "でみんなここに住むのが好きです毎日公園を散歩します"),
    43: ("ko", "우리의 친구는 집에 없지만 그들은 많은 일이 있어서 "
         "우리와 함께 그 사람의 집을 보러 갑니다 이것은 아주 좋은 "
         "곳이고 모두가 여기에 사는 것을 좋아합니다 매일 공원을 "
         "산책합니다 "),
}


# round 13: the driver-visible blocked-terms policy list (see
# q_lang_scores) — one whole-token term + one word-bounded phrase,
# both present in the synth vocabulary so the gate splits the corpus
# deterministically
_BT_TERMS = ("dup", "table hash")

# round 15: the driver-visible FMM segmentation dictionary (see
# q_lang_scores) — caller-policy words drawn from the planted
# _JT_LANG_TEXTS zh/ja/ko prose (so the greedy longest-match fires on
# every planted CJK doc), including one 3-char entry (私たち) that
# must beat its 2-char competitors and cross-script lookalikes that
# must NOT cross-match (zh 公园 vs ja 公園)
_SEG_WORDS = (
    # zh (simplified)
    "我们", "朋友", "家里", "他们", "很多", "事情", "一起", "房子",
    "地方", "大家", "喜欢", "因为", "天气", "人们", "友善", "每天",
    "公园", "散步",
    # ja
    "私たち", "友達", "用事", "一緒", "場所", "好き", "毎日",
    "公園", "散歩",
    # ko
    "친구", "공원", "산책", "매일",
)


def _seg_duck_ctes(
    src: str = "ltt",
    text_sql: str = "LT",
    route_sql: str | None = None,
    prefix: str = "seg",
    emit_toks: bool = False,
) -> str:
    """The WITH-RECURSIVE DuckDB twin of the FMM seg columns:
    forward maximum matching re-derived as a per-position recursion
    (anchor pos=1; each step consumes the longest _SEG_WORDS match at
    pos, else one char), accumulating the token count and the
    chr(31)-joined rebuild whose md5 the Spark side emits. Generated
    from the SAME word list as ``cjk_dict_tokens_expr`` gets, grouped
    by length so each step probes exactly the lengths the dictionary
    has. Recursion depth = max planted-doc char count; the frontier is
    only the planted CJK docs ({prefix}src filters on the route
    predicate), so the oracle cost stays trivial.

    Round 16 generalization: ``src``/``text_sql``/``route_sql`` point
    the walk at any staged relation (q_lang_scores keeps the ltt/LT
    script-route defaults; text_stats walks its JT twin under the
    lang-pred route), ``prefix`` namespaces the three CTEs so two
    walks can coexist in one WITH chain, and ``emit_toks=True`` adds
    the rebuilt token ARRAY (``SEGT`` — chr(31)-split of the rebuild)
    to the final CTE for rules that need the tokens themselves
    (gopher's seg_mean_word_len_ok)."""
    by_len: dict[int, list[str]] = {}
    for w in _SEG_WORDS:
        by_len.setdefault(len(w), []).append(w)
    arms_w, arms_t = [], []
    for j in sorted(by_len, reverse=True):
        wl = "[" + ", ".join(f"'{w}'" for w in by_len[j]) + "]"
        sl = f"array_to_string(C[pos:pos+{j - 1}], '')"
        # element-count guard mirrors the Spark fold's F.size check
        # (round 16): a truncated tail slice must not match, or the
        # pos walk would advance past len(C)+1 and the doc would
        # vanish from segf
        cond = (
            f"len(C[pos:pos+{j - 1}]) = {j} AND length({sl}) = {j} "
            f"AND list_contains({wl}, {sl})"
        )
        arms_w.append(f"WHEN {cond} THEN {j}")
        arms_t.append(f"WHEN {cond} THEN {sl}")
    route = route_sql if route_sql is not None else _cjk_route_sqls(
        text_sql, "duck"
    )[0]
    toks_arr = (
        "CASE WHEN n = 0 THEN CAST([] AS VARCHAR[]) "
        "ELSE string_split(substr(h, 2), chr(31)) END"
    )
    return (
        f"{prefix}src AS (SELECT doc_id, "
        + gopher_cjk_toks_duck_sql(text_sql)
        + f" AS C FROM {src} WHERE "
        + route
        + "), "
        f"{prefix}r AS (SELECT doc_id, 1 AS pos, 0 AS n, "
        f"CAST('' AS VARCHAR) AS h, C FROM {prefix}src "
        "UNION ALL "
        "SELECT doc_id, pos + w, n + 1, h || chr(31) || tok, C FROM ("
        "SELECT doc_id, pos, n, h, C, "
        f"CASE {' '.join(arms_w)} ELSE 1 END AS w, "
        f"CASE {' '.join(arms_t)} ELSE C[pos] END AS tok "
        f"FROM {prefix}r WHERE pos <= len(C)) st), "
        f"{prefix}f AS (SELECT doc_id, CAST(n AS BIGINT) AS seg_n_words, "
        "md5(CASE WHEN n = 0 THEN '' ELSE substr(h, 2) END) AS seg_md5"
        + (f", {toks_arr} AS SEGT" if emit_toks else "")
        + f" FROM {prefix}r WHERE pos = len(C) + 1)"
    )


def _jt_text_expr() -> "F.Column":
    """The jusText input text column: the doc's own text, except the
    planted-language slots (``_JT_LANG_TEXTS``)."""
    out = F.col("text")
    for mod, (_code, base) in _JT_LANG_TEXTS.items():
        out = F.when(
            F.col("doc_id") % 50 == mod,
            F.concat(F.lit(base), F.col("doc_id").cast("string")),
        ).otherwise(out)
    return out


def _jt_text_sql() -> str:
    """DuckDB twin of :func:`_jt_text_expr` (same literals)."""
    whens = " ".join(
        f"WHEN doc_id % 50 = {mod} THEN concat('{base}', CAST(doc_id AS VARCHAR))"
        for mod, (_code, base) in _JT_LANG_TEXTS.items()
    )
    return f"(CASE {whens} ELSE text END)"


# Round 14: EXTRA curation-only CJK slots on mods whose synthetic URLs
# are clean (item % 10 == 7 -> doc-unique .co.uk; % 20 != 15; odd, so
# never benchmark): the _JT slots all collide with the URL plant's
# drop bands (31/11 are the %10==1 re-crawl band, 43 the %10==3 hot
# domain), so no CJK document could ever reach the content stages —
# these slots let routed CJK docs run the WHOLE gauntlet to keep=TRUE.
# Same prose bases as _JT_LANG_TEXTS (one literal source).
_CUR_EXTRA_SLOTS: dict[int, str] = {27: "zh", 17: "ja", 47: "ko"}
_JT_BASE_BY_CODE = {code: base for _m, (code, base) in _JT_LANG_TEXTS.items()}


def _cur_text_expr() -> "F.Column":
    out = _jt_text_expr()
    for mod, code in _CUR_EXTRA_SLOTS.items():
        out = F.when(
            F.col("doc_id") % 50 == mod,
            F.concat(
                F.lit(_JT_BASE_BY_CODE[code]), F.col("doc_id").cast("string")
            ),
        ).otherwise(out)
    return out


def _cur_text_sql() -> str:
    """DuckDB twin of :func:`_cur_text_expr` (same literals; the slot
    sets are disjoint, so CASE order is immaterial)."""
    whens = " ".join(
        f"WHEN doc_id % 50 = {mod} THEN "
        f"concat('{_JT_BASE_BY_CODE[code]}', CAST(doc_id AS VARCHAR))"
        for mod, code in _CUR_EXTRA_SLOTS.items()
    )
    inner = _jt_text_sql()
    return f"(CASE {whens} ELSE {inner} END)"


def _jt_lang_sql(text_sql: str = "JT") -> str:
    """DuckDB restatement of lang_id_expr over ``text_sql`` — since
    round 13 this is the GENERATED script-routed twin
    (functions/text.py lang_id_duck_sql: CJK script gate first, then
    argmax marker score with declaration-order tie-break, 'und' at
    zero)."""
    return lang_id_duck_sql(text_sql)


# round 13: CJK routing plumbing for text_stats — the doc-level route
# predicate, the char-grain routed token array (staged ONCE, the
# SPARK-36718 pattern), and the routed Gopher verdict, all generated
# from functions/text.py's script classes and thresholds. The DuckDB
# twins below are generated from the SAME constants.
_JT_CJK_SQL = "`__jt_lang` IN (" + ", ".join(f"'{l}'" for l in CJK_LANGS) + ")"
_JT_CJK_DUCK = "JLANG IN (" + ", ".join(f"'{l}'" for l in CJK_LANGS) + ")"
_JT_RT_SQL = (
    f"CASE WHEN {_JT_CJK_SQL} THEN {gopher_cjk_toks_sql('__jt_text')} "
    "ELSE split(lower(trim(`__jt_text`)), '\\\\s+') END"
)
_JT_RT_DUCK = (
    f"CASE WHEN {_JT_CJK_DUCK} THEN {gopher_cjk_toks_duck_sql('JT')} "
    "ELSE regexp_split_to_array(lower(trim(JT)), '\\s+') END"
)
_JT_GOPHER_ROUTED_SQL = " AND ".join(
    gopher_rules_sql(
        "__jt_text", toks_sql="__rt", cjk_sql=_JT_CJK_SQL
    ).values()
)
_JT_GOPHER_ROUTED_DUCK = " AND ".join(
    gopher_rules_duck_sql("JT", toks_sql="RT", cjk_sql=_JT_CJK_DUCK).values()
)

# round 14: the same routed-gopher plumbing for the CURATION pipeline,
# whose planted text column is named `text` (the _jt_text_expr slots
# now flow through the flagship end-to-end verdict, so the batch
# gopher stage routes by script exactly like text_stats'
# gopher_pass_routed and the STREAMING filter's cjk_route stage —
# stream and batch defaults agree again)
_CUR_RT_SQL = (
    f"CASE WHEN {_JT_CJK_SQL} THEN {gopher_cjk_toks_sql('text')} "
    f"ELSE {tokens_sql('text')} END"
)
_CUR_GOPHER_ROUTED_SQL = " AND ".join(
    gopher_rules_sql(
        "text", toks_sql="__rt", lines_sql="__lines", grams_sql="__gg",
        cjk_sql=_JT_CJK_SQL,
    ).values()
)
_CUR_RT_DUCK = (
    f"CASE WHEN {_JT_CJK_DUCK.replace('JLANG', 'jlang')} "
    f"THEN {gopher_cjk_toks_duck_sql('text')} "
    "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END"
)
_CUR_GOPHER_ROUTED_DUCK = " AND ".join(
    gopher_rules_duck_sql(
        "text", toks_sql="RT", cjk_sql=_JT_CJK_DUCK.replace("JLANG", "jlang")
    ).values()
)


# round 16: dictionary segmentation GATES — the seg_mean_word_len_ok
# rule (gopher_rules_sql(seg_toks_sql=...)) restores the word-shape
# signal char-grain routing loses (mean word length is vacuously 1.0
# over char tokens). The zh char-SOUP slot below is LOCAL to
# text_stats (adding it to _JT_LANG_TEXTS would shadow the natural zh
# prose in _JT_BASE_BY_CODE for the curation extra slots): 58 distinct
# han chars with two CJK stop chars (的, 是), NO adjacent pair in
# _SEG_WORDS — it passes every char-grain routed Gopher rule
# (n_words >= 50, stop hits = 2, low 3-gram repetition) but has ZERO
# dictionary coverage, so its seg mean is exactly 1.0 and its verdict
# flips ONLY under the word-grain rule. The natural zh/ja/ko plants'
# pure-CJK seg means are 1.392 / 1.171 / 1.059 — all above the 1.04
# floor (min_seg_mean_cents=104; the rule excludes non-CJK run tokens
# so the doc_id suffix run cannot lift a soup doc over the floor at
# any sf).
_TS_SOUP_MOD = 23
_TS_SOUP_BASE = (
    "山川日月水火土金木石田中村口目耳手足刀力刃工干弓才寸小大上下左右"
    "的确山风云雨雪电声色香味是否竹米贝车舟门户瓦斤斗争少"
)


def _ts_text_expr() -> "F.Column":
    """text_stats' jusText input: the _JT_LANG_TEXTS slots plus the
    round-16 seg-flip soup slot."""
    return F.when(
        F.col("doc_id") % 50 == _TS_SOUP_MOD,
        F.concat(F.lit(_TS_SOUP_BASE), F.col("doc_id").cast("string")),
    ).otherwise(_jt_text_expr())


def _ts_text_sql() -> str:
    """DuckDB twin of :func:`_ts_text_expr` (same literals)."""
    return (
        f"(CASE WHEN doc_id % 50 = {_TS_SOUP_MOD} THEN "
        f"concat('{_TS_SOUP_BASE}', CAST(doc_id AS VARCHAR)) "
        f"ELSE {_jt_text_sql()} END)"
    )


# the NINTH rule alone (seg_mean_word_len_ok over the staged __seg
# array) — gopher_pass_seg is the routed verdict AND this rule, so
# the eight routed rules are evaluated ONCE per row and reused
# (recomputing the full rule set inside the seg verdict doubled the
# justext leg's CPU)
_TS_SEG_RULE_SQL = gopher_rules_sql(
    "__jt_text", toks_sql="__rt", cjk_sql=_JT_CJK_SQL, seg_toks_sql="__seg"
)["seg_mean_word_len_ok"]
_TS_SEG_RULE_DUCK = gopher_rules_duck_sql(
    "JT", toks_sql="RT", cjk_sql=_JT_CJK_DUCK, seg_toks_sql="SEGT"
)["seg_mean_word_len_ok"]


def q_text_stats(spark, sf):
    """Quality scoring + token counting over documents plus the
    Gopher-rule overall verdict — oracle-checked, so all eight
    published rules are replicated in SQL and hash-compared. Round 11
    adds the jusText-style main-content extraction columns
    (functions/text.py main_text_expr / block_classes_expr): each
    document is wrapped in a deterministic boilerplate page
    (nav + content + short trailer + footer, ``_JT_HTML_PRE/POST``)
    and the extractor must classify the blocks and recover the
    content — the DuckDB twin is GENERATED from the same constants
    (justext_sql), so the block split, the strip chain, the integer
    thresholds, and the context pass are all hash-compared.

    Plan shape: the token / 3-gram / line arrays are projected ONCE in
    lower selects and every output column references them — Catalyst
    keeps non-cheap multi-referenced projections un-inlined
    (SPARK-36718), so each document is tokenized once instead of once
    per column (the naive single-select form re-derived the token
    array ~20x per row). Values are identical to the
    functions/text.py expressions the oracle mirrors."""
    from ..functions.text import (
        _jt_blocks,
        _jt_context,
        cjk_dict_tokens_expr,
        lang_id_sql,
        stopwords_for_lang_expr,
    )

    from ..operators.dedup import _spread

    # round 16 (optimization): the whole leg is map-only expression CPU
    # (0 exchanges), so its parallelism IS the scan's split count — and
    # the sf test corpus is ONE small single-row-group parquet file,
    # which executes every pass as ONE task (measured: all stages
    # (0+1)/1, 7.1 s single-core at sf0.1 on local[32]). _spread
    # round-robins the tiny base rows across defaultParallelism only
    # when the scan provably yields fewer splits (guide §2: make
    # partitioning scale-adaptive, derive from input size) — on a real
    # sharded corpus it is a no-op and document text never shuffles.
    d = _spread(_t(spark, sf, "documents"))
    # round 12: language-ROUTED stoplist staging — the planted-text
    # twin, its predicted language, and the routed stoplist array
    # are each projected ONCE in lower selects (lang runs per doc,
    # never per word; the SPARK-36718 staging rationale)
    d = d.select("doc_id", "text", _ts_text_expr().alias("__jt_text"))
    d = d.select("*", F.expr(lang_id_sql("__jt_text")).alias("__jt_lang"))
    d = d.select(
        "*",
        stopwords_for_lang_expr(F.col("__jt_lang")).alias("__jt_sw"),
        F.expr(_JT_RT_SQL).alias("__rt"),
        # round 16: seg tokens staged once, routed docs only
        F.when(
            F.expr(_JT_CJK_SQL),
            cjk_dict_tokens_expr("__jt_text", _SEG_WORDS),
        ).alias("__seg"),
    )
    jt_cols = ["__jt_lang", "__jt_text", "__rt", "__seg"]
    lvl1 = d.select(
        "doc_id",
        "text",
        *jt_cols,
        F.expr("split(lower(trim(text)), '\\\\s+')").alias("__toks"),
        # jusText block structs projected ONCE (strip chain + anchor
        # extract + stopword filter are the expensive part — the
        # same SPARK-36718 staging the token array rides).
        # stop_tenths=1: the 18-word engine stopword lists score this
        # synthetic corpus ~6% (real jusText lists are ~10x larger), so
        # the tunable density floor drops to 10% to exercise BOTH
        # classes + the inheritance pass on this data
        _jt_blocks(
            F.concat(
                F.lit(_JT_HTML_PRE),
                F.col("__jt_text"),
                F.lit(_JT_HTML_POST),
            ),
            F.col("__jt_sw"),
            80,
            1,
            cjk=F.col("__jt_lang").isin(*CJK_LANGS),
        ).alias("__jt_st"),
    )
    g2 = (
        "zip_with(__toks, slice(__toks, 2, greatest(size(__toks) - 1, 1)), "
        "(a, b) -> concat_ws(' ', a, b))"
    )
    g3 = (
        f"zip_with({g2}, slice(__toks, 3, greatest(size(__toks) - 2, 1)), "
        "(a, b) -> concat_ws(' ', a, b))"
    )
    lvl2 = lvl1.select(
        "doc_id",
        "text",
        "__toks",
        "__jt_st",
        *jt_cols,
        F.expr(f"slice({g3}, 1, greatest(size(__toks) - 2, 1))").alias("__grams"),
        F.expr("split(text, '\\n')").alias("__lines"),
        F.transform(F.col("__jt_st"), lambda s: s["cls"]).alias("__jt_cls"),
    )
    # Gopher's repetition rule sees NO grams for sub-3-token docs (the
    # pseudo-gram the slice floor produces is fake data); dup_3gram_ratio
    # keeps the raw_shingles_expr contract (full token string as the
    # single shingle) unchanged.
    lvl3 = lvl2.select(
        "doc_id",
        "text",
        "__toks",
        "__grams",
        "__lines",
        "__jt_st",
        *jt_cols,
        _jt_context(F.col("__jt_cls")).alias("__jt_fin"),
        F.expr(
            "CASE WHEN size(__toks) >= 3 THEN __grams ELSE array() END"
        ).alias("__gg"),
        # 2-gram array projected ONCE for the repetition profile (its
        # top2gram metric references the array three times)
        F.expr(
            "CASE WHEN size(__toks) >= 2 THEN "
            f"slice({g2}, 1, size(__toks) - 1) ELSE array() END"
        ).alias("__g2v"),
    )
    sw = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + ")"
    stop_ratio = (
        f"CAST(size(filter(__toks, t -> array_contains({sw}, t))) AS DOUBLE)"
        " / CAST(greatest(size(__toks), 1) AS DOUBLE)"
    )
    punct = (
        "CAST(length(text) - length(regexp_replace(text, '[^\\\\w\\\\s]', '')) AS DOUBLE)"
        " / CAST(greatest(length(text), 1) AS DOUBLE)"
    )
    gopher = " AND ".join(
        gopher_rules_sql(
            "text", toks_sql="__toks", lines_sql="__lines", grams_sql="__gg"
        ).values()
    )
    return lvl3.select(
        "doc_id",
        F.expr("CAST(size(__toks) AS BIGINT)").alias("n_words"),
        F.expr("CAST(regexp_count(text, '\\\\w+|[^\\\\w\\\\s]') AS BIGINT)").alias(
            "n_tokens"
        ),
        F.expr(punct).alias("punct_ratio"),
        F.expr(stop_ratio).alias("stopword_ratio"),
        F.expr(
            "0.4D * least(CAST(size(__toks) AS DOUBLE) / 100.0D, 1.0D)"
            f" + 0.4D * least(({stop_ratio}) * 5.0D, 1.0D)"
            f" + 0.2D * (1.0D - least(({punct}) * 10.0D, 1.0D))"
        ).alias("quality"),
        F.expr(
            "round(1.0D - CAST(size(array_distinct(__grams)) AS DOUBLE)"
            " / CAST(greatest(size(__grams), 1) AS DOUBLE), 6)"
        ).alias("dup_3gram_ratio"),
        F.expr(gopher).alias("gopher_pass"),
        # Gopher's CHARACTER-fraction repetition metrics (round 8 —
        # functions/text.py repetition_profile_sql): how much document
        # MASS is repeated text, not just how many gram slots
        *[
            F.expr(sql).alias(name)
            for name, sql in repetition_profile_sql(
                "__toks", "__lines", "text", g2_sql="__g2v"
            ).items()
        ],
        # round 11: jusText main-content extraction over the staged
        # arrays — value-identical to main_text_expr/block_classes_expr
        # (tests/test_text.py pins the staged == single-expression
        # equality), structs and classes computed once per doc;
        # round 12: jt_lang exposes the routing verdict so the planted
        # non-EN positives are count-visible in the driver output
        F.col("__jt_lang").alias("jt_lang"),
        F.array_join(
            F.filter(
                F.zip_with(
                    F.col("__jt_st"),
                    F.col("__jt_fin"),
                    lambda s, c: F.when(c == "good", s["txt"]),
                ),
                lambda t: t.isNotNull(),
            ),
            " ",
        ).alias("main_text"),
        F.array_join(F.col("__jt_fin"), ",").alias("block_classes"),
        # round 13: the char-grain routed Gopher verdict over
        # the planted text — flips false -> true for the CJK
        # plants ONLY under routing (unrouted they are one
        # giant pseudo-token and every word rule fails)
        F.expr(_JT_GOPHER_ROUTED_SQL).alias("gopher_pass_routed"),
        # round 16: the ninth rule alone — the word-grain
        # verdict gopher_pass_seg = routed AND seg rule is
        # assembled in the wrapper select below so the eight
        # routed rules are never evaluated twice
        F.expr(_TS_SEG_RULE_SQL).alias("__seg_ok"),
    ).withColumn(
        "gopher_pass_seg",
        F.col("gopher_pass_routed") & F.col("__seg_ok"),
    ).drop("__seg_ok")


def q_lang_scores(spark, sf):
    """Language-ID heuristic: marker-word overlap scores + argmax.
    Built from the parsed-SQL fragments (lang_score_sql/lang_id_sql) —
    one parser call per column instead of ~50 py4j constructions per
    language; semantics identical to lang_score_expr/lang_id_expr.

    Round 12: the row also carries the TRAINED quality classifier
    (operators/classifier.py — the fastText/CCNet bootstrap pattern:
    gopher rules label, logistic regression generalizes them into a
    soft score). Training runs EAGERLY at query construction (the
    ivf_train_centroids precedent): 4 full-batch gradient iterations,
    each one map-side-combined aggregation job, weights exchanged as
    exact integer micro-units so the DuckDB oracle — which re-derives
    the ENTIRE training as an unrolled CTE chain from the same
    constants — reaches bit-identical weights. Output columns:
    ``clf_score`` (micro-unit LONG, exact integer arithmetic ->
    hash-exact), ``clf_prob`` (rounded sigmoid), ``clf_keep``
    (decision boundary)."""
    from ..operators.dedup import _spread

    # round 16 (optimization): single small-file scan = ONE task for
    # every pass (the text_stats finding) — including the classifier's
    # eager feature-materialization and all 4 gradient jobs, whose
    # aggregates are exact long sums (order-independent by design).
    # _spread is a no-op on a real sharded corpus.
    d = _spread(_t(spark, sf, "documents"))
    # round 13: all lang columns (scores + lang_pred) read the PLANTED
    # text twin (the text_stats _JT_LANG_TEXTS slots — real-script
    # zh/ja/ko among them), so script routing is count-visible in
    # lang_pred and the CJK script-fraction scores are non-trivially
    # exercised; the classifier below keeps reading the raw corpus
    # text (its oracle restates training — don't grow it).
    d = d.select("*", _jt_text_expr().alias("__lt"))
    sel = [
        F.col("doc_id"),
        *(
            F.expr(lang_score_sql("__lt", lang)).alias(f"score_{lang}")
            for lang in DEFAULT_LANGS
        ),
        F.expr(lang_id_sql("__lt")).alias("lang_pred"),
    ]
    # round 13: the blocked-terms content gate rides here for
    # driver visibility — a deterministic 2-term policy list drawn
    # from the synth vocabulary (one whole-token term + one
    # word-bounded phrase, so both matchers are oracle-exercised);
    # the DuckDB twin is GENERATED from the same list
    from ..functions.text import blocked_terms_flags_expr

    # round 16 (optimization): the struct is STAGED as one column
    # (the __seg pattern below) — three getField reads of the bare
    # expression re-evaluated the whole tokenize+match tree per
    # output column
    d = d.select(
        "*", blocked_terms_flags_expr("text", _BT_TERMS).alias("__bt")
    )
    sel += [
        F.col("__bt").getField("n_hits").alias("bt_hits"),
        F.col("__bt").getField("hit_frac").alias("bt_frac"),
        F.col("__bt").getField("blocked").alias("bt_blocked"),
    ]
    # round 15: dictionary WORD segmentation rides here for driver
    # visibility — FMM over the planted CJK texts against the
    # _SEG_WORDS policy list (cjk_dict_tokens_expr), emitted as a
    # token count + the md5 of the chr(31)-joined rebuild; NULL on
    # non-routed rows (the fold never runs there — CASE WHEN
    # short-circuits). STAGED as one struct column (the __lt/__rt
    # SPARK-36718 pattern) so the fold runs once per row, not once
    # per output column. The DuckDB twin re-derives the greedy
    # match as a WITH RECURSIVE per-position walk (_seg_duck_ctes).
    from ..functions.text import cjk_dict_tokens_expr, is_cjk_doc_expr

    seg = cjk_dict_tokens_expr("__lt", _SEG_WORDS)
    # LET-BIND the fold result (lambda params are materialized):
    # size+md5 read ONE evaluation, not two copies of the fold
    seg_nh = F.get(
        F.transform(
            F.array(seg),
            lambda sg: F.struct(
                F.size(sg).cast("long").alias("n"),
                F.md5(F.concat_ws("\x1f", sg)).alias("h"),
            ),
        ),
        0,
    )
    d = d.select(
        "*",
        F.when(is_cjk_doc_expr("__lt"), seg_nh).alias("__seg"),
    )
    sel += [
        F.col("__seg").getField("n").alias("seg_n_words"),
        F.col("__seg").getField("h").alias("seg_md5"),
    ]
    # ONE materialized pass builds lang columns, the classifier
    # features, and the bootstrap label together; training reads the
    # cached arrays (features_col) and the returned frame scores from
    # the SAME cache — text is scanned once, features built once.
    # dim=32: measured bit-identical accuracy/keep histograms to 64 on
    # this task at every sf (the length flags carry the signal) at
    # half the feature-build cost.
    from ..operators.classifier import logreg_score_micro_from_features

    gopher = " AND ".join(gopher_rules_sql("text").values())
    base = d.select(
        *sel,
        clf_features_expr("text", dim=32).alias("__x"),
        F.expr(gopher).alias("__y"),
    ).localCheckpoint(eager=True)
    model = train_logreg_hashed(
        base, F.col("__y"), dim=32, features_col="__x"
    )
    return base.select(
        *[c for c in base.columns if c not in ("__x", "__y")],
        logreg_score_micro_from_features(
            F.col("__x"), model["weights_micro"], model["bias_micro"]
        ).alias("clf_score"),
    ).select(
        "*",
        logreg_prob_expr(F.col("clf_score")).alias("clf_prob"),
        (F.col("clf_score") >= 0).alias("clf_keep"),
    )


def q_line_dedup_docs(spark, sf):
    """C4-style line-level corpus dedup: boilerplate lines (any line
    occurring >= 2 times corpus-wide) are removed from every document
    except their first occurrence, and documents are reassembled with
    the surviving lines in order (operators/dedup.py line_dedup).
    Fully deterministic — exact string lines, md5 keys, (doc, position)
    first-occurrence tie-break — so the DuckDB oracle replicates the
    rebuilt text byte-for-byte. Rides along map-only: the WITHIN-doc
    self-dedup (functions/text.py self_dedup_lines_expr — each
    distinct line keeps its first in-document occurrence), joined back
    on doc_id; the corpus-dedup side arrives already partitioned by
    doc id from its reassembly aggregate, so the join reuses that
    exchange. The row also carries the family's other two corpus
    grains, each fully oracle-checked: C4's 3-sentence-span dedup
    (sentence_span_dedup) and the ExactSubstr k-token grain
    (exact_substring_dedup, Lee et al. 2022 — k=8 here so the
    sf-scale word-soup corpus exercises real cross-document window
    collisions). Round 15 adds the ROUTED ExactSubstr grain: a
    synthesized all-CJK twin corpus (shared family prefix + per-doc
    han tail, ``_xs_cjk_text_expr``) run through
    ``exact_substring_dedup(cjk=is_cjk_doc_expr, cjk_k=20)`` — the
    char-window grain where unsegmented zh boilerplate is actually
    catchable (word windows see one token and pass everything) —
    with the DuckDB twin re-deriving the same char windows,
    grain-tagged keys, and separator-free rebuild."""
    from ..functions.text import is_cjk_doc_expr
    from ..operators.dedup import (
        _spread,
        exact_substring_dedup,
        line_dedup,
        sentence_span_dedup,
    )

    d = _spread(_t(spark, sf, "documents"))
    lvl = d.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), "\n")).alias("__u"),
    )
    selfd = lvl.select(
        "doc_id",
        F.concat_ws("\n", F.col("__u")).alias("text_selfdedup"),
        F.size(F.col("__u")).cast("long").alias("n_lines_unique"),
    )
    # broadcast_stats: the duplicated-span/window stats of THIS corpus
    # are known-bounded, so the driver row takes the explicit hint; the
    # operator default is the plain join AQE sizes at runtime
    spans = sentence_span_dedup(d, broadcast_stats=True).select(
        "doc_id",
        F.col("text_dedup").alias("text_spandedup"),
        "n_sents",
        "n_sents_kept",
    )
    substr = exact_substring_dedup(d, k=8, broadcast_stats=True).select(
        "doc_id",
        F.col("text_dedup").alias("text_substrdedup"),
        "n_tokens",
        "n_tokens_kept",
    )
    # routed ExactSubstr over the synthesized CJK twin corpus (the
    # planted prefix families make every doc a routed row with a real
    # duplicated char span); md5 of the rebuilt text keeps the row thin
    xs = exact_substring_dedup(
        d.select("doc_id", _xs_cjk_text_expr().alias("text")),
        k=8,
        cjk=is_cjk_doc_expr("text"),
        cjk_k=20,
        broadcast_stats=True,
    ).select(
        "doc_id",
        F.md5("text_dedup").alias("xs_cjk_md5"),
        F.col("n_tokens").alias("xs_cjk_n_tokens"),
        F.col("n_tokens_kept").alias("xs_cjk_n_kept"),
    )
    # c4 grain (round 9): C4's LINE-level cleaning rules
    # (functions/text.py c4_line_rules_expr) over a synthesized
    # punctuated multi-line twin of each document — 8-token chunks as
    # lines, '.' on even chunks (so odd chunks exercise the
    # terminal-punctuation drop), plus planted javascript / lorem
    # ipsum / brace marker lines on deterministic doc_id bands. Pure
    # expression of (text, doc_id), restated verbatim in the oracle;
    # map-only, rides the same doc_id join.
    from ..functions.text import c4_line_rules_expr

    toks = "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"
    # zero-token guard: Spark's sequence(0, -1) is the DESCENDING
    # [0, -1] (phantom lines); the oracle's range(0, 0) is empty
    chunk_lines = (
        f"CASE WHEN size({toks}) = 0 THEN array() ELSE "
        f"transform(sequence(0, int(ceil(size({toks}) / 8.0)) - 1), i -> "
        f"concat(concat_ws(' ', slice({toks}, i * 8 + 1, 8)), "
        "CASE WHEN i % 2 = 0 THEN '.' ELSE '' END)) END"
    )
    synth = (
        f"concat_ws('\\n', concat({chunk_lines}, "
        "CASE WHEN doc_id % 17 = 0 THEN "
        "array('click here to enable javascript now please.') "
        "ELSE array() END, "
        "CASE WHEN doc_id % 23 = 0 THEN "
        "array('lorem ipsum dolor sit amet consectetur adipiscing elit.') "
        "ELSE array() END, "
        "CASE WHEN doc_id % 31 = 0 THEN "
        "array('function f() { return 1; }') ELSE array() END))"
    )
    c4 = d.select(
        "doc_id", F.expr(synth).alias("__c4text")
    ).select(
        "doc_id", c4_line_rules_expr("__c4text").alias("__c4")
    ).select(
        "doc_id",
        F.col("__c4.n_lines").alias("c4_n_lines"),
        F.col("__c4.n_kept").alias("c4_n_kept"),
        F.col("__c4.keep").alias("c4_keep"),
        F.md5(F.col("__c4.text_clean")).alias("c4_clean_md5"),
    )
    return (
        line_dedup(d)
        .join(selfd, on="doc_id")
        .join(spans, on="doc_id")
        .join(substr, on="doc_id")
        .join(xs, on="doc_id")
        .join(c4, on="doc_id")
    )


# license-stage planted footers (pure function of doc_id % 20) — ONE
# table drives both the Spark expression in q_curation_pipeline_docs
# and the DuckDB oracle's CASE, so the planted text cannot diverge
_LIC_FOOTERS = (
    (5, " © 2021 Example Corp. All rights reserved."),
    (9, " Licensed under the Apache License, Version 2.0."),
    (
        13,
        " This work is licensed under CC-BY 4.0."
        " Copyright (c) 2019 Contributors.",
    ),
    (17, " Copyright (c) 2020 Example Corp."),
)

# round 11: the robots-compliance stage's fixtures — two fixed sites
# (each serving the same file on its www. and bare HOSTS — robots
# scope is the origin) with real RFC 9309 rule sets (wildcards, $
# anchors, allow overrides). The docs site disallows /item/ but allows
# paths ending 35 (1/5 of its slot); the hot site's allow-override
# re-admits every path (its items all contain a 3), so robots
# exercises longest-match BOTH ways. The oracle's verdict CASE is
# GENERATED from these texts via the same parse_robots_rules +
# robots_pattern_sql_regex the operator uses.
_DOCS_ROBOTS = "User-agent: *\nDisallow: /item/\nAllow: /item/*35$"
_HOT_ROBOTS = "User-agent: *\nDisallow: /item/\nAllow: /item/*3"
_ROBOTS_TXT = (
    ("docs.example-site.net", _DOCS_ROBOTS),
    ("www.docs.example-site.net", _DOCS_ROBOTS),
    ("hot.example-hub.org", _HOT_ROBOTS),
    ("www.hot.example-hub.org", _HOT_ROBOTS),
)


def _robots_case_sql(dom_sql: str, path_sql: str) -> str:
    """DuckDB restatement of robots_filter's verdict over the fixed
    _ROBOTS_TXT table: per domain, a longest-pattern-first (allow
    first on ties) CASE — which IS the RFC 9309 resolution for a
    static rule set. Generated from the same parse/compile functions
    the Spark operator runs."""
    from ..operators.weburl import parse_robots_rules, robots_pattern_sql_regex

    branches = []
    for dom, txt in _ROBOTS_TXT:
        rules = sorted(
            (
                (len(pat), allow, robots_pattern_sql_regex(pat))
                for pat, allow in parse_robots_rules(txt)
            ),
            reverse=True,
        )
        inner = " ".join(
            f"WHEN regexp_matches({path_sql}, '{rx}') THEN {str(allow).upper()}"
            for _ln, allow, rx in rules
        )
        branches.append(f"WHEN {dom_sql} = '{dom}' THEN (CASE {inner} ELSE TRUE END)")
    return "(CASE " + " ".join(branches) + " ELSE TRUE END)"


# round 11: the URL-blocklist stage's list — one planted tracker-farm
# REGISTRANT the item%10==9 docs' ads. subdomain resolves to (the list
# is at eTLD+1 grain, so every subdomain of a blocked registrant is
# blocked — UT1 semantics); shared verbatim with the oracle's IN list,
# the _LIC_FOOTERS one-source pattern
_BLOCKED_DOMAINS = ("tracker-farm.example",)


def q_curation_pipeline_docs(spark, sf):
    """END-TO-END curation verdict per document — the composition a
    training-data pipeline actually runs, with drop-reason
    attribution in priority order: benchmark membership ->
    contamination (8-gram leak from the benchmark slice) -> exact
    duplicate (keep-first) -> Gopher rules (SCRIPT-ROUTED, round 14)
    -> heuristic quality (>= 0.5, script-routed) -> unigram logprob
    (round 14: a PER-ROUTED-LANGUAGE adaptive P10 cut over the
    script-routed unigram model — the CCNet shape; a global constant
    structurally mass-drops every minority language, and the
    word-soup corpus's razor-thin lp distribution snapped the old
    fixed cut on every content change). Round 15 closes the
    crawl->rank->curation chain: the synthetic crawl graph's
    integer-grid PageRank (the top_terms rank part's graph,
    ``_synth_crawl_rank``) broadcast-joins onto every doc through its
    crawl-source domain as an ANNOTATE-only ``domain_rank`` column —
    the RefinedWeb/Common-Crawl domain-prior-as-feature pattern;
    keep/drop_reason are untouched by design. Every
    stage is an already-oracle-proven operator; this query proves the
    COMPOSITION, including the reason each dropped document would be
    dropped first. Scale shape: three map-only flag columns + the
    fingerprint window + the broadcast contamination join + the
    unigram model's two short-key aggregates — no new shuffle class
    beyond the stages' own.

    Round 8 adds the ADAPTIVE per-language threshold columns
    (operators/profile.py adaptive_quality_filter — the RefinedWeb/
    FineWeb recipe): ``lang_cut`` is the language's own P25 quality
    quantile (exact interpolated percentile; DuckDB ``quantile_cont``
    restates it) and ``adaptive_ok`` whether the doc clears its own
    language's cut — advisory columns beside the fixed global 0.5
    gate, from one <=|langs|-row aggregate broadcast back.

    Round 9 adds RefinedWeb's actual FIRST stage ahead of every
    content stage (operators/weburl.py): ``url_keep`` (keep-first by
    normalized URL — the re-crawl prune; the synthetic URL is a pure
    function of doc_id/source exercising case, www., tracking params,
    and fragments, so the DuckDB oracle restates the whole regex
    normalization chain) and ``domain``/``domain_keep`` (at most 25
    docs per registered domain in seeded md5 order). Both fold into
    ``keep``/``drop_reason`` at top priority.

    Round 10 upgrades the domain key to TRUE eTLD+1 against the
    embedded public-suffix snapshot (operators/psl.py): the host mix
    gains doc-unique ``.co.uk`` registrants, ``github.io``
    private-section subdomains, and ``k12.ca.us`` 3-label hosts, and
    the oracle regenerates its domain CASE from the SAME snapshot
    tables — a rule-set divergence is structurally impossible.

    Round 11 adds the LICENSE/COPYRIGHT screen as an oracle-checked
    drop-reason stage (functions/text.py license_flags_expr — The-Stack
    permissive-license gating / C4 notice filtering): the synthetic
    corpus plants boilerplate footers as a pure function of doc_id
    (rights-reserved marks, a permissive Apache grant, CC-BY with a
    dated copyright, and a bare copyright notice), and ``license_ok``
    drops rights-reserved documents and copyright notices that carry no
    recognized license family — the curation bias where permissively
    licensed text stays and restricted text routes out. The oracle
    regexes are GENERATED from the same pattern tables
    (license_flags_sql), the psl.py one-rule-source precedent.

    Round 11 (cont.) adds RefinedWeb's URL BLOCKLIST as the new
    top-priority stage (operators/weburl.py domain_blocklist_flag —
    the adult/fraud/tracker screen their recipe runs before any
    content stage): the item%10==9 docs resolve to the planted
    ``ads.tracker-farm.example`` domain, the ``_BLOCKED_DOMAINS``
    tuple compiles to an in-row NOT-isin on the same eTLD+1 resolution
    the cap uses (no join, no shuffle; a UT1-scale list would switch
    to the operator's broadcast-DataFrame mode), and the oracle's IN
    list is built from the SAME tuple. Plus the ROBOTS-COMPLIANCE
    stage right behind it (operators/weburl.py robots_filter, RFC
    9309): the item%20==15 docs land on a fixed docs site whose
    robots.txt disallows /item/ with a wildcard+$ allow-override, the
    hot site's allow-override re-admits everything (longest-match
    exercised both ways), matching is per raw HOST (origin scope, the
    www. and bare hosts each carry the file), and the oracle's verdict
    CASE is GENERATED from the same robots texts via the operator's
    own parse/compile functions (_robots_case_sql)."""
    from ..functions.text import license_flags_expr, quality_score_expr
    from ..operators.dedup import _spread, ngram_contamination
    from ..operators.profile import adaptive_quality_filter, unigram_logprob_scores
    from ..operators.weburl import (
        domain_blocklist_flag,
        domain_cap_flag,
        robots_filter,
        url_dedup_flag,
    )

    d = _spread(_t(spark, sf, "documents"))
    # round 14: the _JT_LANG_TEXTS planted multilingual/CJK slots flow
    # through the FLAGSHIP end-to-end verdict (they were confined to
    # text_stats/lang_scores before), and the gopher stage routes by
    # script — the planted real-script zh/ja/ko docs survive gopher
    # ONLY because routing applies the char-grain rules (unrouted they
    # are one giant pseudo-token: instant word-count fail). Staged as
    # real columns (Project layers) so lang-ID runs once per doc on one
    # staged token array, and the routed token array is shared by all
    # gopher rules (SPARK-36718).
    d = (
        d.withColumn("text", _cur_text_expr())
        .withColumn("__lt_toks", F.expr(tokens_sql("text")))
        .withColumn(
            "__jt_lang", F.expr(lang_id_sql("text", toks_sql="__lt_toks"))
        )
    )
    # round 16 (optimization): the staged corpus (planted text synth +
    # lang-ID, ~1.5 s/pass at sf0.1) is read by
    # EVERY downstream stage — the per-doc flag projection (twice,
    # through the adaptive filter's cuts+join-back), the contamination
    # join's two slices, and the unigram model's passes.
    # Un-materialized, Catalyst inlined the whole staging subtree into
    # each consumer (~8 corpus-staging passes per execution — guide
    # §1.2 step 1). One eager localCheckpoint runs the staging once;
    # at 100 TB this is the standard materialize-the-staged-corpus
    # trade (executor-local disk, the same bytes a shuffle of the
    # corpus would spill). The checkpoint is NARROWED to the columns
    # downstream stages actually read (guide §2.3 "project before"
    # materializing): `source`/`n_chars` have no consumer, and the
    # routed token array `__rt` (≈ text-sized) is read ONLY by the
    # gopher rules in the `per` projection, so it stays LAZY — staged
    # as its own Project layer below, shared across the eight rules
    # (SPARK-36718 keeps multi-referenced non-cheap projections
    # un-inlined) and computed exactly once per row, without doubling
    # the checkpoint's materialized bytes.
    d = d.select("doc_id", "lang", "text", "__jt_lang").localCheckpoint(
        eager=True
    )
    d = d.withColumn("__rt", F.expr(_CUR_RT_SQL))
    _cjk_pred = F.expr(_JT_CJK_SQL)
    # license/copyright boilerplate footers planted as a pure function
    # of doc_id (constant fractions at any sf) from the shared
    # _LIC_FOOTERS table: rights-reserved (drop), permissive Apache
    # (keep), CC-BY + dated copyright (keep — license present), bare
    # copyright with no license (drop)
    _footer = F.lit("")
    for _m, _s in reversed(_LIC_FOOTERS):
        _footer = F.when(F.col("doc_id") % 20 == _m, F.lit(_s)).otherwise(_footer)
    _lic_text = F.concat(F.col("text"), _footer)
    _lic = license_flags_expr(_lic_text, lowered=F.col("__lic_low"))
    _quality = quality_score_expr("text", cjk=_cjk_pred, toks=F.col("__rt"))
    # Scale-stable synthetic URL (a pure function of doc_id): most docs
    # get a doc-unique URL/domain, docs = 1 (mod 10) re-crawl their
    # predecessor's page (10% planted dups AT ANY sf — different
    # scheme-case/www/params, identical normalized key), and items = 3
    # (mod 10) pile onto ONE hot domain (the crawl-skew case the cap
    # exists for). Both fractions stay ~constant as the corpus grows.
    item = F.when(
        F.col("doc_id") % 10 == 1, F.col("doc_id") - 1
    ).otherwise(F.col("doc_id"))
    # host mix exercises the PSL paths (round 10): doc-unique .co.uk
    # registrants (2-label ccSLD — must NOT collapse into one co.uk
    # group), private-section github.io subdomains, and the 3-label US
    # school hierarchy, beside the plain .org default and the hot
    # domain the cap exists for
    istr = item.cast("string")
    host = (
        # round 11: fixed robots-governed docs domain (~5% of items) —
        # checked FIRST (mod-20, more specific than the mod-10 slots)
        F.when(item % 20 == 15, F.lit("docs.example-site.net"))
        .when(item % 10 == 3, F.lit("hot.example-hub.org"))
        .when(item % 10 == 7, F.concat(F.lit("example"), istr, F.lit(".co.uk")))
        .when(item % 10 == 4, F.concat(F.lit("site"), istr, F.lit(".github.io")))
        .when(item % 10 == 6, F.concat(F.lit("school"), istr, F.lit(".k12.ca.us")))
        # round 11: the blocklisted tracker farm (~10% of items) — the
        # RefinedWeb URL-filter stage's planted target
        .when(item % 10 == 9, F.lit("ads.tracker-farm.example"))
        .otherwise(F.concat(F.lit("example"), istr, F.lit(".org")))
    )
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://WWW.")).otherwise(
            F.lit("http://")
        ),
        host,
        F.lit("/item/"),
        item.cast("string"),
        F.when(item % 4 == 0, F.lit("?utm_source=feed&utm_medium=rss"))
        .when(item % 4 == 1, F.lit("?p=2#sec"))
        .otherwise(F.lit("")),
    )
    # round 16 (optimization): the rank relation's eager pagerank jobs
    # are independent of everything until the annotate join below —
    # build them on a pool thread so they overlap the URL/content
    # stages' construction (guide §2.6)
    _fut_rank = _bg_submit(_synth_crawl_rank, d.select("doc_id"))

    # round 16 (optimization): the logprob gate chain (unigram model ->
    # checkpointed thin scores -> per-language adaptive cut) reads only
    # the pinned staged corpus — independent of the per/contam builds
    # until the final join, so its model aggregates and checkpoint job
    # overlap them from the pool (guide §2.6)
    def _build_lp():
        lp = unigram_logprob_scores(d, vocab_size=100, cjk=_cjk_pred).join(
            d.select("doc_id", F.col("__jt_lang").alias("__lg")), on="doc_id"
        )
        # the adaptive filter reads its input twice (the <=|langs|-row
        # cuts aggregate + the join-back); without a checkpoint the
        # WHOLE unigram model (two exchanges + the 1-row total cross
        # join) inlines into both branches. The checkpointed relation
        # is 3 thin columns per doc (the bm/rank eager-at-construction
        # precedent); at full scale persist the scores to a table (or
        # exact=False approx cuts) instead of re-deriving them per
        # branch.
        lp = lp.select("doc_id", "mean_logprob", "__lg").localCheckpoint(
            eager=True
        )
        lp = adaptive_quality_filter(
            lp, "mean_logprob", "__lg", q=0.10,
            cut_col="__lpc", keep_col="__lpok",
        )
        return lp.select(
            "doc_id", F.round("__lpc", 6).alias("lp_cut"), "__lpok"
        )

    _fut_lp = _bg_submit(_build_lp)

    # round 17 (optimization): the whole per-doc flag chain
    # (construction + the url/domain/dup windows + the thin-flag
    # checkpoint + the adaptive cut) reads only the pinned staged
    # corpus — independent of the contamination leg until the final
    # join. It builds on the pool beside rank and lp, so its ~1 s
    # checkpoint job AND its py4j construction overlap the
    # contamination leg's ~1 s of pure expression building on the main
    # thread (guide §2.6). The pool (_bg_submit) is 3 wide at 24 cores
    # and 4 from 32; below 24 cores it is 2 wide and per waits for
    # rank's or lp's worker. The r16 §22 attempt pooled contam instead
    # and measured a wash, because the 2-wide pool serialized it
    # behind lp.
    def _build_per():
        # the Project layer under the per-doc rules: gopher's 3-gram and
        # line arrays and the lowered license text, each derived once
        # per row (functions/text.py staging contract)
        per = d.select(
            "*",
            F.expr(gopher_grams_sql("__rt")).alias("__gg"),
            F.expr(gopher_lines_sql("text")).alias("__lines"),
            F.lower(_lic_text).alias("__lic_low"),
        ).select(
            "doc_id",
            "lang",
            F.col("__jt_lang").alias("doc_lang"),
            url.alias("__url"),
            (F.col("doc_id") % 20 == 0).alias("is_benchmark"),
            F.expr(_CUR_GOPHER_ROUTED_SQL).alias("gopher_ok"),
            _quality.alias("__q"),
            fingerprint_expr("text").alias("__fp"),
            _lic.alias("__lic"),
        )
        per = domain_blocklist_flag(per, "__url", _BLOCKED_DOMAINS)
        per = robots_filter(per, list(_ROBOTS_TXT), "__url")
        per = url_dedup_flag(per, "__url", "doc_id", flag_col="url_keep")
        per = domain_cap_flag(
            per, "__url", "doc_id", cap=25, seed=1,
            flag_col="domain_keep", domain_col="domain",
        ).drop("__url")
        w = Window.partitionBy("__fp").orderBy("doc_id")
        per = per.withColumn("dup_ok", F.row_number().over(w) == 1).drop("__fp")
        # the adaptive filter reads its input twice (cuts aggregate +
        # join-back); per carries every expensive per-doc expression
        # (routed gopher, quality, fingerprint, license regexes) plus
        # the url/domain/dup windows — checkpoint the thin flag rows so
        # that chain runs once, not twice (round 16; the lp-stage
        # precedent above)
        per = per.localCheckpoint(eager=True)
        return adaptive_quality_filter(
            per, "__q", "lang", q=0.25, cut_col="__cut", keep_col="adaptive_ok"
        ).select(
            "doc_id",
            "doc_lang",
            "blocklist_ok",
            "robots_ok",
            "url_keep",
            "domain",
            "domain_keep",
            "is_benchmark",
            "gopher_ok",
            (F.col("__q") >= 0.5).alias("quality_ok"),
            "dup_ok",
            F.col("__lic").getField("has_copyright").alias("has_copyright"),
            F.col("__lic").getField("rights_reserved").alias("rights_reserved"),
            F.col("__lic").getField("license_name").alias("license_name"),
            F.col("__lic").getField("license_ok").alias("license_ok"),
            F.round("__cut", 6).alias("lang_cut"),
            "adaptive_ok",
        )

    _fut_per = _bg_submit(_build_per)
    contam = ngram_contamination(
        d.where(F.col("doc_id") % 20 != 0), d.where(F.col("doc_id") % 20 == 0),
        n=8, cjk=_cjk_pred, cjk_n=8,
    ).select("doc_id", "contaminated")
    per = _fut_per.result()
    # round 14: the logprob gate is a PER-LANGUAGE adaptive P10 cut
    # (the CCNet shape — they bucket perplexity per language) over the
    # SCRIPT-ROUTED unigram model: a global constant structurally
    # mass-drops every minority language (and the word-soup corpus's
    # razor-thin lp distribution made the old -3.41/-3.445 constant
    # snap on every content change), while each language's own tail
    # is a real typicality signal at any mix. Built above on the pool
    # (_build_lp) — collected here, right before its only consumer.
    lp = _fut_lp.result()
    j = (
        per.join(contam, on="doc_id", how="left")
        .join(lp, on="doc_id", how="left")
        .select(
            "doc_id",
            "doc_lang",
            "blocklist_ok",
            "robots_ok",
            "url_keep",
            "domain",
            "domain_keep",
            "is_benchmark",
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
            "dup_ok",
            "has_copyright",
            "rights_reserved",
            "license_name",
            "license_ok",
            "gopher_ok",
            "quality_ok",
            F.coalesce("__lpok", F.lit(False)).alias("lp_ok"),
            "lp_cut",
            "lang_cut",
            "adaptive_ok",
        )
    )
    # round 15: the crawl->rank->curation chain closes — the domain
    # PageRank prior (RefinedWeb/Common-Crawl centrality-as-feature)
    # rides the verdict row as an ANNOTATE stage: each doc's synthetic
    # crawl-source domain (d<doc_id%19>.com, the same deterministic
    # graph as top_terms' rank part) broadcast-joins its
    # integer-grid rank on as ``domain_rank``. Annotate-only by
    # design: the prior feeds sampling weights / classifier features
    # downstream, and keep/drop_reason stay byte-stable (the sf0.1
    # histogram pin is untouched). One map-side stage — the ≤23-row
    # rank relation broadcasts; the corpus never shuffles for it.
    from ..operators.linkgraph import attach_domain_rank
    from ..operators.psl import parse_psl_rules

    j = attach_domain_rank(
        j.withColumn(
            "__src_url",
            F.concat(
                F.lit("http://www.d"),
                (F.col("doc_id") % 19).cast("string"),
                F.lit(".com/p/"),
                F.col("doc_id").cast("string"),
            ),
        ),
        _fut_rank.result(),
        url_col="__src_url",
        psl=parse_psl_rules([]),
    ).drop("__src_url")
    keep = (
        F.col("blocklist_ok")
        & F.col("robots_ok")
        & F.col("url_keep")
        & F.col("domain_keep")
        & ~F.col("is_benchmark")
        & ~F.col("contaminated")
        & F.col("dup_ok")
        & F.col("license_ok")
        & F.col("gopher_ok")
        & F.col("quality_ok")
        & F.col("lp_ok")
    )
    # blocklist outranks everything — RefinedWeb's recipe runs the URL
    # filter before any dedup or content stage
    reason = (
        F.when(~F.col("blocklist_ok"), "blocked")
        .when(~F.col("robots_ok"), "robots")
        .when(~F.col("url_keep"), "url_dup")
        .when(~F.col("domain_keep"), "domain_cap")
        .when(F.col("is_benchmark"), "benchmark")
        .when(F.col("contaminated"), "contaminated")
        .when(~F.col("dup_ok"), "duplicate")
        .when(~F.col("license_ok"), "license")
        .when(~F.col("gopher_ok"), "gopher")
        .when(~F.col("quality_ok"), "quality")
        .when(~F.col("lp_ok"), "logprob")
    )
    return j.select(
        "doc_id",
        "doc_lang",
        "blocklist_ok",
        "robots_ok",
        "url_keep",
        "domain",
        "domain_keep",
        "is_benchmark",
        "contaminated",
        "dup_ok",
        "has_copyright",
        "rights_reserved",
        "license_name",
        "license_ok",
        "gopher_ok",
        "quality_ok",
        "lp_ok",
        keep.alias("keep"),
        reason.alias("drop_reason"),
        "lp_cut",
        "lang_cut",
        "adaptive_ok",
        "domain_rank",
    )


def q_corpus_profile_docs(spark, sf):
    """Dataset-card profile per (source, lang) slice: one map-only
    projection + ONE hash aggregate over the whole corpus (volumes,
    mean quality, Gopher pass rate, exact-dup mass, lang-ID agreement
    — operators/profile.py). The cheapest full-corpus statement at
    100 TB; every derived double is either exact-integer arithmetic or
    a 4-dp-rounded mean, so the DuckDB oracle hash-matches."""
    return corpus_profile(_t(spark, sf, "documents"))


def q_top_terms(spark, sf):
    """Corpus token-frequency analysis, both grains, as ONE tagged
    union (registry-folding pattern — round 13 adds the ``rank`` part:
    domain PageRank over a deterministic synthetic link graph, FULL
    oracle via an exact-integer unrolled CTE chain; see the in-body
    comment): the ``term`` part is the top-50
    corpus terms (explode, drop stopwords/empties, count); the
    ``doclp`` part is the CCNet-style per-document mean unigram
    log-probability under the corpus's own empirical model
    (operators/profile.py unigram_logprob_scores — vocab_size=100 so
    the out-of-vocabulary ln(0.5/N) floor is actually exercised). The
    DuckDB oracle replicates the model exactly: same tokenization,
    same (count DESC, token ASC) vocabulary ranking, same OOV floor.
    The ``pmi`` part is collocation mining (operators/profile.py
    bigram_pmi — Church & Hanks PMI over in-row adjacent bigrams,
    min_count=5, top-50), with the full double-log algebra replicated
    and 6-dp-rounded on both engines. The ``heavy`` part is the EXACT
    distributed heavy-hitters operator (operators/frequent.py — a
    per-partition Misra-Gries candidate sweep whose superset guarantee
    feeds an exact broadcast-filtered recount): tokens above 0.5% of
    the corpus, hash-checked against DuckDB's plain GROUP BY/HAVING —
    the sketch proposes, the recount disposes, so the answer is exact
    and partitioning-independent.

    The ``doclp2`` part is the INTERPOLATED BIGRAM language model
    (operators/profile.py bigram_logprob_scores — Jelinek-Mercer
    lam=0.7, vocab_size=100 so the OOV floor fires, bigram_size=500
    and min_count=2 so both the top-B truncation and the backoff
    branch are exercised): per-document mean ln(0.7*P(w|prev) +
    0.3*P(w)) over bigram positions, the word-ORDER quality signal
    the unigram part can't carry. DuckDB replicates the whole model:
    same bigram construction, same (count DESC, pair ASC) table
    ranking, same conditional fold, same interpolation arithmetic
    (1-0.7 written as a DOUBLE subtraction to match IEEE exactly),
    6-dp-rounded on both engines. n_tokens carries n_bigrams and
    mean_logprob carries mean_logprob2 in this part's rows.

    The ``doclp3`` part (round 16) climbs one more order: the
    INTERPOLATED TRIGRAM model (operators/profile.py
    trigram_logprob_scores — lam3=0.5, lam2=0.3, vocab_size=100,
    bigram_size=500, trigram_size=500, min_count=2) over the SAME
    planted routed corpus as doclp2: per-document mean
    ln(0.5*P(w|w_2,w_1) + 0.3*P(w|w_1) + 0.2*P(w)) over trigram
    positions, conditionals folded against UNPRUNED lower-order
    counts. The DuckDB twin re-derives all three model tables and the
    three-term interpolation with the same IEEE-exact literal
    arithmetic. n_tokens carries n_trigrams and mean_logprob carries
    mean_logprob3 in this part's rows."""
    from ..operators.frequent import heavy_hitters
    from ..operators.profile import (
        bigram_pmi,
        bitri_logprob_scores,
        unigram_logprob_scores,
    )

    d = _t(spark, sf, "documents")
    # round 16 (optimization): the rank leg's eager pagerank jobs are
    # independent of every other leg — build them on a pool thread so
    # they overlap the LM model materialization and the other legs'
    # expression building (guide §2.6)
    _fut_rank = _bg_submit(_synth_crawl_rank, d.select("doc_id"))
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    toks = d.select(F.explode(tokens_expr("text")).alias("token"))
    terms = (
        toks.where((F.col("token") != "") & ~F.array_contains(sw, F.col("token")))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(50)
        .select(
            F.lit("term").alias("part"),
            "token",
            "cnt",
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("long").alias("n_tokens"),
            F.lit(None).cast("double").alias("mean_logprob"),
            F.lit(None).cast("double").alias("pmi"),
            F.lit(None).cast("double").alias("rank"),
        )
    )
    lp = unigram_logprob_scores(d, vocab_size=100).select(
        F.lit("doclp").alias("part"),
        F.lit(None).cast("string").alias("token"),
        F.lit(None).cast("long").alias("cnt"),
        "doc_id",
        "n_tokens",
        "mean_logprob",
        F.lit(None).cast("double").alias("pmi"),
        F.lit(None).cast("double").alias("rank"),
    )
    pmi = bigram_pmi(d, min_count=5, top_n=50).select(
        F.lit("pmi").alias("part"),
        F.col("bigram").alias("token"),
        "cnt",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("mean_logprob"),
        "pmi",
        F.lit(None).cast("double").alias("rank"),
    )
    heavy = heavy_hitters(
        d.select(F.explode(tokens_expr("text")).alias("tok")).where(
            F.col("tok") != ""
        ),
        "tok",
        threshold_frac=0.005,
    ).select(
        F.lit("heavy").alias("part"),
        F.col("item").alias("token"),
        "cnt",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("mean_logprob"),
        F.lit(None).cast("double").alias("pmi"),
        F.lit(None).cast("double").alias("rank"),
    )
    # round 15: doclp2 runs over a PLANTED corpus (zh near-dup docs at
    # the doc_id % 200 in (61, 161) band, the _cjk_dd recipe) WITH
    # script routing — unrouted, an unsegmented zh doc is one
    # whitespace token, has zero bigram positions, and silently
    # VANISHES from this part; routed, its positions are adjacent CHAR
    # pairs (the BM25 CJK term grain) and the word-order signal is
    # real. The oracle re-derives the planted text, the routed token
    # arrays, and the whole bigram model from them.
    from ..functions.text import is_cjk_doc_expr

    d2 = d.withColumn("text", _cjk_dd_text_expr(200, 61, 161))
    # round 16 (optimization): both n-gram legs are built over ONE
    # shared model (bitri_logprob_scores — the tokenized arrays and the
    # unigram/bigram count tables materialize once instead of the two
    # ops re-tokenizing the planted corpus 12x between them); rows are
    # pinned identical to the separate ops (tests/test_profile.py), so
    # the oracle is untouched
    lp2_raw, lp3_raw = bitri_logprob_scores(
        d2, vocab_size=100, bigram_size=500, trigram_size=500,
        min_count=2, lam=0.7, lam3=0.5, lam2=0.3,
        cjk=is_cjk_doc_expr("text"),
    )
    lp2 = lp2_raw.select(
        F.lit("doclp2").alias("part"),
        F.lit(None).cast("string").alias("token"),
        F.lit(None).cast("long").alias("cnt"),
        "doc_id",
        F.col("n_bigrams").alias("n_tokens"),
        F.col("mean_logprob2").alias("mean_logprob"),
        F.lit(None).cast("double").alias("pmi"),
        F.lit(None).cast("double").alias("rank"),
    )
    # round 16: doclp3 — the trigram rung over the SAME planted routed
    # corpus (model sizes keep every branch live: the top-500
    # truncations, the min_count prune, both backoff levels, and the
    # unigram OOV floor)
    lp3 = lp3_raw.select(
        F.lit("doclp3").alias("part"),
        F.lit(None).cast("string").alias("token"),
        F.lit(None).cast("long").alias("cnt"),
        "doc_id",
        F.col("n_trigrams").alias("n_tokens"),
        F.col("mean_logprob3").alias("mean_logprob"),
        F.lit(None).cast("double").alias("pmi"),
        F.lit(None).cast("double").alias("rank"),
    )
    # round 13: the ``rank`` part graduates the bit-deterministic
    # PageRank (operators/linkgraph.py) to a driver-visible FULL
    # oracle. The documents table carries no URL column, so the link
    # graph is a DETERMINISTIC pure function of doc_id (two outlinks
    # per doc over a 23-domain universe; domains d19..d22 never emit,
    # so the dangling-mass redistribution path is exercised), run
    # through the REAL production path — url synth -> domain_link_edges
    # (PSL eTLD+1 collapse) -> weighted 3-round integer-grid pagerank.
    # Ranks live on the 1e-9 grid with integral-div transfers, so the
    # DuckDB oracle re-derives the ENTIRE iteration as exact-LONG CTEs
    # (the logreg_train_sql precedent) and lands bit-identical values.
    # Eager at query construction (the ivf/classifier precedent): the
    # per-round dangling-mass scalars are collected, on a graph already
    # collapsed to <= 23 nodes.
    ids = d.select("doc_id")
    # scoped suffix table inside _synth_crawl_rank: the synth
    # universe is *.com only, and the FULL embedded PSL snapshot
    # compiles to an in-row when/IN tree whose per-execution
    # analysis+codegen cost (~4-5 s at sf0.1, measured) would
    # dwarf the 23-node graph it feeds — the caller-supplied-psl
    # API exists for exactly this (the full table stays default
    # and is exercised by the curation/weburl rows)
    from ..operators.linkgraph import attach_domain_rank
    from ..operators.psl import parse_psl_rules

    _u = lambda prefix, expr, path: F.concat(  # noqa: E731
        F.lit(prefix), expr.cast("string"), F.lit(path),
        F.col("doc_id").cast("string"),
    )
    pr = _fut_rank.result()
    ranks = pr.select(
        F.lit("rank").alias("part"),
        F.col("node").alias("token"),
        F.lit(None).cast("long").alias("cnt"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("mean_logprob"),
        F.lit(None).cast("double").alias("pmi"),
        F.col("rank"),
    )
    # round 14: the crawl->rank chain's CONSUMER step is driver
    # visible too — attach_domain_rank broadcast-joins the domain
    # prior onto every document through its (synthetic) source
    # URL's eTLD+1, the Common Crawl domain-centrality-as-feature
    # pattern. One map-side stage (rank side broadcast); the
    # oracle restates the join through the same pure-function
    # domain and the exact-integer pr3 grid.
    rankdoc = attach_domain_rank(
        ids.select(
            "doc_id",
            _u("http://www.d", F.col("doc_id") % 19, ".com/p/").alias(
                "__url"
            ),
        ),
        pr,
        url_col="__url",
        psl=parse_psl_rules([]),
    ).select(
        F.lit("rankdoc").alias("part"),
        F.lit(None).cast("string").alias("token"),
        F.lit(None).cast("long").alias("cnt"),
        "doc_id",
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("mean_logprob"),
        F.lit(None).cast("double").alias("pmi"),
        F.col("domain_rank").alias("rank"),
    )
    ranks = ranks.unionByName(rankdoc)
    out = terms
    for leg in (lp, pmi, heavy, lp2, lp3, ranks):
        out = out.unionByName(leg)
    return out


def q_chunk_tokens_docs(spark, sf):
    """Context-window prep, both grains, as ONE tagged union (the
    registry-folding pattern): the ``chunk`` part is within-document
    overlapping 32-token windows (map-only — tokenize once in-row, one
    posexplode); the ``pack`` part is GPT-style CROSS-document packing
    spans at seq_len=128 (``pack_token_windows``: one offset-window
    cumsum + in-row span math — documents cross pack boundaries, so no
    context slot wastes padding). Both algebras replicated exactly in
    the DuckDB oracle, including the window cumsum. The ``bpepairs``
    part is BPE tokenizer training's first iteration, driver-visible:
    the top-50 adjacent character-pair counts over the corpus's
    distinct-word frequency table (operators/bpe.py bpe_pair_stats —
    the argmax of this relation IS the first learned merge; the full
    iterative trainer is pytest-gated against a pure-Python reference
    implementation in test_bpe.py, since n driver-chosen argmaxes
    can't be one SQL statement)."""
    from ..operators.bpe import END_OF_WORD, bpe_pair_stats, word_freqs
    from ..operators.packing import pack_token_windows

    d = _t(spark, sf, "documents")
    chunks = chunk_tokens(d, chunk_size=32, overlap=8).select(
        "doc_id",
        F.lit("chunk").alias("part"),
        "chunk_idx",
        "chunk_text",
        "n_tokens",
        F.lit(None).cast("long").alias("pack_id"),
        F.lit(None).cast("long").alias("tok_start"),
        F.lit(None).cast("long").alias("pack_pos"),
    )
    spans = pack_token_windows(d, seq_len=128).select(
        "doc_id",
        F.lit("pack").alias("part"),
        F.lit(None).cast("int").alias("chunk_idx"),
        F.lit(None).cast("string").alias("chunk_text"),
        F.col("n_toks").alias("n_tokens"),
        "pack_id",
        "tok_start",
        "pack_pos",
    )
    syms = word_freqs(d).select(
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD))
        ).alias("symbols"),
        "cnt",
    )
    bpepairs = (
        bpe_pair_stats(syms)
        .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(50)
        .select(
            F.lit(None).cast("long").alias("doc_id"),
            F.lit("bpepairs").alias("part"),
            F.lit(None).cast("int").alias("chunk_idx"),
            F.concat_ws("\x01", "a", "b").alias("chunk_text"),
            F.col("cnt").alias("n_tokens"),
            F.lit(None).cast("long").alias("pack_id"),
            F.lit(None).cast("long").alias("tok_start"),
            F.lit(None).cast("long").alias("pack_pos"),
        )
    )
    return chunks.unionByName(spans).unionByName(bpepairs)


def q_ivf_train_centroids(spark, sf):
    """IVF build step, driver-visible: 2 Lloyd's rounds over the full
    embeddings table, then the inverted-list sizes per trained centroid
    (cid, list_size) — list BALANCE is the documented reason to train
    (bounded per-list candidate counts at scale), so the balance lands
    in the recorded rows.

    Round 8: FULLY oracle-checked (was rows-only). With
    ``deterministic=True`` every k-means mean is a fixed-order fold
    (ascending vec_id), so the trained centroids are bit-reproducible
    and the DuckDB oracle UNROLLS both Lloyd's iterations — seed
    normalization, argmax assignment (cross join + window, lowest-cid
    tie-break like the in-row fold), ordered-fold means, spherical
    re-normalization, empty-cluster carry — and restates the final
    assignment counts exactly."""
    e = _t(spark, sf, "embeddings")
    cents = train_ivf_centroids(e, n_centroids=16, n_iter=2, deterministic=True)
    assigned = ivf_assign(e, cents)
    return (
        assigned.groupBy(F.col("cid").cast("long").alias("cid"))
        .agg(F.count("*").alias("list_size"))
        .orderBy("cid")
    )


def q_dedup_exact_docs(spark, sf):
    """Content fingerprinting, both flavors oracle-checked per survivor
    of the exact dedup (hash groupBy): the md5 whole-content
    fingerprint (the exact-dedup key) AND the winnowing rolling-hash
    fingerprint set (Schleimer et al. 2003 — robust to partial
    overlap; ``winnow_fingerprints_expr``), with its size. The winnow
    column is map-only over the survivors and bit-identical to the
    DuckDB ``winnow_fps_sql`` twin.

    Round 14: the dedup keys on the WIDTH-FOLDED fingerprint
    (``dedup_exact(width_fold=True)``), and ``_wf_text_expr`` plants
    fullwidth/halfwidth re-typed pairs (doc_id %% 400 in {77, 277}:
    same text, one member typed in fullwidth forms + ideographic
    spaces) that collapse onto one survivor ONLY because of the fold
    — unfolded they fingerprint apart. The oracle folds with the
    generated ``fingerprint_sql(width_fold=True)`` twin."""
    from ..operators.dedup import _spread

    # winnow BELOW the dedup shuffle, on the spread scan: the rolling
    # hash is the heavy per-row stage, and both the raw scan (1-3 file
    # splits) and the post-window exchange (AQE-coalesced to 1 for
    # small data) would serialize it onto a few cores (measured 20x on
    # the bench entry). The window then carries the ~0.5 KB fingerprint
    # string — one shuffle total, unchanged.
    d = _spread(_t(spark, sf, "documents")).withColumn(
        "text", _wf_text_expr()
    )
    # rolling hash computed ONCE per row: projected in a lower select
    # and referenced twice above — Catalyst keeps non-cheap
    # multi-referenced projections un-inlined (SPARK-36718, the
    # text_stats tokenize-once shape); inlining the expression into
    # both output columns doubled the heavy stage (measured 2x on the
    # bench entry)
    lvl = d.select(
        "doc_id", "text", winnow_fingerprints_expr("text").alias("__wfps")
    )
    enriched = lvl.select(
        "doc_id",
        "text",
        # canonical comma-joined string (not array<long>): the driver's
        # value hasher is only exercised on scalar columns elsewhere, so
        # the fingerprint SET is serialized identically in both engines
        F.concat_ws(
            ",", F.transform(F.col("__wfps"), lambda x: x.cast("string"))
        ).alias("winnow_fps"),
        F.size(F.col("__wfps")).cast("long").alias("n_winnow_fps"),
    )
    out = dedup_exact(enriched, width_fold=True)
    return out.select(
        "doc_id",
        fingerprint_expr("text", width_fold=True).alias("fp"),
        "winnow_fps",
        "n_winnow_fps",
    )


def q_dedup_incremental_docs(spark, sf):
    """Incremental cross-store fuzzy dedup, driver-checked via the
    ``within_bound`` pattern: documents split deterministically into a
    pre-existing corpus store (``doc_id % 3 = 0``, signatures only) and
    an ingest batch (the rest), plus two planted near-duplicate
    families the pipeline MUST kill — ``+100000`` ids re-send store
    texts with one appended token (cross-store near-dups) and
    ``+200000`` ids re-send batch texts (batch-internal near-dups, the
    class the positional-arg regression silently missed).

    One row per batch doc with booleans the DuckDB oracle asserts are
    literally TRUE:

    - ``exact_kill_ok``: a doc whose normalized fingerprint already
      exists in the store, or on a lower-id batch doc, did not survive
      (exact duplicates have identical signatures, so the banding join
      catches them with certainty);
    - ``planted_kill_ok``: every planted near-dup was killed (true
      trigram jaccard ≈ g/(g+1) ≈ 0.99 against its source — banding
      miss probability is ~1e-20 at 16 bands × 4 rows);
    - ``fuzzy_kill_grounded``: every killed doc has SOME partner
      (store doc, or lower-id batch doc) with TRUE trigram jaccard
      >= 0.4 — no false kills from estimator noise (the signature
      estimator's 3-sigma band around the 0.7 threshold stays far
      above 0.4 at 64 hashes).

    ``planted`` and ``exact_dup`` are data-derived and SQL-replicated,
    so the value hash pins the split + planting construction too.
    """
    from ..operators.dedup import dedup_minhash_incremental

    d = _t(spark, sf, "documents")
    # single-file scans materialize as 1-3 fat partitions; spread BOTH
    # halves to full parallelism BEFORE pinning so every downstream
    # fold/explode (signature folds, shingle joins, grounding) reads
    # 32-way instead of serializing on the scan's partitioning. The
    # store is pinned too: it feeds three consumers (signature fold,
    # fingerprint set, grounding partners) that would otherwise each
    # re-scan and re-decompress the parquet serially.
    par = spark.sparkContext.defaultParallelism
    # the pinned relations carry the per-doc derived columns every
    # downstream stage needs — fingerprint for the exact-dup flags and
    # 8-byte gram hashes for the grounding inverted index — so text is
    # shingled/fingerprinted ONCE per side instead of once per consumer.
    # Round 17, tried and REVERTED: folding the MinHash signature into
    # these pins as one more column (one checkpoint job per side
    # instead of the chained thin signature pin) measured 4.7 -> 6.3 s
    # on the leg — signature CONSUMERS (banding x2, verify join,
    # survivor return) then read projections of the FAT pinned rows,
    # and a LogicalRDD scan deserializes full rows (no column pruning
    # into a checkpoint), so every consumer paid text+grams
    # deserialization for an (id, signature) read. The chained THIN
    # signature checkpoints are load-bearing, not redundant.
    _sh = shingles_expr(F.col("text"))  # ONE shingle tree, both sides
    enrich = lambda df: df.select(
        "doc_id",
        "text",
        fingerprint_expr("text").alias("__fp"),
        F.transform(_sh, lambda g: F.xxhash64(g)).alias("__gh"),
    )
    store = (
        enrich(d.where(F.col("doc_id") % 3 == 0))
        .repartition(par)
    )
    # round 16 (optimization): the store pin and the batch pin were
    # serialized only because ``planted`` read the pinned store — but
    # it needs just the <60-id slice, which the LAZY twin of the store
    # subtree rebuilds with the filter pushed to the parquet scan
    # (identical deterministic values). Pin the store on the pool
    # while the main thread checkpoints the now-independent batch
    # (guide §2.6), chaining the signature fold behind it on the SAME
    # worker.
    _fut_store = _bg_submit(lambda st=store: st.localCheckpoint(eager=True))
    base_batch = d.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    plant = F.concat(F.col("text"), F.lit(" planted"))
    # plant only from docs with >= 8 tokens: appending one token to an
    # n-token doc gives true trigram jaccard (n-2)/(n-1), which only
    # clears the 0.7 kill threshold with margin for longer docs — a
    # short doc at a planted id would make planted_kill_ok data-
    # dependent instead of invariant (oracle mirrors this filter)
    long_enough = F.size(F.expr("split(lower(trim(text)), '\\\\s+')")) >= 8
    planted = (
        d.where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .where((F.col("doc_id") < 60) & long_enough)
        .select((F.col("doc_id") + 100000).alias("doc_id"), plant.alias("text"))
        .unionByName(
            base_batch.where((F.col("doc_id") < 60) & long_enough).select(
                (F.col("doc_id") + 200000).alias("doc_id"), plant.alias("text")
            )
        )
    )
    # batch feeds many consumers (signatures, jaccard verify, fps,
    # killed set, grounding partners, output skeleton): pin it once —
    # batch-sized by definition — instead of re-scanning + re-unioning
    # the parquet per consumer (the audit counted 22 scans)
    # corpus_sigs feeds BOTH the banding and the verify join inside the
    # operator (in production it is a cheap parquet re-scan; here it is
    # a live fold) — pin it so the store's signature fold runs once.
    def _store_then_sigs():
        st = _fut_store.result()
        return st, minhash_signatures(
            st.select("doc_id", "text")
        ).localCheckpoint(eager=True)

    _fut_sigs = _bg_submit(_store_then_sigs)
    batch = (
        enrich(base_batch.unionByName(planted))
        .repartition(par)
        .localCheckpoint(eager=True)
    )
    store, store_sigs = _fut_sigs.result()
    survivors, _sigs = dedup_minhash_incremental(
        batch.select("doc_id", "text"), store_sigs, threshold=0.7
    )
    # survivors is referenced three times (alive flag, killed set,
    # output join): pin the id set once — batch-sized, ids only — so
    # the cross-store pipeline executes once, not per consumer
    alive = (
        survivors.select("doc_id")
        .withColumn("__alive", F.lit(True))
        .localCheckpoint(eager=True)
    )

    # exact-dup flags, fingerprint algebra identical to the oracle SQL
    # (the fingerprints are the pinned __fp column — computed once)
    bfp = batch.select("doc_id", "__fp")
    sfp = store.select("__fp").distinct()
    dup_store = bfp.join(sfp, on="__fp", how="left_semi").select("doc_id")
    dup_batch = (
        bfp.join(
            bfp.select(F.col("doc_id").alias("__id2"), "__fp"), on="__fp"
        )
        .where(F.col("__id2") < F.col("doc_id"))
        .select("doc_id")
    )
    exact = (
        dup_store.unionByName(dup_batch)
        .distinct()
        .withColumn("__exact", F.lit(True))
    )

    # grounding: every killed doc must have a real (true-jaccard) near
    # partner among the store or lower-id batch docs. Killed docs are a
    # small fraction of the batch, so the inverted-index join is
    # bounded by them, never the corpus.
    killed = batch.join(alive.select("doc_id"), on="doc_id", how="left_anti")
    # join on 8-byte gram hashes, and BROADCAST the killed side (a
    # small fraction of the batch): the full corpus gram relation then
    # never shuffles — only matching rows move into the count aggregate
    ksh = killed.select(
        F.col("doc_id").alias("__kid"),
        F.size("__gh").alias("__kn"),
        F.explode("__gh").alias("__ghx"),
    ).withColumnRenamed("__ghx", "__ghk")
    partners = store.withColumn("__pstore", F.lit(True)).unionByName(
        batch.withColumn("__pstore", F.lit(False))
    )
    psh = partners.select(
        F.col("doc_id").alias("__pid"),
        "__pstore",
        F.size("__gh").alias("__pn"),
        F.explode("__gh").alias("__ghk"),
    )
    inter = (
        psh.join(F.broadcast(ksh), on="__ghk")
        .where((F.col("__pstore")) | (F.col("__pid") < F.col("__kid")))
        .groupBy("__kid", "__pid", "__kn", "__pn")
        .agg(F.count("*").alias("__i"))
    )
    grounded = (
        inter.where(
            F.col("__i").cast("double")
            / (F.col("__kn") + F.col("__pn") - F.col("__i")).cast("double")
            >= 0.4
        )
        .select(F.col("__kid").alias("doc_id"))
        .distinct()
        .withColumn("__grounded", F.lit(True))
    )

    out = (
        batch.select("doc_id")
        .join(alive, on="doc_id", how="left")
        .join(exact, on="doc_id", how="left")
        .join(grounded, on="doc_id", how="left")
    )
    alive_c = F.coalesce("__alive", F.lit(False))
    exact_c = F.coalesce("__exact", F.lit(False))
    grounded_c = F.coalesce("__grounded", F.lit(False))
    return out.select(
        "doc_id",
        (F.col("doc_id") >= 100000).alias("planted"),
        exact_c.alias("exact_dup"),
        (~exact_c | ~alive_c).alias("exact_kill_ok"),
        ((F.col("doc_id") < 100000) | ~alive_c).alias("planted_kill_ok"),
        (alive_c | grounded_c).alias("fuzzy_kill_grounded"),
    )


def q_ngram_jaccard_adjacent(spark, sf):
    """Exact n-gram Jaccard similarity, both formulations, as ONE
    tagged union (registry-folding pattern): the ``adjacent`` part is
    the fuzzy-dedup verification primitive over adjacent doc-id pairs
    (oracle-checkable since the shingle definition is plain SQL); the
    ``ppjoin`` part is the EXACT prefix-filtered set-similarity
    SELF-JOIN (operators/setjoin.py — SSJoin/PPJoin family): ALL pairs
    of docs (id < 500 so the oracle's quadratic twin stays bounded)
    whose 3-shingle Jaccard reaches 0.5, found via rarest-token-first
    prefix blocking + in-row verify, never a cross join — the exact
    companion the MinHash/LSH approximate path verifies against.
    DuckDB restates ppjoin as the literal quadratic formulation, so
    the prefix filter's completeness is driver-checked, not just
    pytest-checked."""
    from ..operators.setjoin import set_similarity_join

    d = _t(spark, sf, "documents")
    # round 17 (optimization, re-landing the r16 shape behind scaled
    # evidence): join on the RAW text and shingle AFTER the exchange —
    # a 3-shingle array weighs ~3x its source text, so shingling before
    # the adjacent-id equi-join tripled both sides' shuffle bytes for
    # no reuse (guide §2.3 shuffle fewer bytes). r16 reverted this on
    # sf0.1 wall-clock (the corpus fits one task; exchange bytes are
    # invisible); the 10x tiled fixture flips the verdict — see
    # OPTIMIZATION_r17.md for the interleaved numbers. Nothing is
    # staged here: `sa`/`sb` and the intersect are plain project-level
    # subtrees that the intersect and the union both read, and
    # whole-stage codegen's subexpression elimination folds the
    # duplicates (the r16 §25 refined rule), so each side's shingles
    # and the intersect evaluate once per pair.
    _sh3 = shingles_expr(F.col("text"), 3)
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    j = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    sa = shingles_expr(F.col("ta"), 3)
    sb = shingles_expr(F.col("tb"), 3)
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    # |A ∪ B| = |A| + |B| − |A ∩ B| exactly: both sides are
    # array_distinct'd and a shingle array never holds a NULL element.
    # The array_union hash-set build per pair was a second full set
    # pass for a number two size() calls derive from the intersect
    # already computed (project-level CSE folds the duplicated
    # intersect subtree). Null text shingles to NULL, and size(NULL) is
    # NULL under the session's ANSI mode (with ANSI off it is -1 and
    # the two forms diverge), so a pair with a null text has a NULL
    # jaccard, as under array_union; empty text shingles to [""], so
    # empty vs empty is 1.0 and empty vs non-empty 0.0
    # (tests/test_dedup_similarity.py pins these cases).
    union = (F.size(sa) + F.size(sb)).cast("double") - inter
    adjacent = j.select(
        F.lit("adjacent").alias("part"),
        "id_a",
        "id_b",
        F.round(inter / union, 6).alias("jaccard"),
    )
    pp = set_similarity_join(
        d.where(F.col("doc_id") < 500).select(
            "doc_id", _sh3.alias("tokens")
        ),
        set_col="tokens",
        threshold=0.5,
    ).select(F.lit("ppjoin").alias("part"), "id_a", "id_b", "jaccard")
    return adjacent.unionByName(pp)


def q_embedding_cosine_topk(spark, sf):
    """Exact cosine top-k over BOTH vector sources as one tagged
    union (registry-folding pattern): the ``emb`` part is the
    brute-force baseline over the embeddings table (query ids < 8,
    k=5); the ``hashedtf`` part retrieves over MODEL-FREE vectors —
    the feature-hashing term-frequency embedding
    (functions/text.py hashed_tf_expr, the HashingVectorizer
    construction) computed in-row from document text (doc ids < 100,
    6 queries, k=3). Scores rounded to 6dp BEFORE ranking on both
    parts so rank boundaries are engine-deterministic; the oracle
    rebuilds the hashed vectors from the same md5 arithmetic."""
    from ..functions.text import hashed_tf_expr
    from ..operators.dedup import _spread

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity_expr("qv", "cv"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    emb = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select(F.lit("emb").alias("part"), "query_id", "neighbor_id",
                "cosine", "rank")
    )

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    vecs = (
        _spread(d)
        .select(F.col("doc_id"), hashed_tf_expr("text", 64).alias("v"))
        # zero vectors (token-free docs) have no cosine: drop on both
        # engines identically
        .where(F.aggregate("v", F.lit(0.0), lambda a, x: a + x) > 0)
    )
    hq = vecs.where(F.col("doc_id") < 6).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    hc = vecs.select(F.col("doc_id").alias("neighbor_id"), F.col("v").alias("cv"))
    hscored = (
        hc.crossJoin(F.broadcast(hq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity_expr("qv", "cv"), 6).alias("cosine"),
        )
    )
    htf = (
        hscored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select(F.lit("hashedtf").alias("part"), "query_id", "neighbor_id",
                "cosine", "rank")
    )
    # hardneg part: contrastive hard-negative mining — the anchors'
    # positives are their same-label items, expressed through the
    # positive_attr mode (the label rides the broadcast anchors as an
    # in-row inequality; the corpus-proportional positive-pair set is
    # never materialized), so the mined set is each anchor's top-5
    # most-confusable OTHER-label neighbors, excluded BEFORE the
    # top-k window
    from ..operators.similarity import hard_negatives

    anchors = e.where(F.col("vec_id") < 8)
    hn = hard_negatives(
        e, anchors, k=5, positive_attr=("label", "label")
    ).select(
        F.lit("hardneg").alias("part"),
        F.col("anchor_id").alias("query_id"),
        F.col("negative_id").alias("neighbor_id"),
        "cosine",
        "rank",
    )
    return emb.unionByName(htf).unionByName(hn)


def q_embedding_neardup(spark, sf):
    """Embedding near-dup pairs: cosine >= 0.8 over id_a < id_b within
    a bounded corpus slice (exact quadratic scoring is the oracle-
    checkable baseline; the corpus-scale path is the LSH-bucketed
    variant in operators/dedup.py — see embedding_neardup_pairs
    use_lsh=True).

    The test embeddings are near-orthogonal random unit vectors (max
    natural pairwise cosine ≈ 0.46 at sf0.01), so the raw slice yields
    ZERO pairs at any meaningful threshold — a 0-row oracle match that
    verifies nothing. The corpus therefore unions each sliced vector
    with a PLANTED near-duplicate (id + 100000, every element + 0.05:
    cosine to its source lands in ~0.92-0.95, varying per vector), giving
    the hash-match real pair math to check. The oracle SQL mirrors the
    same union."""
    e = _t(spark, sf, "embeddings").where(F.col("vec_id") < 300)
    base = e.select(
        F.col("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    planted = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x + F.lit(0.05)).alias("v"),
    )
    corpus = base.unionByName(planted)
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine_similarity_expr("va", "vb"), 6).alias("cosine"))
        .where(F.col("cosine") >= 0.8)
    )


def q_semantic_dedup_embeddings(spark, sf):
    """SemDeDup over a planted corpus (operators/similarity.py
    semantic_dedup): embeddings plus near-duplicates (+0.05 per
    element, id+100000) planted for the first 100 vectors — the raw
    corpus is near-orthogonal, so without planting no pair crosses the
    0.8 threshold and a 0-drop run would verify nothing. Every stage
    is deterministic (first-16 seed centroids, ROUND-before-rank
    assignment, lowest-id-wins drops), so the DuckDB oracle replicates
    cluster assignment AND the drop set exactly."""
    from ..operators.similarity import semantic_dedup

    e = _t(spark, sf, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = base.where(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.05)).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    return semantic_dedup(corpus, n_clusters=16, threshold=0.8)


# ---------------------------------------------------------------------------
# Rows-only queries (not SQL-expressible; driver records weaker check)
# ---------------------------------------------------------------------------

def q_minhash_dedup_docs(spark, sf):
    """Fuzzy dedup: MinHash -> LSH banding -> exact-Jaccard verify ->
    pairwise survivor rule, run with the engine-portable md5 hash
    family (``operators/dedup.py _HASH_FAMILIES``): the DuckDB oracle
    replays the ENTIRE pipeline — 64 universal-hash signatures, 16-band
    banding, bucket pair generation, exact-Jaccard verify at 0.7, and
    the drop-higher-id rule — so this is a full rows+schema+hash check
    (it was rows-only while the base hash was JVM-only xxhash64). The
    former count-visible no-exact-dup guard is superseded by the
    oracle, which pins every survivor row exactly.

    Round 14: the shingle grain is SCRIPT-ROUTED (char 5-grams for
    ``is_cjk_doc_expr`` docs — word n-grams give an unsegmented zh doc
    ~1 shingle and recall ~0), and the ``_cjk_dd_text_expr`` planted
    real-script near-dup pairs (doc_id %% 200 in {31, 131}) are killed
    ONLY because of it; the oracle replays plant, route, and both gram
    grains from the same constants."""
    d = _t(spark, sf, "documents")
    planted = d.withColumn("text", _cjk_dd_text_expr(200, 31, 131))
    out = dedup_minhash(
        planted, threshold=0.7, hash_family="md5",
        cjk=is_cjk_doc_expr("text"),
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def q_dedup_clusters_docs(spark, sf):
    """Transitive fuzzy dedup: MinHash/LSH pairs -> connected
    components -> one survivor (min id) per duplicate cluster. The
    md5 hash family makes the pair graph oracle-replayable, and the
    DuckDB oracle computes EXACT components via a recursive CTE
    (min-label over the transitive closure) — checking that the
    iterative Spark min-propagation (doubling reach per round)
    converged to the true closure, not just a bounded approximation.
    Round 14: same script-routed shingle grain + planted CJK pairs as
    ``q_minhash_dedup_docs`` (the shared ``_MINHASH_CTES`` oracle)."""
    d = _t(spark, sf, "documents")
    planted = d.withColumn("text", _cjk_dd_text_expr(200, 31, 131))
    cjk = is_cjk_doc_expr("text")
    sigs = minhash_signatures(planted, hash_family="md5", cjk=cjk)
    cand = minhash_lsh_pairs(sigs, 16, sig_len=64, hash_family="md5")
    dup = ngram_jaccard_pairs(planted, cand, threshold=0.7, cjk=cjk)
    out = dedup_clusters(planted, dup.select("id_a", "id_b"))
    return out.select("doc_id", "lang", "source")


def q_simhash_pairs_docs(spark, sf):
    """SimHash near-dup candidate pairs (Hamming <= 8), 60-bit
    engine-portable fingerprints. Because pigeonhole blocking has
    recall 1.0, the blocked output EQUALS the quadratic pair set —
    which is exactly what the DuckDB oracle computes (a 500-doc
    self-join at sf0.01), so the banded fast path is verified
    rows+schema+hash against the brute-force definition.

    Round 14: features are SCRIPT-ROUTED (raw char 5-grams for CJK
    docs — a one-token zh doc's unrouted fingerprint is the sign
    pattern of a single hash, no similarity signal), with planted
    real-script pairs at doc_id %% 500 in {31, 281} detected only
    under routing; the oracle routes identically."""
    d = _t(spark, sf, "documents")
    planted = d.withColumn("text", _cjk_dd_text_expr(500, 31, 281))
    return simhash_pairs(
        planted, max_hamming=8, hash_family="md5",
        cjk=is_cjk_doc_expr("text"),
    )


def _recall_guarded(out, floor: float):
    """Make an ANN recall collapse visible in the driver's rows-only
    signal (which records only the ROW COUNT): every row gains a
    ``recall_ok = recall_at_k >= floor`` boolean, and each query
    breaching the floor appends ONE alert row (``neighbor_id = -1``) —
    a healthy run keeps the historical count, a recall regression
    changes it. ``out`` is pinned once (tiny: k × n_queries rows) so
    the ANN pipeline doesn't re-execute for the alert branch."""
    out = out.localCheckpoint(eager=True)
    ok = F.col("recall_at_k") >= float(floor)
    base = out.withColumn("recall_ok", ok)
    alerts = (
        out.where(~ok)
        .groupBy("query_id")
        .agg(F.round(F.min("recall_at_k"), 6).alias("recall_at_k"))
        .select(
            "query_id",
            F.lit(-1).cast("long").alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).cast("int").alias("rank"),
            "recall_at_k",
            F.lit(False).alias("recall_ok"),
        )
    )
    return base.unionByName(alerts)


def q_ann_lsh_topk(spark, sf):
    """Approximate top-k via random-hyperplane LSH buckets. 4 planes ×
    12 tables: measured recall@5 vs exact cosine is 0.78-0.90 on the
    64-dim test embeddings (6×4 scored only 0.33 — collision
    probability per table falls geometrically with plane count).

    Round 8: FULLY oracle-checked (was rows-only). The hyperplanes are
    seed-deterministic driver constants, so the DuckDB oracle embeds
    them as literals and replays the whole pipeline — all 48
    sign-of-dot-product bucket bits per vector, multi-table candidate
    generation, the exact-cosine re-rank (ROUND-before-rank on the
    oracle side, the embedding_cosine_topk arrangement), and the
    per-query recall@5 against the exact top-k. The former alert-row
    guard is superseded: the oracle pins every row, including
    ``recall_at_k``/``recall_ok``, so a recall collapse is a hash
    mismatch, not just a count change.

    Round 9: tagged union. The ``ham`` mode is the COMPRESSED-DOMAIN
    variant (binary_hamming_topk — Charikar sign codes, one 64-bit
    word per corpus vector instead of 64 floats, Hamming pre-rank +
    exact re-rank of the top 16k candidates); its seeded plane
    literals, Hamming ties, and ROUND-before-rank make it fully
    oracle-restatable too, with its own recall columns (floor 0.6 —
    measured 0.775 on these worst-case near-random embeddings)."""
    from ..operators.similarity import binary_hamming_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    exact = cosine_topk(e, q, k=5)
    # dim=64 pinned on both legs: the default dim probe is a .first()
    # driver job at query construction (fine for ad-hoc use, waste here)
    approx = ann_lsh_topk(e, q, k=5, n_planes=4, n_tables=12, dim=64)
    lsh = ann_recall_vs_exact(approx, exact, k=5).select(
        F.lit("lsh").alias("mode"),
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        "rank",
        F.round("recall_at_k", 6).alias("recall_at_k"),
        (F.col("recall_at_k") >= 0.4).alias("recall_ok"),
    )
    hout = ann_recall_vs_exact(
        binary_hamming_topk(e, q, k=5, dim=64).drop("hamming"), exact, k=5
    )
    return lsh.unionByName(hout.select(
        F.lit("ham").alias("mode"),
        "query_id",
        "neighbor_id",
        F.col("cosine"),  # binary_hamming_topk already ROUNDs to 6
        "rank",
        F.round("recall_at_k", 6).alias("recall_at_k"),
        (F.col("recall_at_k") >= 0.6).alias("recall_ok"),
    ))


def q_ann_ivf_topk(spark, sf):
    """The coarse-quantizer ANN index family as ONE tagged union
    (registry-folding pattern), each branch with a count-visible
    quality guard:

    - ``ivf``: IVF inverted-list top-k with per-query
      ``recall_at_k``/``recall_ok`` vs exact cosine top-k
      (deterministic seed centroids; floor 0.6 = measured minimum)
      and alert rows (neighbor_id = -1) on breach;
    - ``ivfpq``: the FAISS-style IVF+PQ composition
      (train_pq_codebooks -> ann_ivfpq_topk, ADC scoring over probed
      lists). Top-k-vs-exact recall is NOT the right gate for PQ on
      near-random synthetic vectors (distance concentration makes the
      5th..50th neighbors near-ties, so quantization reshuffles them)
      — instead each of 8 planted near-duplicate queries (vec + 0.05,
      id + 100000) must retrieve its source at rank 1; ``recall_ok``
      carries the per-query verdict and a missed query appends an
      alert row, so quantization drift changes the recorded row
      count;
    - ``ivfstore``: the PERSISTED index (write_ivf_store, the "index
      once, query many" layout) — built into a real temp store with
      the SAME seed centroids, probed via partition-pruned list dirs;
      rows must be identical to the in-memory ``ivf`` branch, so
      ``recall_ok`` here is an exact store-vs-inmemory agreement bit
      (a layout bug changes the recorded rows, not just a metric).

    Round 8: FULLY oracle-checked (was rows-only). The coarse
    quantizer is the deterministic seed, cosine rank keys mirror
    Spark's operation order bit-for-bit (``_ivf_cos``), PQ training
    runs ``deterministic=True`` (ordered-fold means) so the DuckDB
    oracle UNROLLS the Lloyd's iteration, and the store leg's
    agreement bit is pinned to ``true`` — so a store-layout bug, a
    recall collapse, OR quantization drift is now a hash mismatch."""
    from ..operators.similarity import _unit_vec

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    # ONE bounded collect (16 rows) seeds all three quantizer uses —
    # the IVF coarse centroids of BOTH branches and the PQ codebooks
    # all want the same deterministic first-16-by-id rows, and a
    # separate collect job per use is pure scheduler overhead
    seed16 = (
        e.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("v"))
        .collect()
    )
    cents = [{"cid": r["cid"], "cent": _unit_vec(r["v"])} for r in seed16]
    approx = ann_ivf_topk(e, q, k=5, n_centroids=16, n_probe=4, centroids=cents)
    # round 16 (optimization): after the one shared seed collect the
    # three branches are independent until the final union — the PQ
    # training collects, the store write, and the in-memory leg's
    # expression building overlap on the build pool (guide §2.6);
    # union order (ivf, ivfpq, ivfstore) is preserved
    fut_pq = _bg_submit(_ann_ivfpq_leg, e, q, seed16, cents)
    fut_store = _bg_submit(_ann_ivfstore_leg, e, q, approx, cents)
    ivf = _recall_guarded(
        ann_recall_vs_exact(approx, cosine_topk(e, q, k=5), k=5), floor=0.6
    ).select(
        F.lit("ivf").alias("mode"),
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.lit(None).cast("double").alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
        "recall_at_k",
        "recall_ok",
    )
    pq, store = fut_pq.result(), fut_store.result()
    return ivf.unionByName(pq).unionByName(store)


def _ann_ivfpq_leg(e, q, seed16, cents):
    from ..operators.similarity import ann_ivfpq_topk, train_pq_codebooks

    planted = q.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.05)).alias("embedding"),
        "label",
    )
    corpus = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("float")).alias("embedding"),
        "label",
    ).unionByName(planted)
    # planted ids sort last, so seed16 doubles as the PQ seed set
    books = train_pq_codebooks(
        corpus, m=8, k=16, n_iter=1, seeds=[r["v"] for r in seed16],
        deterministic=True,
    )
    out = ann_ivfpq_topk(
        corpus, planted, books, k=5, n_centroids=16, n_probe=4, centroids=cents
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("query_id")
    src_at_1 = (
        (F.col("neighbor_id") == F.col("query_id") - 100000)
        & (F.col("rank") == 1)
    ).cast("int")
    pq = out.select(
        F.lit("ivfpq").alias("mode"),
        "query_id",
        "neighbor_id",
        F.lit(None).cast("double").alias("cosine"),
        "adc_dist",
        F.col("rank").cast("long").alias("rank"),
        F.lit(None).cast("double").alias("recall_at_k"),
        (F.max(src_at_1).over(w) == 1).alias("recall_ok"),
    )
    pq_alerts = (
        pq.where(~F.col("recall_ok"))
        .dropDuplicates(["query_id"])
        .select(
            F.lit("ivfpq").alias("mode"),
            "query_id",
            F.lit(-1).cast("long").alias("neighbor_id"),
            F.lit(None).cast("double").alias("cosine"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("long").alias("rank"),
            F.lit(None).cast("double").alias("recall_at_k"),
            F.lit(False).alias("recall_ok"),
        )
    )
    return pq.unionByName(pq_alerts)


def _ann_ivfstore_leg(e, q, approx, cents):
    import atexit
    import shutil
    import tempfile

    from ..operators.similarity import ann_ivf_store_topk, write_ivf_store

    store_root = tempfile.mkdtemp(prefix="gs_ivfstore_")
    atexit.register(shutil.rmtree, store_root, ignore_errors=True)
    write_ivf_store(e, store_root, centroids=cents)
    stored = ann_ivf_store_topk(q, store_root, k=5, n_probe=4)
    inmem = approx.select(
        "query_id",
        F.col("neighbor_id").alias("__n2"),
        F.col("rank").cast("long").alias("__r2"),
    )
    return stored.join(
        inmem,
        on=[
            stored["query_id"] == inmem["query_id"],
            stored["rank"] == inmem["__r2"],
        ],
        how="left",
    ).select(
        F.lit("ivfstore").alias("mode"),
        stored["query_id"],
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.lit(None).cast("double").alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
        F.lit(None).cast("double").alias("recall_at_k"),
        (F.col("__n2") == F.col("neighbor_id")).alias("recall_ok"),
    )


def _mm_synth_payload(i: int) -> bytes:
    """Deterministic media payload for doc_id ``i``: BMP (i%4==0) /
    WAV (i%4==1) / PNG (i%4==2) / JPEG (i%4==3 — round 10, the
    dominant web format; 4:2:0 with restart markers every other doc so
    the decoder's real-crawl paths are exercised, not just the 4:4:4
    happy path; round 11: every third JPEG slot is PROGRESSIVE SOF2
    and every fourth carries an EXIF orientation tag), with every 20th
    doc (i%20==10, inside the PNG quarter) a GIF (round 10 — LZW
    palette decode rides the driver query) and every 20th (i%20==13,
    inside the WAV quarter) an MJPEG AVI (round 11 — VIDEO: container
    demux + JPEG frame decode ride the driver query, width AND
    duration both real). Round 12 adds the two dominant real-crawl
    formats as METADATA-probe slots: every 20th doc (i%20==6, PNG
    quarter) a fixture MP4 whose moov walk yields REAL
    width/height/duration, and every 20th (i%20==9, WAV quarter) a
    fixture MP3 whose frame-header scan yields REAL duration — their
    feature vectors stay the labeled fake ('mp4-meta'/'mp3-meta'
    provenance), which the oracle checks too. Pure function of ``i`` —
    shared by the Spark-side mapInPandas synth AND the driver-side
    oracle expected-row builder, so the two can never drift."""
    import io
    import math
    import struct as _struct
    import wave

    from ..operators.media_codecs import (
        bmp_encode,
        gif_encode,
        jpeg_encode,
        mp3_encode_meta,
        mp4_encode_meta,
        png_encode,
    )

    if i % 20 == 6:
        # MP4 slot (round 12 — rides the PNG quarter): metadata-true
        # fixture; width/height/duration vary with i so the probe math
        # is pinned across shapes, not one constant (modulus 3 is
        # coprime to the slot lattice's 20 — i%5 would be constant)
        return mp4_encode_meta(
            160 + (i % 3) * 16, 90 + (i % 3) * 9, 1000 + i * 33
        )
    if i % 20 == 9:
        # MP3 slot (round 12 — rides the WAV quarter): valid MPEG1
        # Layer III silence frames; duration varies with i
        return mp3_encode_meta(500 + (i % 7) * 130)
    if i % 20 == 10:
        # GIF slot (round 10 — rides the png quarter's i%4==2 position
        # every 20th doc): 6-color 8x8 pattern, lossless palette encode
        px = [
            (
                (i * 11 + (k % 8) * 37) % 256 // 43 * 43,
                (i * 7 + (k // 8) * 29) % 256 // 43 * 43,
                (i + k) % 256 // 43 * 43,
            )
            for k in range(64)
        ]
        return gif_encode(8, 8, px)
    if i % 4 == 0:
        color = (i * 37 % 256, i * 59 % 256, i * 83 % 256)
        return bmp_encode(4, 4, [color] * 16)
    if i % 4 == 2:
        px = [
            ((i + k) * 31 % 256, (i + k) * 53 % 256, (i + k) * 71 % 256)
            for k in range(16)
        ]
        return png_encode(4, 4, px)
    if i % 20 == 13:
        # AVI slot (round 11 — MJPEG VIDEO rides the driver oracle,
        # inside the WAV quarter's i%4==1 position every 20th doc):
        # 2-frame 8x8 video, frames a pure function of i
        from ..operators.media_codecs import avi_encode

        def _fr(k):
            return [
                ((i * 31 + k * 11 + x * 29) % 256, (i * 7 + y * 43) % 256,
                 (x * y + i + k) % 256)
                for y in range(8)
                for x in range(8)
            ]

        return avi_encode(8, 8, [_fr(0), _fr(1)], fps=4)
    if i % 4 == 3:
        px = [
            ((i * 3 + x * 29) % 256, (i * 5 + y * 43) % 256, (i + x * y * 7) % 256)
            for y in range(8)
            for x in range(8)
        ]
        # round 11: every third JPEG slot is PROGRESSIVE (SOF2 — the
        # real-crawl double-digit share) and every fourth carries an
        # EXIF orientation tag, so the progressive scan kinds and the
        # orientation normalization ride the driver oracle
        return jpeg_encode(
            8, 8, px,
            subsampling="420" if i % 8 == 3 else "444",
            restart_interval=1 if i % 8 == 7 else 0,
            progressive=i % 12 == 11,
            exif_orientation=6 if i % 16 == 15 else None,
        )
    rate, n = 8000, 200 + (i % 10) * 40
    freq = 200.0 + (i % 40) * 10.0
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            _struct.pack(
                f"<{n}h",
                *[
                    int(0.4 * 32767 * math.sin(2 * math.pi * freq * t / rate))
                    for t in range(n)
                ],
            )
        )
    return buf.getvalue()


def _phash_synth_payload(i: int) -> bytes:
    """Deterministic 16x16 grayscale image for the perceptual-hash
    leg — PLANTED near-dup structure: group ``g = i % 30``, copy
    ``c = i // 30`` (4 copies per group among doc_ids < 120). The base
    pattern is a per-group md5-seeded 4-level luma grid (values
    20/95/170/245, 2x2 blocks) with HORIZONTALLY-ADJACENT cells forced
    DISTINCT (>= 75 apart) — dHash compares only horizontal neighbors,
    so every comparison sits far from a tie and survives lossy decode
    noise (round 10: the old 20/220 binary grid was ~half ties, which
    JPEG's ±3 decode noise coin-flipped):

    - c=1 is the c=0 image RE-ENCODED AS A BASELINE JPEG (round 10 —
      the real crawl near-dup: same image, different codec): measured
      hamming(c0, c1) spans 1..6 across groups — every cross-codec
      twin pairs, none exactly (honest lossy-decode variation);
    - c=2 value-flips (v -> 265-v) two isolated cells: measured 0..4;
    - c=3 value-flips the whole first two cell rows: measured 14 —
      always beyond max_hamming=6 (the negative case).

    The expected pairs are whatever these hashes actually produce — the
    correctness statement is banded == brute-force per-value on BOTH
    engines (79 pairs at sf >= 0.01, zero cross-group — re-measured
    with the JPEG twin), not a hand-made pair list.

    Pure function of ``i`` — shared by the Spark synth and the oracle
    expected-hash builder (the ``_mm_synth_payload`` pattern)."""
    import hashlib

    from ..operators.media_codecs import bmp_encode, gif_encode, jpeg_encode

    g, c = i % 30, i // 30
    vals = []
    for y in range(8):
        prev = None
        row = []
        for x in range(8):
            ch = int(hashlib.md5(f"{g}:{y}:{x}".encode()).hexdigest(), 16) % 4
            if ch == prev:
                ch = (ch + 1) % 4  # force horizontal distinctness
            prev = ch
            row.append(20 + 75 * ch)
        vals.append(row)
    if c == 2:
        for k in (9, 36):
            vals[k // 8][k % 8] = 265 - vals[k // 8][k % 8]
    if c == 3:
        for k in range(16):
            vals[k // 8][k % 8] = 265 - vals[k // 8][k % 8]
    px = [
        (vals[y // 2][x // 2],) * 3 for y in range(16) for x in range(16)
    ]
    if c == 1:
        # round 11: odd groups' cross-codec twin ships PROGRESSIVE —
        # decode(progressive) == decode(baseline) bit-exactly (pinned),
        # so the measured hamming spans are unchanged while the SOF2
        # scan paths ride the driver oracle
        return jpeg_encode(16, 16, px, progressive=g % 2 == 1)
    if c == 2:
        # round 10: the two-cell-flip copy ships as a GIF — LOSSLESS,
        # so its hashes (and the measured 0..4 hamming) are unchanged
        # while the LZW decoder rides the driver query
        return gif_encode(16, 16, px)
    return bmp_encode(16, 16, px)


def _vdup_synth_payload(i: int) -> bytes:
    """Deterministic 4-frame 8x8 MJPEG-AVI for the video near-dup leg
    — PLANTED structure over group ``g = i % 10``, copy ``c = i //
    10`` (3 copies per group among doc_ids < 30): c=1 is the c=0
    video RE-MUXED at a different fps (identical frames — vhash
    hamming measured 0 for every group: the container-retag re-upload
    vhash exists to catch); c=2 swaps ONE of the four frames for an
    unrelated one (measured 4..15 across groups — the strict-majority
    vote moves only where a 3-1 bit loses its margin); cross-group
    distances measured 11..24. max_hamming=8 pairs every re-mux twin,
    most frame-swap variants, and ZERO cross-group pairs; the
    correctness statement is banded == brute-force per-value on BOTH
    engines (the phash leg's contract), not a hand-made pair list.
    Frames are md5-seeded 4-level luma grids with horizontally-
    adjacent cells forced distinct (the _phash_synth_payload tie-free
    pattern), pure function of ``i`` — shared by the Spark synth and
    the oracle expected-hash builder."""
    from ..operators.media_codecs import avi_encode

    g, c = i % 10, i // 10
    frames = [_vdup_frame(g, k) for k in range(4)]
    if c == 1:
        return avi_encode(8, 8, frames, fps=25)
    if c == 2:
        frames[2] = _vdup_frame(g + 100, 0)
    return avi_encode(8, 8, frames, fps=8)


def _vdup_frame(gg: int, k: int):
    """The vdup fixtures' shared frame builder: an md5-seeded 4-level
    luma grid with horizontally-adjacent cells forced distinct (the
    _phash_synth_payload tie-free pattern)."""
    import hashlib

    vals = []
    for y in range(8):
        row = []
        prev = None
        for x in range(8):
            ch = (
                int(
                    hashlib.md5(f"v{gg}:{k}:{y}:{x}".encode()).hexdigest(),
                    16,
                )
                % 4
            )
            if ch == prev:
                ch = (ch + 1) % 4
            prev = ch
            row.append(20 + 75 * ch)
        vals.append(row)
    return [(vals[y][x],) * 3 for y in range(8) for x in range(8)]


def _vtrim_synth_payload(i: int) -> bytes:
    """Deterministic MJPEG-AVI for the TRIM-robust video near-dup leg
    (round 12 — makes ``vhash_of_payload(sample="even")`` driver-
    visible): group ``g = i % 10``, copy ``c = i // 10`` (2 copies per
    group among doc_ids < 20). c=0 is an 8-frame video opening on
    THREE identical title-card frames before five identical content
    frames; c=1 is the HEAD-TRIMMED re-upload (title cards cut — the
    classic clip re-post). The even-ordinal sampler picks frames
    spread over the stream, so its 5 picks majority-vote to the
    CONTENT hash on both copies — hamming 0 per group (measured) —
    while the first-k sampler sees [T,T,T,X,X] on the base and hashes
    the TITLE CARD: first-mode distances measured 17..38 across
    groups, always past max_hamming=8 (pinned in pytest), so every
    pair this leg emits exists ONLY because of the even-ordinal mode.
    Cross-group even-mode distances measured >= 21. Pure function of
    ``i`` — shared by the Spark synth and the oracle expected-hash
    builder."""
    from ..operators.media_codecs import avi_encode

    g, c = i % 10, i // 10
    title = _vdup_frame(g + 200, 0)
    content = _vdup_frame(g, 0)
    frames = [content] * 5 if c else [title] * 3 + [content] * 5
    return avi_encode(8, 8, frames, fps=8)


def q_multimodal_features(spark, sf):
    """Multimodal pipeline over REAL codecs, as ONE tagged union
    (registry-folding pattern).

    ``feat``: deterministic BMP (doc_id % 4 == 0) / WAV (% 4 == 1) /
    PNG (% 4 == 2) / JPEG (% 4 == 3, round 10 — incl. 4:2:0 and
    restart-marker variants; round 11 — progressive SOF2 and
    EXIF-orientation slots) payloads — plus a GIF slot and (round 11)
    an MJPEG-AVI VIDEO slot — are synthesized per row
    inside an Arrow batch, then probed (real width/height/duration
    from the bytes), feature-extracted (real pixel/sample statistics
    via the stdlib BMP/WAV/zlib-PNG/from-scratch-JPEG decoders in
    operators/media_codecs.py), and perceptually hashed — the WHOLE
    family (dHash + aHash + wavhash, round 10; round 11 adds the
    rotation-canonical rothash — min over the four right-angle
    rotations, the untagged-rotation complement to EXIF
    normalization — plus the temporal video vhash (frame-majority
    dHash over the AVI/GIF sampled frames) and the Haitsma-Kalker
    gain-invariant audio spechash) in the one decode pass; image rows
    fill dhash/ahash/rothash (wavhash/vhash/spechash NULL per
    modality), WAVs fill wavhash+spechash, videos fill vhash.

    ``vdup``: VIDEO near-dup pairs over 30 planted 4-frame MJPEG-AVIs
    (10 groups x {base, fps-retagged re-mux, one-frame-swap}) — vhash
    then the same pigeonhole-banded Hamming join at max_hamming=8
    (re-mux pairs at 0, frame swaps at 4..15, cross-group >= 11), so
    container retags and near-identical clips collapse while distinct
    content stays apart; fully oracled via driver-computed vhash
    literals + DuckDB brute force (the phash contract).

    ``phash``: image near-dup pairs (operators/imagehash.py) over 120
    planted 16x16 images (60 BMPs + 30 JPEG + 30 GIF cross-codec
    twins, round 10; round 11 — odd groups' JPEG twin is progressive,
    decode-identical to baseline) — dHash then pigeonhole-banded
    Hamming join at
    max_hamming=6 (recall-1.0 blocking, so the banded output EQUALS
    the quadratic definition the oracle brute-forces).

    Fully oracled: every payload is a pure function of doc_id, so
    expected rows/hashes are computed driver-side with the SAME codec
    functions at oracle-build time and embedded as VALUES tables (the
    literal-embedding trick that oracled the LSH hyperplanes);
    deterministic ``doc_id <`` slices replace ``limit`` so both
    engines see identical row sets."""
    from ..operators.imagehash import (
        ahash_of_payload,
        dhash_of_payload,
        hamming_neardup_pairs,
        image_dhash,
        media_hashes,
        rot_min_dhash_of_payload,
        spechash_of_payload,
        vhash_of_payload,
        wavhash_of_payload,
    )
    from ..operators.multimodal import probe_media_metadata

    _pair_futs = []
    _null = lambda t: F.lit(None).cast(t)  # noqa: E731
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 200).select("doc_id")

    def _synth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [
                _mm_synth_payload(int(did)) for did in pdf["doc_id"]
            ]
            yield pdf

    media = d.mapInPandas(_synth, schema="doc_id long, content binary")
    media = attach_media_metadata(media, media_type="unknown", fmt="bin")
    media = probe_media_metadata(media)
    # features + provenance + both perceptual hashes in ONE Arrow
    # pass — payloads decode once, not once per hash family
    out = extract_media_features(
        media,
        n_features=8,
        # the WHOLE perceptual family in the one decode pass —
        # round 10 adds ahash so every hash column is driver-
        # oracled, not just dhash/wavhash
        hash_columns={
            "dhash": dhash_of_payload,
            "ahash": ahash_of_payload,
            "wavhash": wavhash_of_payload,
            # round 11: rotation-canonical dHash (min over the four
            # right-angle rotations) — catches UNTAGGED rotated
            # re-uploads the EXIF normalization can't see
            "rothash": rot_min_dhash_of_payload,
            # round 11: the video + spectral-audio members — frame-
            # majority dHash over the AVI/GIF sampled frames, and
            # the Haitsma-Kalker gain-invariant audio fingerprint;
            # video rows fill vhash (dhash NULL), WAVs fill
            # wavhash+spechash
            "vhash": vhash_of_payload,
            "spechash": spechash_of_payload,
        },
    )
    legs = [out.select(
        F.lit("feat").alias("part"),
        "doc_id",
        F.col("media_meta.format").alias("fmt"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
        F.col("media_meta.size_bytes").alias("size_bytes"),
        # decode provenance: "bmp"/"wav"/"png" = real stdlib decode,
        # "fake" = byte-stat fallback (indistinguishable numerically)
        "decoder",
        # exact float32 -> float64 widening (no rounding): the oracle
        # embeds the identical doubles via repr(), which round-trips
        F.element_at("features", 1).cast("double").alias("f0"),
        F.element_at("features", 2).cast("double").alias("f1"),
        "dhash",
        "ahash",
        "wavhash",
        "rothash",
        "vhash",
        "spechash",
        _null("long").alias("pair_id"),
        _null("long").alias("hamming"),
    )]
    p = _t(spark, sf, "documents").where(F.col("doc_id") < 120).select("doc_id")

    def _psynth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [
                _phash_synth_payload(int(did)) for did in pdf["doc_id"]
            ]
            yield pdf

    imgs = p.mapInPandas(_psynth, schema="doc_id long, content binary")
    # round 16 (optimization): the three pair legs (phash/vdup/
    # vtrim) each fire an eager checkpoint job inside
    # hamming_neardup_pairs and are mutually independent — submit
    # them to the build pool so their Arrow-synth + banded-join
    # jobs overlap instead of serializing (guide §2.6); futures
    # resolve below in the original union order
    _pair_futs.append(("phash", _bg_submit(
        lambda imgs=imgs: hamming_neardup_pairs(
            image_dhash(imgs), "doc_id", "dhash", max_hamming=6
        )
    )))
    v = _t(spark, sf, "documents").where(F.col("doc_id") < 30).select("doc_id")

    def _vsynth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [
                _vdup_synth_payload(int(did)) for did in pdf["doc_id"]
            ]
            yield pdf

    vids = v.mapInPandas(_vsynth, schema="doc_id long, content binary")
    vh = media_hashes(vids, columns={"vhash": vhash_of_payload}).select(
        "doc_id", F.col("vhash")
    )
    _pair_futs.append(("vdup", _bg_submit(
        lambda vh=vh: hamming_neardup_pairs(
            vh, "doc_id", "vhash", max_hamming=8
        )
    )))
    # round 12: the TRIM-robust twin of vdup — same banded join,
    # but hashes from the even-ordinal sampler, over fixtures whose
    # pairs exist ONLY under that mode (head-trimmed re-uploads;
    # see _vtrim_synth_payload)
    vt = _t(spark, sf, "documents").where(F.col("doc_id") < 20).select("doc_id")

    def _vtsynth(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = [
                _vtrim_synth_payload(int(did)) for did in pdf["doc_id"]
            ]
            yield pdf

    tvids = vt.mapInPandas(_vtsynth, schema="doc_id long, content binary")
    tvh = media_hashes(
        tvids,
        columns={"vhash": lambda p: vhash_of_payload(p, sample="even")},
    ).select("doc_id", F.col("vhash"))
    _pair_futs.append(("vtrim", _bg_submit(
        lambda tvh=tvh: hamming_neardup_pairs(
            tvh, "doc_id", "vhash", max_hamming=8
        )
    )))
    for _tag, _fut in _pair_futs:
        pairs = _fut.result()
        legs.append(pairs.select(
            F.lit(_tag).alias("part"),
            F.col("id_a").alias("doc_id"),
            _null("string").alias("fmt"),
            _null("int").alias("width"),
            _null("long").alias("duration_ms"),
            _null("long").alias("size_bytes"),
            _null("string").alias("decoder"),
            _null("double").alias("f0"),
            _null("double").alias("f1"),
            _null("long").alias("dhash"),
            _null("long").alias("ahash"),
            _null("long").alias("wavhash"),
            _null("long").alias("rothash"),
            _null("long").alias("vhash"),
            _null("long").alias("spechash"),
            F.col("id_b").alias("pair_id"),
            "hamming",
        ))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def q_bm25_search_docs(spark, sf):
    """Hybrid retrieval as ONE tagged union (registry-folding
    pattern). The ``bm25`` part: the first 5 documents' 8-token
    prefixes play the query set; top-10 documents per query by Okapi
    BM25 with Lucene-style nonnegative idf; scores rounded to 6 dp
    BEFORE ranking, ties by doc_id — fully SQL-expressible, so the
    DuckDB oracle replicates postings, idf, length normalization, and
    the final ranks bit-for-bit. (Sanity anchor baked into the data:
    each query is a prefix of its source document, so the source
    ranks first.) The ``rrf`` part fuses that lexical ranking with a
    VECTOR ranking of the same queries — hashed-TF cosine top-10 over
    the whole corpus (model-free HashingVectorizer embeddings,
    functions/text.py) — via reciprocal-rank fusion
    (operators/search.py rrf_fuse, Cormack et al. 2009): the
    hybrid-search composition every lexical+vector stack ships. The
    ``bm25idx`` part probes a REAL persisted postings index
    (write_bm25_index — term-bucketed postings + docfreq dirs, frozen
    additive corpus stats, partition-pruned probe) built per run into
    a temp store; its rows must be IDENTICAL to the in-memory bm25
    part, so the oracle simply re-states the bm25 ranking under the
    'bm25idx' tag — an index-layout bug breaks the hash, not a side
    metric. The oracle rebuilds both rankings AND the fused scores."""
    import atexit
    import shutil
    import tempfile

    from ..operators.search import bm25_index_topk, write_bm25_index

    # round 14: planted zh docs (doc_id % 250 == 61, base + century
    # suffix) + a zh query (query_id 100, a 12-char substring of the
    # base) exercise the char-bigram routed grain end to end: the
    # lexical legs run cjk_route=True, so the zh query matches the
    # planted docs at the morpheme grain — unrouted they are one term
    # each and the query scores nothing. EN docs/queries word-route
    # bit-identically; the rrf leg's hashed-TF vectors route their
    # grain by script too (char bigrams for CJK rows) on both engines.
    d = _t(spark, sf, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 250 == 61,
            F.concat(
                F.lit(_BM_ZH_BASE),
                F.expr("doc_id div 250").cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    q = d.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokens_expr(F.col("text")), 1, 8)).alias(
            "query_text"
        ),
    ).unionByName(
        spark.createDataFrame(
            [(100, _BM_ZH_BASE[4:16])], "query_id long, query_text string"
        )
    )
    # round 16 (optimization): the persisted-index leg — store write +
    # probe, all eager jobs — shares nothing with the rrf leg's cosine
    # ranking until the fuse; build it on a pool thread so its parquet
    # writes overlap the main thread's construction (guide §2.6).
    # Round 17: the bm25 / rrf legs read the PROBE ranking instead of
    # running bm25_topk — the store contract (enforced by the oracle
    # every round: the bm25idx rows are pinned IDENTICAL to the
    # in-memory bm25 rows) makes the probe a value-exact substitute,
    # and the probe's partition-pruned bucket scan replaces the
    # corpus-sized tokenize+rank job bm25_topk would pay (guide §2.4
    # remove duplicated work).
    idx_root = tempfile.mkdtemp(prefix="gs_bm25idx_")
    atexit.register(shutil.rmtree, idx_root, ignore_errors=True)

    def _build_idx_leg():
        write_bm25_index(d, idx_root, num_buckets=16, cjk_route=True)
        # ~k x |queries| rows, 3 consumers (bm25 leg, rrf fuse,
        # bm25idx leg): one tiny pin
        return bm25_index_topk(q, idx_root, k=10).localCheckpoint(eager=True)

    fut_idx = _bg_submit(_build_idx_leg)
    cos = _bm25_cos_ranking(d, q)
    bm = fut_idx.result()
    bm25 = bm.select(
        F.lit("bm25").alias("part"), "query_id", "doc_id", "score", "rank",
        F.lit(None).cast("long").alias("n_lists"),
    )
    rrf = _bm25_rrf_fused(bm, cos)
    idx = bm.select(
        F.lit("bm25idx").alias("part"), "query_id", "doc_id",
        "score", "rank",
        F.lit(None).cast("long").alias("n_lists"),
    )
    return bm25.unionByName(rrf).unionByName(idx)


def _bm25_cos_ranking(d, q):
    from ..functions.text import hashed_tf_expr
    from ..operators.dedup import _spread

    # round 14: the vector leg routes its hashed-TF grain by script
    # too (char tokens for CJK rows — an unsegmented doc's word-grain
    # vector is a single hot bucket, useless for cosine), so the zh
    # query's fused ranking carries a real vector signal beside the
    # bigram lexical leg; EN vectors are bit-identical to word grain
    vecs = (
        _spread(d)
        .select(
            F.col("doc_id"),
            hashed_tf_expr(
                "text", 64, cjk=is_cjk_doc_expr("text")
            ).alias("v"),
        )
        .where(F.aggregate("v", F.lit(0.0), lambda a, x: a + x) > 0)
    )
    qv = q.select(
        "query_id",
        hashed_tf_expr(
            "query_text", 64, cjk=is_cjk_doc_expr("query_text")
        ).alias("qv"),
    ).where(F.aggregate("qv", F.lit(0.0), lambda a, x: a + x) > 0)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    cos = (
        vecs.crossJoin(F.broadcast(qv))
        .select(
            "query_id",
            "doc_id",
            F.round(cosine_similarity_expr("qv", "v"), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
    )
    return cos


def _bm25_rrf_fused(bm, cos):
    from ..operators.search import rrf_fuse

    rrf = rrf_fuse({"bm25": bm, "cos": cos}, k=60, top_n=10)
    return rrf.select(
        F.lit("rrf").alias("part"), "query_id", "doc_id",
        F.col("rrf_score").alias("score"), "rank", "n_lists",
    )


def q_hash_split_documents(spark, sf):
    """Both deterministic-sampling primitives in one map-only pass
    over each document (functions/sampling.py): the train/val/test
    split by md5 key bucket, AND the DoReMi-style domain-weighted
    mixture draw (per-lang keep rates, salted so the mixture decision
    is independent of the split assignment), AND the exact-N-per-
    stratum eval-set membership (stratified_hash_sample_expr — the
    same 16 docs per language forever, one lang-keyed window).
    Reproducible across engines, runs, and partitionings — the DuckDB
    oracle replicates the bucket arithmetic digit for digit.

    Round 8 adds the EPOCH-SHUFFLE primitives (the training loop's
    reproducible global permutation): ``shard`` is the deterministic
    epoch_shard_expr assignment (seed=1, 8 shards — first four hex
    digits of md5('1:'||key) mod 8) and ``pos_in_shard`` the row's
    position in within-shard epoch order (one shard-keyed window —
    the same order write_training_shards materializes on disk).
    DuckDB restates the full nibble arithmetic and the window.

    Round 8 also adds the DSIR leg (operators/dsir.py — Xie et al.
    2023 importance resampling): per-doc hashed unigram+bigram
    log-weights toward the lang='en' target distribution plus the
    seeded Gumbel top-100 selection flag. Histograms (two bounded
    256-row aggregates) and the k-th key (TakeOrdered) are computed
    eagerly at build; the emitted columns are map-only. The oracle
    recomputes the ENTIRE chain — histograms, smoothing, ln-ratio
    fold, Gumbel noise, threshold — in SQL. The log-weight expression
    is let-bound via a 1-element array so the gram fold runs once per
    row, not once per output column."""
    from ..functions.sampling import (
        epoch_shard_expr,
        epoch_shuffle_expr,
        stratified_hash_sample_expr,
    )
    from ..operators.dedup import _spread
    from ..operators.dsir import (
        dsir_logweight_expr,
        gram_bucket_histograms,
        gumbel_key_expr,
    )

    # round 16 (optimization): the gram folds (DSIR histogram map side,
    # per-row logweight, Gumbel keys) are map-only over the single-split
    # sf corpus = ONE task (the text_stats finding). Interleaved A/B at
    # sf0.1: 4.37 -> 3.50 s median. All outputs are exact bucket
    # arithmetic / keyed windows — partition-invariant by construction.
    d = _spread(_t(spark, sf, "documents"))
    # round 16 (optimization): the dsir model chain is TWO sequential
    # eager jobs (histogram collect, then the k-th-key TakeOrdered over
    # the scored corpus) that read only ``d`` — independent of the
    # split leg's construction and its select_token_budget bucket-sums
    # job until the final select, so the whole chain builds on the
    # pool and overlaps them (guide §2.6)
    def _build_dsir():
        raw_h, tgt_h = gram_bucket_histograms(d, F.col("lang") == "en")
        logw = dsir_logweight_expr(F.col("text"), raw_h, tgt_h)
        key = gumbel_key_expr(F.col("doc_id"), logw)
        kth_row = (
            d.select(key.alias("__k"))
            .orderBy(F.desc("__k"))
            .limit(100)
            .agg(F.min("__k"))
            .first()
        )
        kth = (
            F.lit(float(kth_row[0]))
            if kth_row and kth_row[0] is not None
            else None
        )
        bound = F.transform(
            F.array(logw),
            lambda L: F.struct(
                F.round(L, 6).alias("lw"),
                gumbel_key_expr(F.col("doc_id"), L).alias("ky"),
            ),
        )[0]
        return [
            bound["lw"].alias("dsir_logw"),
            F.round(bound["ky"], 6).alias("dsir_key"),
            (bound["ky"] >= kth if kth is not None else F.lit(True)).alias(
                "dsir_keep"
            ),
        ]

    _fut_dsir = _bg_submit(_build_dsir)
    out = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    out = weighted_domain_sample(
        out,
        "doc_id",
        "lang",
        {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.125},
    )
    # round 9: token-budget corpus selection (select_token_budget —
    # keep the best-quality docs whose running token total fits a
    # 10k-token budget, score = heuristic quality, deterministic
    # fixed-width score buckets + driver prefix over <=1024 bucket
    # sums, never a single-partition global window); DuckDB restates
    # it as the plain one-window cumulative-sum definition
    from ..functions.sampling import select_token_budget
    from ..functions.text import quality_score_expr, word_count_expr

    out = out.withColumn("__q", quality_score_expr("text")).withColumn(
        "__toks", word_count_expr("text").cast("long")
    )
    out = select_token_budget(
        out, budget=10000, score_col="__q", token_col="__toks",
        cum_col="budget_cum_tokens", keep_col="budget_keep",
    )
    # third primitive: exact-N-per-stratum eval-set membership (16 docs
    # per language, the same 16 forever) — one lang-keyed window
    srank, skeep = stratified_hash_sample_expr("doc_id", "lang", 16)
    dsir_cols = _fut_dsir.result()
    return out.select(
        "doc_id",
        md5_bucket_expr("doc_id").alias("bucket"),
        "split",
        "wds_bucket",
        "wds_rate",
        "wds_keep",
        "budget_cum_tokens",
        "budget_keep",
        srank.alias("strat_rank"),
        skeep.alias("in_eval_16"),
        epoch_shard_expr("doc_id", 1, 8).alias("shard"),
        F.row_number()
        .over(
            Window.partitionBy(epoch_shard_expr("doc_id", 1, 8)).orderBy(
                epoch_shuffle_expr("doc_id", 1)
            )
        )
        .cast("long")
        .alias("pos_in_shard"),
        *dsir_cols,
    )


def q_multimodal_frame_pipeline(spark, sf):
    """Multimodal resize + frame-sample plumbing: binary payloads are
    resized (stub codec), then sampled into per-frame rows — all inside
    Arrow batches via mapInPandas.

    Fully oracled: the byte-sampling resize and chunk frame-sampler
    make every output length a pure integer function of the UTF-8 byte
    length of ``text`` (resized_len = min(64, ceil(n/step)) with
    step = max(1, n // 64); frame i length = min(size, n' - i*size)
    with size = max(1, n' // 3)), so DuckDB restates the arithmetic
    directly — no literal table needed. ``doc_id < 100`` replaces
    ``limit`` so both engines see the identical row set."""
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    media = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content"))
    media = attach_media_metadata(media, media_type="video", fmt="raw")
    resized = resize_media(media, width=16, height=4)
    frames = sample_frames(resized, n_frames=3, provenance_col="sampler")
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_bytes"),
        "sampler",
    )


# ---------------------------------------------------------------------------
# Registry + oracle SQL
# ---------------------------------------------------------------------------

# 50 entries — the driver records at most 50 correctness rows, so the
# registry must stay at or under that cap with every unique operator
# present. Overlapping relational variants are folded into tagged-union
# queries (semi+anti, rollup+cube, except+intersect, math_date+string
# scalars) or merged into a same-key aggregate (conditional pivot
# counts ride in stats_agg_orders); the rows-only extension ops sit
# BEFORE the relational tail so a tighter future cap drops redundancy,
# never a unique operator.
QUERIES: dict[str, QueryFn] = {
    # reference-parity operators (SURVEY §2.1)
    "scan_project_literal": q_scan_project_literal,
    "catalog_typed_cast": q_catalog_typed_cast,
    "parse_dates_fallback": q_parse_dates_fallback,
    "snapshot_upsert": q_snapshot_upsert,
    "dedup_keep_last": q_dedup_keep_last,
    "json_extract_agg": q_json_extract_agg,
    # relational coverage (SURVEY §2.2)
    "q1_pricing_summary": q_q1_pricing_summary,
    "q3_top_shipping": q_q3_top_shipping,
    "q5_regional_revenue": q_q5_regional_revenue,
    "q6_revenue_delta": q_q6_revenue_delta,
    "q7_nation_volume": q_q7_nation_volume,
    "q10_returned_items": q_q10_returned_items,
    "q14_promo_revenue": q_q14_promo_revenue,
    "join_broadcast_brand": q_join_broadcast_brand,
    "semi_anti_join_customers": q_semi_anti_join_customers,
    "range_join_followup_orders": q_range_join_followup_orders,
    "asof_join_orders": q_asof_join_orders,
    "window_funcs_orders": q_window_funcs_orders,
    "sessionize_events": q_sessionize_events,
    "rollup_cube_status": q_rollup_cube_status,
    "setops_customers": q_setops_customers,
    "stats_agg_orders": q_stats_agg_orders,
    "rollup_events_hourly": q_rollup_events_hourly,
    # extension ops: text / dedup / similarity / sampling
    "text_stats": q_text_stats,
    "lang_scores": q_lang_scores,
    "corpus_profile_docs": q_corpus_profile_docs,
    "line_dedup_docs": q_line_dedup_docs,
    "curation_pipeline_docs": q_curation_pipeline_docs,
    "top_terms": q_top_terms,
    "dedup_exact_docs": q_dedup_exact_docs,
    "dedup_incremental_docs": q_dedup_incremental_docs,
    "ngram_jaccard_adjacent": q_ngram_jaccard_adjacent,
    "embedding_cosine_topk": q_embedding_cosine_topk,
    "embedding_neardup": q_embedding_neardup,
    "hash_split_documents": q_hash_split_documents,
    "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
    "bm25_search_docs": q_bm25_search_docs,
    "chunk_tokens_docs": q_chunk_tokens_docs,
    "approx_distinct_users": q_approx_distinct_users,
    # iterative / approximate / UDF ops (all fully oracled since r8-r9:
    # literal-embedded constants, md5 hash family, deterministic folds,
    # and driver-computed expected-row tables for the codec pipelines)
    "ivf_train_centroids": q_ivf_train_centroids,
    "minhash_dedup_docs": q_minhash_dedup_docs,
    "dedup_clusters_docs": q_dedup_clusters_docs,
    "simhash_pairs_docs": q_simhash_pairs_docs,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "multimodal_features": q_multimodal_features,
    "multimodal_frame_pipeline": q_multimodal_frame_pipeline,
    # relational tail (already proven green r1)
    "scalar_funcs": q_scalar_funcs,
    "parse_objs_keep_original": q_parse_objs_keep_original,
    "ngram_contamination_docs": q_ngram_contamination_docs,
}

assert len(QUERIES) <= 50, "driver records at most 50 correctness rows"


_SW = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"
_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"

# Gopher-rule SQL fragments (mirror functions/text.py
# gopher_quality_flags default thresholds exactly).
_LINES = "string_split(text, chr(10))"
_TRIGRAMS = (
    f"[array_to_string(({_TOKS})[i:i+2], ' ') "
    f"for i in range(1, greatest(len({_TOKS}) - 2, 1) + 1)]"
)
# Gopher repetition sees an EMPTY gram list for sub-3-token docs —
# mirrors the CASE WHEN size(toks) >= 3 guard in text.py/q_text_stats.
_TRIGRAMS_GOPHER = (
    f"CASE WHEN len({_TOKS}) >= 3 THEN {_TRIGRAMS} "
    "ELSE CAST([] AS VARCHAR[]) END"
)
_GOPHER_PASS_SQL = " AND ".join(
    [
        f"(len({_TOKS}) BETWEEN 50 AND 100000)",
        (
            f"(CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)"
            f" / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) BETWEEN 3.0 AND 10.0)"
        ),
        (
            "(CAST(len(regexp_extract_all(text, '#')) + "
            "len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE)"
            f" / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) <= 0.1)"
        ),
        (
            f"(CAST(len(list_filter({_LINES}, l -> "
            "regexp_matches(trim(l), '^([•‣▪-]\\s)'))) AS DOUBLE)"
            f" / CAST(greatest(len({_LINES}), 1) AS DOUBLE) <= 0.9)"
        ),
        (
            f"(CAST(len(list_filter({_LINES}, l -> "
            "regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS DOUBLE)"
            f" / CAST(greatest(len({_LINES}), 1) AS DOUBLE) <= 0.3)"
        ),
        (
            f"(CAST(len(list_filter({_TOKS}, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)"
            f" / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) >= 0.8)"
        ),
        (
            f"(len(list_distinct(list_filter({_TOKS}, t -> list_contains({_SW}, t)))) >= 2)"
        ),
        (
            f"(len({_TRIGRAMS_GOPHER}) < 1 OR "
            f"1.0 - CAST(len(list_distinct({_TRIGRAMS_GOPHER})) AS DOUBLE)"
            f" / CAST(len({_TRIGRAMS_GOPHER}) AS DOUBLE) <= 0.5)"
        ),
    ]
)


def _marker_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"


def _lang_score_sql(lang: str, text_sql: str = "text") -> str:
    """DuckDB twin of functions/text.py lang_score_sql: marker-word
    overlap for space-segmented langs, script-class character fraction
    for CJK langs (round 13) — same integer counts, same double
    division, so values hash-match."""
    from ..functions.text import _SCRIPT_CLASS

    if lang in CJK_LANGS:
        return (
            f"CAST(len(regexp_extract_all({text_sql}, "
            f"'[{_SCRIPT_CLASS[lang]}]')) AS DOUBLE)"
            f" / CAST(greatest(length(regexp_replace({text_sql}, "
            "'\\s', '', 'g')), 1) AS DOUBLE)"
        )
    toks = f"regexp_split_to_array(lower(trim({text_sql})), '\\s+')"
    return (
        f"CAST(len(list_filter({toks}, t -> list_contains({_marker_list(lang)}, t))) AS DOUBLE)"
        f" / CAST(greatest(len({toks}), 1) AS DOUBLE)"
    )

# per-row quality-score fragments (DuckDB twins of functions/text.py)
_STOP_RATIO_DUCK = (
    f"CAST(len(list_filter({_TOKS}, t -> list_contains({_SW}, t))) AS DOUBLE)"
    f" / CAST(greatest(len({_TOKS}), 1) AS DOUBLE)"
)
_PUNCT_RATIO_DUCK = (
    "CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
    " / CAST(greatest(length(text), 1) AS DOUBLE)"
)
_QUALITY_DUCK = (
    f"0.4 * least(CAST(len({_TOKS}) AS DOUBLE) / 100.0, 1.0) "
    f"+ 0.4 * least(({_STOP_RATIO_DUCK}) * 5.0, 1.0) "
    f"+ 0.2 * (1.0 - least(({_PUNCT_RATIO_DUCK}) * 10.0, 1.0))"
)

# round 14: the char-grain quality twin over a routed token array
# column named RT (GENERATED from CJK_STOP_CHARS — same weights/caps
# as _QUALITY_DUCK, stop-CHAR density standing in for the word
# stopword ratio; the punctuation term is char-based and shared)
_CJK_STOPCH_LIST = "[" + ", ".join(f"'{c}'" for c in CJK_STOP_CHARS) + "]"
_QUALITY_CJK_DUCK_RT = (
    "0.4 * least(CAST(len(RT) AS DOUBLE) / 100.0, 1.0) "
    "+ 0.4 * least((CAST(len(list_filter(RT, t -> list_contains("
    f"{_CJK_STOPCH_LIST}, t))) AS DOUBLE) "
    "/ CAST(greatest(len(RT), 1) AS DOUBLE)) * 5.0, 1.0) "
    f"+ 0.2 * (1.0 - least(({_PUNCT_RATIO_DUCK}) * 10.0, 1.0))"
)
# per-row argmax language prediction over score_<lang> columns
def _bt_duck_cols() -> str:
    """lang_scores' blocked-terms oracle columns, GENERATED from the
    same _BT_TERMS list the Spark side compiles from."""
    from ..functions.text import blocked_terms_sql

    f = blocked_terms_sql("text", _BT_TERMS)
    return (
        f"{f['n_hits']} AS bt_hits, {f['hit_frac']} AS bt_frac, "
        f"{f['blocked']} AS bt_blocked"
    )


def _pagerank_duck_ctes(iters: int = 3, damping: float = 0.85) -> str:
    """The top_terms ``rank`` part's oracle: the synthetic doc_id link
    graph and the ENTIRE fixed-round integer-grid PageRank unrolled as
    DuckDB CTEs over exact BIGINTs (the logreg_train_sql precedent) —
    possible precisely because operators/linkgraph.py quantizes ranks
    to the 1e-9 grid and transfers with integral division, making the
    result partitioning- and engine-independent. Domain derivation is
    restated directly from the URL construction ('d<k>.com' — the PSL
    eTLD+1 of these hosts is the host minus the www label, verified by
    the lockstep tests); edge weights are parallel-edge counts (always
    >= 1, far below the 1e9 weight cap, so the cap needs no
    restatement). Terminates in ``pr{iters}(node, u)``."""
    from ..operators.linkgraph import _GRID

    d_units = int(round(damping * _GRID))
    ctes = [
        "prlk AS (SELECT doc_id AS i FROM documents)",
        (
            "predges AS MATERIALIZED (SELECT src, dst, "
            "CAST(COUNT(*) AS BIGINT) AS w FROM ("
            "SELECT 'd' || CAST(i % 19 AS VARCHAR) || '.com' AS src, "
            "'d' || CAST((i * 7 + 3) % 23 AS VARCHAR) || '.com' AS dst "
            "FROM prlk UNION ALL "
            "SELECT 'd' || CAST(i % 19 AS VARCHAR) || '.com', "
            "'d' || CAST((i * 5 + 1) % 23 AS VARCHAR) || '.com' "
            "FROM prlk) e0 WHERE src <> dst GROUP BY src, dst)"
        ),
        (
            "prnodes AS MATERIALIZED (SELECT DISTINCT node FROM ("
            "SELECT src AS node FROM predges "
            "UNION ALL SELECT dst FROM predges) u0)"
        ),
        "prn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM prnodes)",
        (
            "proutw AS MATERIALIZED (SELECT src, SUM(w) AS wout "
            "FROM predges GROUP BY src)"
        ),
        (
            f"pr0 AS MATERIALIZED (SELECT node, "
            f"CAST({_GRID} // n AS BIGINT) AS u FROM prnodes, prn)"
        ),
    ]
    for k in range(iters):
        ctes.append(
            f"prd{k} AS (SELECT COALESCE(SUM(u), 0) AS dm FROM pr{k} "
            "WHERE node NOT IN (SELECT src FROM proutw))"
        )
        ctes.append(
            f"pr{k + 1} AS MATERIALIZED (SELECT nn.node, "
            f"COALESCE(s.recv, 0) + ({_GRID} - {d_units}) // prn.n "
            f"+ ((prd{k}.dm * {d_units} // {_GRID}) // prn.n) AS u "
            "FROM prnodes nn LEFT JOIN ("
            f"SELECT e.dst, SUM(((p.u * {d_units} // {_GRID}) * e.w) "
            f"// o.wout) AS recv FROM pr{k} p "
            "JOIN proutw o ON o.src = p.node "
            "JOIN predges e ON e.src = p.node GROUP BY e.dst) s "
            f"ON nn.node = s.dst, prn, prd{k})"
        )
    return ", ".join(ctes)


# typed-NULL column fragments for the scalar_funcs tagged union
_ARRNULLS = (
    "CAST(NULL AS BIGINT) AS dim, CAST(NULL AS DOUBLE) AS first_el, "
    "CAST(NULL AS DOUBLE) AS head_sum, CAST(NULL AS DOUBLE) AS max_abs, "
    "CAST(NULL AS BIGINT) AS n_pos"
)
_SCALNULLS = (
    "CAST(NULL AS DOUBLE) AS dist, CAST(NULL AS BIGINT) AS ceil_p, "
    "CAST(NULL AS BIGINT) AS floor_p, CAST(NULL AS DOUBLE) AS round_p, "
    "CAST(NULL AS DOUBLE) AS sqrt_p, CAST(NULL AS DOUBLE) AS ln_p, "
    "CAST(NULL AS BIGINT) AS y, CAST(NULL AS BIGINT) AS m, "
    "CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS q, "
    "CAST(NULL AS VARCHAR) AS month_start, "
    "CAST(NULL AS VARCHAR) AS uname, CAST(NULL AS VARCHAR) AS prefix, "
    "CAST(NULL AS VARCHAR) AS dashed, CAST(NULL AS VARCHAR) AS joined, "
    "CAST(NULL AS VARCHAR) AS padded, CAST(NULL AS BIGINT) AS name_len, "
    "CAST(NULL AS VARCHAR) AS redacted, CAST(NULL AS VARCHAR) AS unhtml"
)

# ---------------------------------------------------------------------------
# Engine-portable MinHash pipeline as DuckDB CTEs (md5 hash family).
# Exactly mirrors operators/dedup.py with hash_family="md5": 48-bit md5
# prefix -> mod 2^31-1 -> the SAME 64 (a*x+b) mod p universal hashes
# (literal-embedded below from the seed-42 param stream) -> 16 bands of
# 4 rows -> md5 band hash -> bucket pairs -> exact-Jaccard verify 0.7.
# ---------------------------------------------------------------------------
_MH_PARAMS = _hash_params(64, 42)
_MH_A = "[" + ",".join(str(a) for a, _ in _MH_PARAMS) + "]"
_MH_B = "[" + ",".join(str(b) for _, b in _MH_PARAMS) + "]"

# ---------------------------------------------------------------------------
# Round 14: planted REAL-SCRIPT zh near-duplicate families for the fuzzy
# dedup queries. The sf corpus is EN word-soup, so the CJK-routed
# shingle grain would be vacuous on raw data; these slots replace the
# text of doc_id % mod in {a, b} (a pure function of doc_id, mirrored
# verbatim in the oracle SQL) with: a fixed zh prose base + a
# 64-han-char high-entropy "century" tail (md5 hex of doc_id//mod,
# translate'd onto 16 han digits — md5 is md5 on both engines, so the
# tail is identical by construction) + a one-char member marker.
# Same-century members share everything but the marker (char-5-gram
# Jaccard ~0.96 -> detected); different centuries share only the base
# (~0.3 -> verify-rejected), so clusters are exactly the planted PAIRS
# at any sf. Under the WORD grain each planted doc is ONE whitespace
# token -> one shingle -> no candidate pair: the planted families are
# detected ONLY because the routed grain works — the count-visible
# positive the generated-oracle discipline requires.
# ---------------------------------------------------------------------------
_CJK_DD_BASE = (
    "今天我们一起去公园散步看到很多人在那里运动和聊天天气很好"
    "大家都很开心因为春天来了花也都开了孩子们在草地上跑来跑去"
)
_CJK_DD_HAN16 = "零一二三四五六七八九甲乙丙丁戊己"
_CJK_DD_HEX = "0123456789abcdef"

# Round 15: the ExactSubstr ROUTED-grain plant (q_line_dedup_docs) —
# every doc gets a synthesized all-CJK twin text: a SHARED prefix
# (31-char family A for doc_id % 3 in (0, 1); 27-char family B for
# % 3 = 2) followed by a per-doc high-entropy 32-char han tail
# (translate(md5(doc_id))). At char windows cjk_k=20 every window
# fully inside the shared prefix is corpus-duplicated, so each
# family's global-first doc keeps its full text and every other doc
# keeps exactly its unique tail — while at the WORD grain these docs
# are one whitespace token (< k) and pass through whole, the
# recall-0 failure the routing exists to close.
_XS_BASE_A = "春天来了公园里的花都开了很多人带着孩子来这里散步玩耍天气特别好"
_XS_BASE_B = "图书馆的新书架上摆满了各种语言的小说和诗集学生们都来借"


def _synth_crawl_rank(ids):
    """The deterministic doc_id crawl graph SHARED by top_terms' rank
    part and the curation pipeline's rank stage (round 15): every doc
    lives on domain d<doc_id%19>.com and links to d<(id*7+3)%23>.com
    and d<(id*5+1)%23>.com (d19..d22 never emit, exercising the
    dangling-mass path). Returns the bit-deterministic integer-grid
    PageRank(iters=3) relation (node, rank); the DuckDB twin is
    ``_pagerank_duck_ctes`` terminating in pr3. Scoped empty-PSL: the
    synth universe is *.com only (see the in-body comment at the
    top_terms call site)."""
    from ..operators.linkgraph import domain_link_edges, pagerank
    from ..operators.psl import parse_psl_rules

    _u = lambda prefix, expr, path: F.concat(  # noqa: E731
        F.lit(prefix), expr.cast("string"), F.lit(path),
        F.col("doc_id").cast("string"),
    )
    links = ids.select(
        _u("http://www.d", F.col("doc_id") % 19, ".com/p/").alias(
            "source_url"
        ),
        _u("http://d", (F.col("doc_id") * 7 + 3) % 23, ".com/q/").alias(
            "url"
        ),
    ).unionByName(
        ids.select(
            _u("http://www.d", F.col("doc_id") % 19, ".com/p/").alias(
                "source_url"
            ),
            _u("http://d", (F.col("doc_id") * 5 + 1) % 23, ".com/r/").alias(
                "url"
            ),
        )
    )
    return pagerank(
        domain_link_edges(links, psl=parse_psl_rules([])),
        iters=3,
        weight_col="n_links",
    )


def _xs_cjk_text_expr() -> "F.Column":
    tail = F.translate(
        F.md5(F.col("doc_id").cast("string")), _CJK_DD_HEX, _CJK_DD_HAN16
    )
    return F.concat(
        F.when(F.col("doc_id") % 3 == 2, F.lit(_XS_BASE_B)).otherwise(
            F.lit(_XS_BASE_A)
        ),
        tail,
    )


def _xs_cjk_text_sql() -> str:
    """DuckDB twin of :func:`_xs_cjk_text_expr` (same literals)."""
    return (
        f"(CASE WHEN doc_id % 3 = 2 THEN '{_XS_BASE_B}' "
        f"ELSE '{_XS_BASE_A}' END || "
        f"translate(md5(CAST(doc_id AS VARCHAR)), "
        f"'{_CJK_DD_HEX}', '{_CJK_DD_HAN16}'))"
    )


def _cjk_dd_text_expr(mod: int, a: int, b: int) -> "F.Column":
    century = F.expr(f"doc_id div {mod}").cast("string")
    tail = F.translate(
        F.concat(
            F.md5(century), F.md5(F.expr(f"doc_id div {mod} + 1").cast("string"))
        ),
        _CJK_DD_HEX,
        _CJK_DD_HAN16,
    )
    marker = F.when(F.col("doc_id") % mod == a, F.lit("甲")).otherwise(
        F.lit("乙")
    )
    return F.when(
        (F.col("doc_id") % mod).isin(a, b),
        F.concat(F.lit(_CJK_DD_BASE), tail, marker),
    ).otherwise(F.col("text"))


def _cjk_dd_text_sql(mod: int, a: int, b: int) -> str:
    """DuckDB twin of :func:`_cjk_dd_text_expr` (same literals;
    ``//`` == Spark ``div`` for non-negative BIGINTs)."""
    tail = (
        f"translate(md5(CAST(doc_id // {mod} AS VARCHAR)) || "
        f"md5(CAST(doc_id // {mod} + 1 AS VARCHAR)), "
        f"'{_CJK_DD_HEX}', '{_CJK_DD_HAN16}')"
    )
    return (
        f"(CASE WHEN doc_id % {mod} IN ({a}, {b}) THEN "
        f"concat('{_CJK_DD_BASE}', {tail}, "
        f"CASE WHEN doc_id % {mod} = {a} THEN '甲' ELSE '乙' END) "
        "ELSE text END)"
    )


# Round 14: planted fullwidth/halfwidth re-typed pairs for the
# width-folded exact dedup (q_dedup_exact_docs). Slot a carries plain
# ASCII; slot b the SAME text typed in fullwidth forms + ideographic
# spaces (one translate, identical on both engines) — the pair shares
# a fingerprint ONLY under normalize_width folding.
_WF_HALF = "abcdefghijklmnopqrstuvwxyz0123456789 "
_WF_FULL = "".join(
    "　" if c == " " else chr(ord(c) + 0xFEE0) for c in _WF_HALF
)
_WF_BASE = "width fold pair number "

# Round 14: the BM25 routed-grain plant (q_bm25_search_docs) — zh docs
# at doc_id % 250 == 61 (base + century suffix) and a zh query that is
# a substring of the base, matchable only at the char-bigram grain.
_BM_ZH_BASE = (
    "春天来了公园里的花都开了很多人带着孩子来这里散步玩耍"
    "天气特别好大家的心情也都很好晚上还有人在湖边唱歌跳舞"
)


def _wf_text_expr(mod: int = 400, a: int = 77, b: int = 277) -> "F.Column":
    half = F.concat(
        F.lit(_WF_BASE), F.expr(f"doc_id div {mod}").cast("string")
    )
    return (
        F.when(F.col("doc_id") % mod == a, half)
        .when(
            F.col("doc_id") % mod == b,
            F.translate(half, _WF_HALF, _WF_FULL),
        )
        .otherwise(F.col("text"))
    )


def _wf_text_sql(mod: int = 400, a: int = 77, b: int = 277) -> str:
    """DuckDB twin of :func:`_wf_text_expr` (same literals)."""
    half = f"'{_WF_BASE}' || CAST(doc_id // {mod} AS VARCHAR)"
    return (
        f"(CASE WHEN doc_id % {mod} = {a} THEN {half} "
        f"WHEN doc_id % {mod} = {b} THEN "
        f"translate({half}, '{_WF_HALF}', '{_WF_FULL}') "
        "ELSE text END)"
    )


def _duck_grams(T: str, n: int) -> str:
    """DuckDB n-gram list over token array ``T`` — the
    raw_shingles_expr shape (shorter-than-n arrays give the full
    token string; out-of-range elements are NULL, skipped by
    concat_ws exactly like the Spark zip_with fold)."""
    parts = ", ".join(f"{T}[i+{k}]" for k in range(n))
    return (
        f"list_transform(range(1, greatest(len({T}) - {n - 1}, 1) + 1), "
        f"i -> concat_ws(' ', {parts}))"
    )


# routed token/shingle CTEs shared by the minhash and clusters oracles:
# plant -> per-doc script route (the SAME _cjk_route_sqls gate the lang
# family uses) -> char-5 grams for routed docs, word-3 grams otherwise
_MH_IS_CJK = _cjk_route_sqls("text", "duck")[0]
_MINHASH_CTES = (
    "pd AS (SELECT doc_id, "
    f"{_cjk_dd_text_sql(200, 31, 131)} AS text FROM documents), "
    f"t AS (SELECT doc_id, {_MH_IS_CJK} AS CJ, "
    f"CASE WHEN {_MH_IS_CJK} THEN {gopher_cjk_toks_duck_sql('text')} "
    "ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS T "
    "FROM pd), "
    "s AS (SELECT doc_id, list_distinct(CASE WHEN CJ "
    f"THEN {_duck_grams('T', 5)} ELSE {_duck_grams('T', 3)} END) AS sh "
    "FROM t), "
    f"prm AS (SELECT {_MH_A} AS A, {_MH_B} AS B), "
    "hx AS (SELECT doc_id, list_transform(sh, x -> "
    "CAST('0x' || substr(md5(x), 1, 12) AS BIGINT) % 2147483647) AS xs "
    "FROM s), "
    "sig AS (SELECT doc_id, list_transform(range(64), i -> "
    "list_min(list_transform(xs, x -> (A[i+1]*x + B[i+1]) % 2147483647"
    "))) AS sg FROM hx CROSS JOIN prm), "
    "banded AS (SELECT doc_id, r.b AS b, md5(array_to_string("
    "list_transform(sg[r.b*4+1 : r.b*4+4], v -> CAST(v AS VARCHAR)), ',')"
    ") AS bh FROM sig CROSS JOIN range(16) r(b)), "
    "cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b "
    "FROM banded x JOIN banded y ON x.b = y.b AND x.bh = y.bh "
    "AND x.doc_id < y.doc_id), "
    "ver AS (SELECT id_a, id_b FROM cand "
    "JOIN s sa ON sa.doc_id = cand.id_a "
    "JOIN s sb ON sb.doc_id = cand.id_b "
    "WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / "
    "CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.7)"
)

# ---------------------------------------------------------------------------
# ann_lsh_topk oracle: the hyperplanes are seed-deterministic driver
# constants (similarity.py hyperplanes, seed 42+1000*t), so they embed
# as SQL literals (repr round-trips doubles exactly) and DuckDB replays
# every sign-of-dot-product bucket bit. Sign agreement holds because
# both engines fold the dot product over the same operand order.
# ---------------------------------------------------------------------------
_LSH_PLANES = [hyperplanes(64, 4, seed=42 + 1000 * t) for t in range(12)]


def _lsh_bucket_sql(table: int) -> str:
    terms = []
    for i, plane in enumerate(_LSH_PLANES[table]):
        lit = "[" + ",".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(E, {lit}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_LSH_BKS = "[" + ", ".join(_lsh_bucket_sql(t) for t in range(12)) + "]"

# ham mode: the 64-plane sign code as ONE signed BIGINT. Bit 63's
# weight is LONG_MIN (Spark's shiftleft(1L, 63) wraps); a bare
# 1<<63 literal would promote DuckDB's sum to HUGEINT and diverge.
_HAM_PLANES = hyperplanes(64, 64, seed=707)


def _ham_code_sql() -> str:
    terms = []
    for i, plane in enumerate(_HAM_PLANES):
        lit = "[" + ",".join(repr(x) for x in plane) + "]"
        weight = str(1 << i) if i < 63 else "(-9223372036854775807 - 1)"
        terms.append(
            f"(CASE WHEN list_dot_product(E, {lit}) >= 0 "
            f"THEN {weight} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# ivf_train_centroids oracle: both Lloyd's iterations unrolled. Valid
# because train_ivf_centroids(deterministic=True) fixes every float
# summation order (ordered fold by vec_id), so each step is
# bit-reproducible: dot products fold left with a 0.0 init (x1 + 0.0 ==
# x1), means fold the cluster's values in ascending id order, and the
# spherical re-normalization is the same sequential sum-of-squares +
# sqrt the Python _unit_vec computes.
# ---------------------------------------------------------------------------
_IVF_DOT = (
    "list_reduce(list_transform(range(64), j -> {a}[j+1] * {b}[j+1]), "
    "(a,b) -> a + b)"
)
_IVF_NORM = (
    "(CASE WHEN sqrt(list_reduce(list_transform({v}, x -> x*x), "
    "(a,b) -> a + b)) = 0 THEN 1.0 ELSE "
    "sqrt(list_reduce(list_transform({v}, x -> x*x), (a,b) -> a + b)) END)"
)


def _ivf_assign_cte(name: str, prev: str) -> str:
    dot = _IVF_DOT.format(a="e.E", b="c.C")
    return (
        f"{name} AS (SELECT vec_id, E, cid FROM ("
        f"SELECT e.vec_id, e.E, c.cid, row_number() OVER ("
        f"PARTITION BY e.vec_id ORDER BY -({dot}) ASC, c.cid ASC) AS rn "
        f"FROM e CROSS JOIN {prev} c) t WHERE rn = 1)"
    )


def _ivf_cos(a: str, b: str) -> str:
    """Cosine mirroring Spark's cosine_similarity_expr operation
    order exactly — dot / (sqrt(aa) * sqrt(bb)), each factor a
    left-fold in element order — so UNROUNDED rank keys are
    bit-identical across engines (no round-before-rank needed)."""
    dot = _IVF_DOT.format(a=a, b=b)
    aa = _IVF_DOT.format(a=a, b=a)
    bb = _IVF_DOT.format(a=b, b=b)
    return f"(({dot}) / (sqrt({aa}) * sqrt({bb})))"


def _pq_subdist(vec: str, j: str, book: str) -> str:
    """Squared L2 between subvector ``vec[j*8+1 .. j*8+8]`` and an
    8-float codebook centroid — Spark's _sub_dist2 fold, same order."""
    t = f"({vec}[{j}*8 + i + 1] - {book}[i+1])"
    return (
        f"list_reduce(list_transform(range(8), i -> {t} * {t}), "
        "(x,y) -> x + y)"
    )


def _pq_encode_ctes(books: str, enc: str) -> str:
    """CTE pair encoding the ``corp`` relation against codebook table
    ``books`` (j, c, B): per (vector, subspace) the argmin-distance
    code, lowest-c tie-break like the in-row fold's strict ``<``."""
    d = _pq_subdist("corp.E", "b.j", "b.B")
    return (
        f"{enc}d AS (SELECT corp.vec_id, corp.E, b.j, b.c, {d} AS d "
        f"FROM corp CROSS JOIN {books} b), "
        f"{enc} AS (SELECT vec_id, E, j, c AS code FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY vec_id, j "
        f"ORDER BY d ASC, c ASC) AS rn FROM {enc}d) t WHERE rn = 1)"
    )


def _ivf_iter_ctes(prev: str, n: int) -> str:
    return (
        _ivf_assign_cte(f"a{n}", prev) + ", "
        f"m{n} AS (SELECT cid, j, "
        f"list_reduce(list(x ORDER BY vec_id), (a,b) -> a + b) / count(*) "
        f"AS m FROM (SELECT cid, vec_id, j, E[j+1] AS x FROM a{n}, "
        f"range(64) r(j)) s GROUP BY cid, j), "
        f"v{n} AS (SELECT cid, list(m ORDER BY j) AS V FROM m{n} "
        f"GROUP BY cid), "
        f"c{n} AS (SELECT p.cid, COALESCE(n.V2, p.C) AS C FROM {prev} p "
        f"LEFT JOIN (SELECT cid, list_transform(V, x -> x / "
        + _IVF_NORM.format(v="V")
        + f") AS V2 FROM v{n}) n ON n.cid = p.cid)"
    )


# ---------------------------------------------------------------------------
# ann_ivf_topk oracle: all three legs restated. Valid because (a) the
# coarse quantizer is the deterministic first-16-by-id seed (unit
# normalization = the same sequential sum-of-squares + sqrt as
# _unit_vec), (b) cosine rank keys mirror Spark's exact operation
# order (_ivf_cos) so UNROUNDED ranking is bit-identical, (c) PQ
# training runs deterministic=True (ordered-fold means by vec_id) so
# the one unrolled Lloyd's iteration is bit-reproducible, and (d) the
# persisted-store leg re-reads parquet-round-tripped doubles, so its
# ranking equals the in-memory ivf leg exactly (recall_ok is the
# agreement bit and must be uniformly true).
# ---------------------------------------------------------------------------
_ANN_IVF_ORACLE = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS E FROM embeddings), "
    # shared seed-16: raw vectors (PQ codebook seeds, positional c) and
    # unit-normalized coarse centroids c0
    "s16 AS (SELECT vec_id, E, row_number() OVER (ORDER BY vec_id) - 1 AS c "
    "FROM (SELECT vec_id, E FROM e ORDER BY vec_id LIMIT 16) t), "
    "c0 AS (SELECT vec_id AS cid, list_transform(E, x -> x / "
    + _IVF_NORM.format(v="E")
    + ") AS C FROM s16), "
    # ---- ivf leg: corpus list assignment + 4-list probe + exact re-rank
    "asg AS (SELECT vec_id, E, cid FROM (SELECT e.vec_id, e.E, c.cid, "
    "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
    f"-({_IVF_DOT.format(a='e.E', b='c.C')}) ASC, c.cid ASC) AS rn "
    "FROM e CROSS JOIN c0 c) t WHERE rn = 1), "
    "qp AS (SELECT query_id, QE, cid FROM (SELECT e.vec_id AS query_id, "
    "e.E AS QE, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY "
    f"-({_IVF_DOT.format(a='e.E', b='c.C')}) ASC, c.cid ASC) AS rn "
    "FROM e CROSS JOIN c0 c WHERE e.vec_id < 8) t WHERE rn <= 4), "
    "sc AS (SELECT qv.query_id, cv.vec_id AS neighbor_id, "
    f"{_ivf_cos('qv.QE', 'cv.E')} AS cosine "
    "FROM qp qv JOIN asg cv ON cv.cid = qv.cid "
    "AND cv.vec_id <> qv.query_id), "
    "appr AS (SELECT query_id, neighbor_id, cosine, rank FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM sc) t "
    "WHERE rank <= 5), "
    "ex AS (SELECT query_id, neighbor_id FROM (SELECT qv.vec_id AS "
    "query_id, cv.vec_id AS neighbor_id, row_number() OVER ("
    f"PARTITION BY qv.vec_id ORDER BY {_ivf_cos('qv.E', 'cv.E')} DESC, "
    "cv.vec_id ASC) AS rank FROM e qv JOIN e cv "
    "ON cv.vec_id <> qv.vec_id WHERE qv.vec_id < 8) t WHERE rank <= 5), "
    "rec AS (SELECT appr.query_id, "
    "ROUND(CAST(count(ex.neighbor_id) AS DOUBLE) / 5.0, 6) AS recall "
    "FROM appr LEFT JOIN ex ON ex.query_id = appr.query_id "
    "AND ex.neighbor_id = appr.neighbor_id GROUP BY appr.query_id), "
    "ivf AS (SELECT 'ivf' AS mode, appr.query_id, appr.neighbor_id, "
    "ROUND(appr.cosine, 6) AS cosine, CAST(NULL AS DOUBLE) AS adc_dist, "
    "CAST(appr.rank AS BIGINT) AS rank, rec.recall AS recall_at_k, "
    "rec.recall >= 0.6 AS recall_ok FROM appr JOIN rec USING (query_id) "
    "UNION ALL SELECT 'ivf', query_id, CAST(-1 AS BIGINT), "
    "CAST(0.0 AS DOUBLE), CAST(NULL AS DOUBLE), CAST(0 AS BIGINT), "
    "recall, false FROM rec WHERE recall < 0.6), "
    # ---- ivfpq leg: planted corpus, 1 unrolled PQ Lloyd's iteration
    # (deterministic ordered-fold means), ADC scoring over probed lists
    "pl AS (SELECT vec_id + 100000 AS vec_id, "
    "list_transform(E, x -> x + 0.05) AS E FROM e WHERE vec_id < 8), "
    "corp AS (SELECT vec_id, E FROM e UNION ALL "
    "SELECT vec_id, E FROM pl), "
    "b0 AS (SELECT r.j, s16.c, list_transform(range(8), "
    "i -> s16.E[r.j*8 + i + 1]) AS B FROM s16, range(8) r(j)), "
    + _pq_encode_ctes("b0", "e1")
    + ", "
    "m1 AS (SELECT j, code AS c, sp, "
    "list_reduce(list(x ORDER BY vec_id), (x,y) -> x + y) / count(*) "
    "AS m FROM (SELECT e1.vec_id, e1.j, e1.code, r.sp, "
    "e1.E[e1.j*8 + r.sp + 1] AS x FROM e1, range(8) r(sp)) s "
    "GROUP BY j, code, sp), "
    "nb AS (SELECT j, c, list(m ORDER BY sp) AS B FROM m1 GROUP BY j, c), "
    "b1 AS (SELECT b0.j, b0.c, COALESCE(nb.B, b0.B) AS B FROM b0 "
    "LEFT JOIN nb ON nb.j = b0.j AND nb.c = b0.c), "
    + _pq_encode_ctes("b1", "e2")
    + ", "
    "asg2 AS (SELECT vec_id, cid FROM (SELECT corp.vec_id, c.cid, "
    "row_number() OVER (PARTITION BY corp.vec_id ORDER BY "
    f"-({_IVF_DOT.format(a='corp.E', b='c.C')}) ASC, c.cid ASC) AS rn "
    "FROM corp CROSS JOIN c0 c) t WHERE rn = 1), "
    "qpq AS (SELECT query_id, QE, cid FROM (SELECT pl.vec_id AS "
    "query_id, pl.E AS QE, c.cid, row_number() OVER ("
    "PARTITION BY pl.vec_id ORDER BY "
    f"-({_IVF_DOT.format(a='pl.E', b='c.C')}) ASC, c.cid ASC) AS rn "
    "FROM pl CROSS JOIN c0 c) t WHERE rn <= 4), "
    "adc AS (SELECT query_id, neighbor_id, "
    "ROUND(list_reduce(list(d ORDER BY j), (x,y) -> x + y), 6) "
    "AS adc_dist FROM (SELECT qv.query_id, e2.vec_id AS neighbor_id, "
    f"e2.j, {_pq_subdist('qv.QE', 'e2.j', 'b1.B')} AS d "
    "FROM qpq qv JOIN asg2 ON asg2.cid = qv.cid "
    "AND asg2.vec_id <> qv.query_id "
    "JOIN e2 ON e2.vec_id = asg2.vec_id "
    "JOIN b1 ON b1.j = e2.j AND b1.c = e2.code) s "
    "GROUP BY query_id, neighbor_id), "
    "pqr AS (SELECT query_id, neighbor_id, adc_dist, rank FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY adc_dist ASC, neighbor_id ASC) AS rank FROM adc) t "
    "WHERE rank <= 5), "
    "pqok AS (SELECT query_id, max(CASE WHEN neighbor_id = "
    "query_id - 100000 AND rank = 1 THEN 1 ELSE 0 END) = 1 AS ok "
    "FROM pqr GROUP BY query_id), "
    "pq AS (SELECT 'ivfpq' AS mode, pqr.query_id, pqr.neighbor_id, "
    "CAST(NULL AS DOUBLE) AS cosine, pqr.adc_dist, "
    "CAST(pqr.rank AS BIGINT) AS rank, CAST(NULL AS DOUBLE) AS "
    "recall_at_k, pqok.ok AS recall_ok FROM pqr "
    "JOIN pqok USING (query_id) "
    "UNION ALL SELECT 'ivfpq', query_id, CAST(-1 AS BIGINT), "
    "CAST(NULL AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT), "
    "CAST(NULL AS DOUBLE), false FROM pqok WHERE NOT ok) "
    # ---- ivfstore leg: parquet round-trips doubles exactly, so the
    # persisted index ranking must equal the in-memory ivf leg
    "SELECT * FROM ivf UNION ALL SELECT * FROM pq "
    "UNION ALL SELECT 'ivfstore' AS mode, query_id, neighbor_id, "
    "ROUND(cosine, 6) AS cosine, CAST(NULL AS DOUBLE) AS adc_dist, "
    "CAST(rank AS BIGINT) AS rank, CAST(NULL AS DOUBLE) AS recall_at_k, "
    "true AS recall_ok FROM appr"
)


# ---------------------------------------------------------------------------
# weburl oracle fragments: the normalize_url_expr / registered_domain
# regex chains restated for DuckDB (same Java∩RE2-subset patterns;
# backrefs are \1 there vs Spark's $1, and 'g' marks the spots where
# Spark's always-global regexp_replace can hit more than one match).
# ---------------------------------------------------------------------------


def _url_norm_sql_for(u: str) -> str:
    p = (
        f"lower(regexp_extract({u}, "
        "'^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1))"
    )
    p = f"regexp_replace({p}, ':(80|443)$', '')"
    p = f"regexp_replace({p}, '^([a-z][a-z0-9+.\\-]*://)www\\.', '\\1')"
    r = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*', '')"
    r = f"regexp_replace({r}, '#.*', '')"
    r = (
        f"regexp_replace({r}, '([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid|"
        "msclkid)=[^&#]*', '\\1', 'g')"
    )
    r = f"regexp_replace({r}, '\\?&+', '?')"
    r = f"regexp_replace({r}, '&&+', '&', 'g')"
    r = f"regexp_replace({r}, '[?&]+$', '')"
    r = f"regexp_replace({r}, '/$', '')"
    return f"({p} || {r})"


def _url_host_sql_for(u: str) -> str:
    """The lowered, userinfo/port-stripped host, with the leading
    ``www.`` dropped only when >= 2 labels remain AND the remainder is
    not itself a public suffix (www.ck / www.blogspot.com keep their
    www) — registered_domain_expr's host extraction, the strip guard
    GENERATED from the same PSL tables (operators/psl.py
    www_strip_host_sql). Compute it into a CTE column: the PSL CASE
    references it ~9x."""
    from ..operators.psl import www_strip_host_sql

    h = (
        f"lower(regexp_extract({u}, "
        "'^[A-Za-z][A-Za-z0-9+.\\-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1))"
    )
    return www_strip_host_sql(h)


_URL_NORM_SQL = _url_norm_sql_for("{u}")


# ---------------------------------------------------------------------------
# multimodal_features oracle: the payload is a pure function of doc_id
# (_mm_synth_payload) and the probe/feature path is pure Python
# (media_codecs), so the expected output row for every candidate doc_id
# is computed HERE, at oracle-build time, with the very same functions
# the Arrow workers run — then embedded as a VALUES table joined
# against the documents view (so only doc_ids present at the driver's
# sf actually appear). Floats go through an explicit float32 round-trip
# (struct pack/unpack) to mirror Arrow's array<float> narrowing, then
# repr() — which round-trips doubles exactly — into the SQL literal.
# ---------------------------------------------------------------------------


def _mm_features_values() -> str:
    import struct as _struct
    import wave as _wave
    import io as _io

    from ..operators.imagehash import (
        ahash_of_payload,
        dhash_of_payload,
        rot_min_dhash_of_payload,
        spechash_of_payload,
        vhash_of_payload,
        wavhash_of_payload,
    )
    from ..operators.media_codecs import IMAGE_DECODERS, sniff_format
    from ..operators.multimodal import decode_features_with_provenance

    def f32(x: float) -> float:
        return _struct.unpack("<f", _struct.pack("<f", x))[0]

    rows = []
    for i in range(200):
        payload = _mm_synth_payload(i)
        fmt = sniff_format(payload)
        width = "NULL"
        duration = "NULL"
        if fmt in IMAGE_DECODERS:
            w, _, _ = IMAGE_DECODERS[fmt](payload)
            width = str(w)
        elif fmt == "avi":  # round 11: header probe, both dims AND duration
            from ..operators.media_codecs import avi_probe

            vw, _vh, nf, fps = avi_probe(payload)
            width = str(vw)
            duration = str(nf * 1000 // fps)
        elif fmt == "mp4":  # round 12: moov walk — real dims + duration
            from ..operators.media_codecs import mp4_probe

            mw, _mh, md = mp4_probe(payload)
            width = str(mw)
            duration = str(md)
        elif fmt == "mp3":  # round 12: frame-header scan — real duration
            from ..operators.media_codecs import mp3_probe

            _hz, md, _nf = mp3_probe(payload)
            duration = str(md)
        else:
            with _wave.open(_io.BytesIO(payload), "rb") as wv:
                duration = str(int(wv.getnframes() * 1000 / wv.getframerate()))
        feats, decoder = decode_features_with_provenance(payload, 8)
        dh = dhash_of_payload(payload)
        ah = ahash_of_payload(payload)
        wh = wavhash_of_payload(payload)
        rh = rot_min_dhash_of_payload(payload)
        vh = vhash_of_payload(payload)
        sh = spechash_of_payload(payload)
        # string->DOUBLE cast: a bare decimal literal in VALUES would be
        # typed DECIMAL and lose the 1-ulp exactness repr() guarantees
        rows.append(
            f"({i}, '{fmt}', {width}, {duration}, {len(payload)}, "
            f"'{decoder}', CAST('{f32(feats[0])!r}' AS DOUBLE), "
            f"CAST('{f32(feats[1])!r}' AS DOUBLE), "
            f"{'NULL' if dh is None else dh}, "
            f"{'NULL' if ah is None else ah}, "
            f"{'NULL' if wh is None else wh}, "
            f"{'NULL' if rh is None else rh}, "
            f"{'NULL' if vh is None else vh}, "
            f"{'NULL' if sh is None else sh})"
        )
    return ", ".join(rows)


def _mm_vdup_values() -> str:
    from ..operators.imagehash import vhash_of_payload

    return ", ".join(
        f"({i}, {vhash_of_payload(_vdup_synth_payload(i))})" for i in range(30)
    )


def _mm_vtrim_values() -> str:
    # round 12: even-ordinal sampler hashes — the Spark leg computes
    # the SAME vhash_of_payload(sample="even") worker-side
    from ..operators.imagehash import vhash_of_payload

    return ", ".join(
        f"({i}, {vhash_of_payload(_vtrim_synth_payload(i), sample='even')})"
        for i in range(20)
    )


def _mm_phash_values() -> str:
    from ..operators.imagehash import dhash_of_payload

    return ", ".join(
        f"({i}, {dhash_of_payload(_phash_synth_payload(i))})" for i in range(120)
    )


_MM_FEATURES_ORACLE = (
    "WITH exp(doc_id, fmt, width, duration_ms, size_bytes, decoder, f0, f1, dh, ah, wh, rh, vh, sh) "
    "AS (VALUES " + _mm_features_values() + "), "
    "pexp(doc_id, h) AS (VALUES " + _mm_phash_values() + "), "
    "vexp(doc_id, h) AS (VALUES " + _mm_vdup_values() + "), "
    "vtexp(doc_id, h) AS (VALUES " + _mm_vtrim_values() + "), "
    "feat AS (SELECT 'feat' AS part, e.doc_id, e.fmt, "
    "CAST(e.width AS INTEGER) AS width, "
    "CAST(e.duration_ms AS BIGINT) AS duration_ms, "
    "CAST(e.size_bytes AS BIGINT) AS size_bytes, e.decoder, e.f0, e.f1, "
    "CAST(e.dh AS BIGINT) AS dhash, CAST(e.ah AS BIGINT) AS ahash, "
    "CAST(e.wh AS BIGINT) AS wavhash, CAST(e.rh AS BIGINT) AS rothash, "
    "CAST(e.vh AS BIGINT) AS vhash, CAST(e.sh AS BIGINT) AS spechash, "
    "CAST(NULL AS BIGINT) AS pair_id, CAST(NULL AS BIGINT) AS hamming "
    "FROM exp e JOIN documents d ON d.doc_id = e.doc_id), "
    # brute-force quadratic Hamming over the literal hashes — equals
    # the banded fast path because pigeonhole blocking has recall 1.0
    "pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "bit_count(xor(CAST(a.h AS BIGINT), CAST(b.h AS BIGINT))) AS ham "
    "FROM pexp a JOIN pexp b ON a.doc_id < b.doc_id "
    "JOIN documents da ON da.doc_id = a.doc_id "
    "JOIN documents db ON db.doc_id = b.doc_id), "
    "ph AS (SELECT 'phash' AS part, id_a AS doc_id, "
    "CAST(NULL AS VARCHAR) AS fmt, CAST(NULL AS INTEGER) AS width, "
    "CAST(NULL AS BIGINT) AS duration_ms, CAST(NULL AS BIGINT) AS size_bytes, "
    "CAST(NULL AS VARCHAR) AS decoder, CAST(NULL AS DOUBLE) AS f0, "
    "CAST(NULL AS DOUBLE) AS f1, CAST(NULL AS BIGINT) AS dhash, "
    "CAST(NULL AS BIGINT) AS ahash, CAST(NULL AS BIGINT) AS wavhash, "
    "CAST(NULL AS BIGINT) AS rothash, "
    "CAST(NULL AS BIGINT) AS vhash, CAST(NULL AS BIGINT) AS spechash, "
    "CAST(id_b AS BIGINT) AS pair_id, CAST(ham AS BIGINT) AS hamming "
    "FROM pp WHERE ham <= 6), "
    # video near-dup brute force over the vhash literals (vdup leg)
    "vp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "bit_count(xor(CAST(a.h AS BIGINT), CAST(b.h AS BIGINT))) AS ham "
    "FROM vexp a JOIN vexp b ON a.doc_id < b.doc_id "
    "JOIN documents da ON da.doc_id = a.doc_id "
    "JOIN documents db ON db.doc_id = b.doc_id), "
    "vh AS (SELECT 'vdup' AS part, id_a AS doc_id, "
    "CAST(NULL AS VARCHAR) AS fmt, CAST(NULL AS INTEGER) AS width, "
    "CAST(NULL AS BIGINT) AS duration_ms, CAST(NULL AS BIGINT) AS size_bytes, "
    "CAST(NULL AS VARCHAR) AS decoder, CAST(NULL AS DOUBLE) AS f0, "
    "CAST(NULL AS DOUBLE) AS f1, CAST(NULL AS BIGINT) AS dhash, "
    "CAST(NULL AS BIGINT) AS ahash, CAST(NULL AS BIGINT) AS wavhash, "
    "CAST(NULL AS BIGINT) AS rothash, "
    "CAST(NULL AS BIGINT) AS vhash, CAST(NULL AS BIGINT) AS spechash, "
    "CAST(id_b AS BIGINT) AS pair_id, CAST(ham AS BIGINT) AS hamming "
    "FROM vp WHERE ham <= 8), "
    # trim-robust video pairs brute force over the EVEN-ordinal vhash
    # literals (vtrim leg, round 12)
    "vtp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "bit_count(xor(CAST(a.h AS BIGINT), CAST(b.h AS BIGINT))) AS ham "
    "FROM vtexp a JOIN vtexp b ON a.doc_id < b.doc_id "
    "JOIN documents da ON da.doc_id = a.doc_id "
    "JOIN documents db ON db.doc_id = b.doc_id), "
    "vth AS (SELECT 'vtrim' AS part, id_a AS doc_id, "
    "CAST(NULL AS VARCHAR) AS fmt, CAST(NULL AS INTEGER) AS width, "
    "CAST(NULL AS BIGINT) AS duration_ms, CAST(NULL AS BIGINT) AS size_bytes, "
    "CAST(NULL AS VARCHAR) AS decoder, CAST(NULL AS DOUBLE) AS f0, "
    "CAST(NULL AS DOUBLE) AS f1, CAST(NULL AS BIGINT) AS dhash, "
    "CAST(NULL AS BIGINT) AS ahash, CAST(NULL AS BIGINT) AS wavhash, "
    "CAST(NULL AS BIGINT) AS rothash, "
    "CAST(NULL AS BIGINT) AS vhash, CAST(NULL AS BIGINT) AS spechash, "
    "CAST(id_b AS BIGINT) AS pair_id, CAST(ham AS BIGINT) AS hamming "
    "FROM vtp WHERE ham <= 8) "
    "SELECT * FROM feat UNION ALL SELECT * FROM ph UNION ALL "
    "SELECT * FROM vh UNION ALL SELECT * FROM vth"
)

# multimodal_frame_pipeline oracle: with unsniffable payloads the fake
# resize (payload[::step][:64], step = max(1, n // 64)) and fake frame
# sampler (min(3, n') chunks of size max(1, n' // 3)) reduce every
# output to integer arithmetic over n = octet_length(utf-8 text) —
# restated below without any literal table.
_MM_FRAMES_ORACLE = (
    "WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n "
    "FROM documents WHERE doc_id < 100 AND octet_length(encode(text)) > 0), "
    "r AS (SELECT doc_id, LEAST(64, (n + GREATEST(1, n // 64) - 1) "
    "// GREATEST(1, n // 64)) AS rn FROM m), "
    "f AS (SELECT doc_id, rn, GREATEST(1, rn // 3) AS fsize FROM r), "
    "fr AS (SELECT doc_id, CAST(t.i AS INTEGER) AS frame_idx, "
    "CAST(LEAST(fsize, rn - t.i * fsize) AS BIGINT) AS frame_bytes "
    "FROM f CROSS JOIN range(3) t(i) WHERE t.i < LEAST(3, rn)) "
    "SELECT doc_id, frame_idx, frame_bytes, 'fake' AS sampler FROM fr"
)


ORACLES: dict[str, str] = {
    "multimodal_features": _MM_FEATURES_ORACLE,
    "multimodal_frame_pipeline": _MM_FRAMES_ORACLE,
    "ivf_train_centroids": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS E "
        "FROM embeddings), "
        "c0 AS (SELECT vec_id AS cid, list_transform(E, x -> x / "
        + _IVF_NORM.format(v="E")
        + ") AS C FROM e ORDER BY vec_id LIMIT 16), "
        + _ivf_iter_ctes("c0", 1)
        + ", "
        + _ivf_iter_ctes("c1", 2)
        + ", "
        + _ivf_assign_cte("fin", "c2")
        + " SELECT CAST(cid AS BIGINT) AS cid, count(*) AS list_size "
        "FROM fin GROUP BY cid ORDER BY cid"
    ),
    "ann_ivf_topk": _ANN_IVF_ORACLE,
    "ann_lsh_topk": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS E "
        "FROM embeddings), "
        f"bk AS (SELECT vec_id, {_LSH_BKS} AS bks, E FROM e), "
        "cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "ROUND(list_cosine_similarity(q.E, c.E), 6) AS cosine "
        "FROM bk q JOIN bk c ON c.vec_id <> q.vec_id "
        "AND len(list_filter(range(12), i -> q.bks[i+1] = c.bks[i+1])) > 0 "
        "WHERE q.vec_id < 8), "
        "appr AS (SELECT query_id, neighbor_id, cosine, rank FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM cand) "
        "WHERE rank <= 5), "
        "ex AS (SELECT query_id, neighbor_id FROM ("
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "ROUND(list_cosine_similarity(q.E, c.E), 6) DESC, c.vec_id ASC) "
        "AS rank FROM e q JOIN e c ON c.vec_id <> q.vec_id "
        "WHERE q.vec_id < 8) WHERE rank <= 5), "
        "rec AS (SELECT a.query_id, "
        "ROUND(CAST(count(ex.neighbor_id) AS DOUBLE) / 5.0, 6) AS recall "
        "FROM appr a LEFT JOIN ex ON ex.query_id = a.query_id "
        "AND ex.neighbor_id = a.neighbor_id GROUP BY a.query_id), "
        # ham mode: 64-bit sign code, Hamming pre-rank top 16*5, exact
        # cosine re-rank — binary_hamming_topk restated stage-for-stage
        f"hc AS (SELECT vec_id, {_ham_code_sql()} AS C, E FROM e), "
        "hcand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "bit_count(xor(q.C, c.C)) AS ham, q.E AS QE, c.E AS CE "
        "FROM hc q JOIN hc c ON c.vec_id <> q.vec_id WHERE q.vec_id < 8), "
        "hshort AS (SELECT query_id, neighbor_id, QE, CE FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY ham ASC, neighbor_id ASC) AS hr FROM hcand) "
        "WHERE hr <= 80), "
        "happr AS (SELECT query_id, neighbor_id, cosine, rank FROM ("
        "SELECT query_id, neighbor_id, "
        "ROUND(list_cosine_similarity(QE, CE), 6) AS cosine, "
        "row_number() OVER (PARTITION BY query_id ORDER BY "
        "ROUND(list_cosine_similarity(QE, CE), 6) DESC, neighbor_id ASC) "
        "AS rank FROM hshort) WHERE rank <= 5), "
        "hrec AS (SELECT a.query_id, "
        "ROUND(CAST(count(ex.neighbor_id) AS DOUBLE) / 5.0, 6) AS recall "
        "FROM happr a LEFT JOIN ex ON ex.query_id = a.query_id "
        "AND ex.neighbor_id = a.neighbor_id GROUP BY a.query_id) "
        "SELECT 'lsh' AS mode, a.query_id, a.neighbor_id, a.cosine, a.rank, "
        "r.recall AS recall_at_k, r.recall >= 0.4 AS recall_ok "
        "FROM appr a JOIN rec r USING (query_id) "
        "UNION ALL "
        "SELECT 'ham' AS mode, a.query_id, a.neighbor_id, a.cosine, a.rank, "
        "r.recall AS recall_at_k, r.recall >= 0.6 AS recall_ok "
        "FROM happr a JOIN hrec r USING (query_id)"
    ),
    "minhash_dedup_docs": (
        "WITH " + _MINHASH_CTES + ", "
        "losers AS (SELECT DISTINCT id_b FROM ver) "
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d "
        "LEFT JOIN losers l ON l.id_b = d.doc_id WHERE l.id_b IS NULL"
    ),
    "dedup_clusters_docs": (
        # exact connected components of the verified pair graph via a
        # recursive CTE (min reachable label); drop non-minimum members
        "WITH RECURSIVE " + _MINHASH_CTES + ", "
        "und AS (SELECT id_a AS a, id_b AS b FROM ver "
        "UNION SELECT id_b, id_a FROM ver), "
        "nodes AS (SELECT DISTINCT a AS n FROM und), "
        "reach(n, m) AS (SELECT n, n FROM nodes "
        "UNION SELECT r.n, u.b FROM reach r JOIN und u ON u.a = r.m), "
        "losers AS (SELECT n FROM reach GROUP BY n HAVING min(m) <> n) "
        "SELECT d.doc_id, d.lang, d.source FROM documents d "
        "LEFT JOIN losers l ON l.n = d.doc_id WHERE l.n IS NULL"
    ),
    "simhash_pairs_docs": (
        # brute-force definition: 60-bit portable SimHash fingerprints
        # (votes from md5-prefix feature hashes), quadratic self-join,
        # Hamming <= 8 — equals the banded fast path because pigeonhole
        # blocking has recall 1.0 and the same hamming post-filter.
        # Round 14: planted zh pairs + script-routed features (RAW
        # char 5-grams for CJK docs, word tokens otherwise) — the same
        # plant/route/grain constants as the Spark side
        "WITH pd AS (SELECT doc_id, "
        + _cjk_dd_text_sql(500, 31, 281)
        + " AS text FROM documents), "
        "ct AS (SELECT doc_id, "
        + _MH_IS_CJK
        + " AS CJ, "
        + gopher_cjk_toks_duck_sql("text")
        + " AS C, "
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS W "
        "FROM pd), "
        "t AS (SELECT doc_id, CASE WHEN CJ THEN "
        + _duck_grams("C", 5)
        + " ELSE W END AS T FROM ct), "
        "h AS (SELECT doc_id, list_transform(T, tk -> "
        "CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS H FROM t), "
        "fp AS (SELECT doc_id, CAST(list_sum(list_transform(range(60), "
        "j -> CASE WHEN list_sum(list_transform(H, x -> CASE WHEN "
        "((x >> j) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS f "
        "FROM h) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming "
        "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.f, b.f)) <= 8"
    ),
    "scan_project_literal": "SELECT *, 'acme' AS tenant FROM customer",
    "catalog_typed_cast": (
        "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, "
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"
    ),
    "parse_dates_fallback": (
        "SELECT 'parse' AS part, l_orderkey, l_linenumber, "
        "strftime(COALESCE(try_strptime(s, '%Y-%m-%d %H:%M:%S'), try_strptime(s, '%Y-%m-%d')), "
        "'%Y-%m-%d %H:%M:%S') AS parsed_ts, "
        "CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS VARCHAR) AS iso_ts FROM ("
        "SELECT l_orderkey, l_linenumber, CASE WHEN l_orderkey % 2 = 0 "
        "THEN strftime(l_shipdate, '%Y-%m-%d') "
        "ELSE strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') END AS s FROM lineitem) t "
        "UNION ALL "
        "SELECT 'iso' AS part, CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), "
        "CAST(NULL AS VARCHAR), event_id, "
        "strftime(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), "
        "'%Y-%m-%d %H:%M:%S.%f'), '%Y-%m-%dT%H:%M:%S.%fZ') AS iso_ts FROM events"
    ),
    "snapshot_upsert": (
        "WITH old AS (SELECT o_orderkey, o_totalprice AS total, 0 AS src FROM orders "
        "WHERE o_orderkey % 3 <> 0), "
        "new AS (SELECT o_orderkey, o_totalprice * 2 AS total, 1 AS src FROM orders "
        "WHERE o_orderkey % 2 = 0), "
        "u AS (SELECT * FROM old UNION ALL SELECT * FROM new) "
        "SELECT 'upsert' AS part, o_orderkey, ROUND(total, 2) AS total, src, "
        "CAST(NULL AS VARCHAR) AS status, CAST(NULL AS VARCHAR) AS valid_from, "
        "CAST(NULL AS VARCHAR) AS valid_to, CAST(NULL AS BOOLEAN) AS is_current "
        "FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey "
        "ORDER BY src DESC) AS rn FROM u) r WHERE rn = 1 "
        # the scd2 part states the RESULT semantics directly: the
        # engine's two-batch store merge must land exactly here
        "UNION ALL "
        "SELECT 'scd2', o_orderkey, NULL, NULL, o_orderstatus, "
        "'2024-01-01 00:00:00', '2024-02-01 00:00:00', FALSE "
        "FROM orders WHERE o_orderkey % 10 = 0 "
        "UNION ALL "
        "SELECT 'scd2', o_orderkey, NULL, NULL, o_orderstatus || 'X', "
        "'2024-02-01 00:00:00', NULL, TRUE "
        "FROM orders WHERE o_orderkey % 10 = 0 "
        "UNION ALL "
        "SELECT 'scd2', o_orderkey, NULL, NULL, o_orderstatus, "
        "'2024-01-01 00:00:00', NULL, TRUE "
        "FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 <> 0 "
        "UNION ALL "
        "SELECT 'scd2', o_orderkey, NULL, NULL, o_orderstatus, "
        "'2024-02-01 00:00:00', NULL, TRUE "
        "FROM orders WHERE o_orderkey % 7 = 1 AND o_orderkey % 5 <> 0 "
        # the diff part: CDC over the SAME two generations the upsert
        # merges — full-outer join by pk, null-safe change detection
        "UNION ALL "
        "SELECT 'diff', d.o_orderkey, ROUND(COALESCE(d.total, d.total_old), 2), "
        "NULL, d.change_type, NULL, NULL, CAST(NULL AS BOOLEAN) FROM ("
        "SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey, "
        "n.total, o.total AS total_old, "
        "CASE WHEN o.o_orderkey IS NULL THEN 'insert' "
        "WHEN n.o_orderkey IS NULL THEN 'delete' "
        "WHEN n.total IS DISTINCT FROM o.total THEN 'update' "
        "ELSE 'unchanged' END AS change_type "
        "FROM (SELECT o_orderkey, o_totalprice * 2 AS total FROM orders "
        "WHERE o_orderkey % 2 = 0) n "
        "FULL OUTER JOIN (SELECT o_orderkey, o_totalprice AS total FROM orders "
        "WHERE o_orderkey % 3 <> 0) o ON n.o_orderkey = o.o_orderkey) d "
        "WHERE d.change_type <> 'unchanged'"
    ),
    "dedup_keep_last": (
        "SELECT user_id, event_type, event_id, ROUND(value, 4) AS value FROM ("
        "SELECT *, row_number() OVER (PARTITION BY user_id, event_type "
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) t WHERE rn = 1"
    ),
    "json_extract_agg": (
        "SELECT 'agg' AS part, event_type, "
        "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) "
        "AS BIGINT) AS sum_k, COUNT(*) AS cnt, "
        "CAST(NULL AS BIGINT) AS c_custkey, CAST(NULL AS VARCHAR) AS payload "
        "FROM events GROUP BY event_type "
        "UNION ALL "
        "SELECT 'encode' AS part, CAST(NULL AS VARCHAR) AS event_type, "
        "CAST(NULL AS BIGINT) AS sum_k, CAST(NULL AS BIGINT) AS cnt, "
        "c_custkey, to_json(struct_pack(c_custkey := c_custkey, "
        "c_name := c_name)) AS payload FROM customer"
    ),
    "q1_pricing_summary": (
        "WITH base AS (SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge, "
        "CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus) "
        "SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, "
        "sum_charge, sum_qty / count_order AS avg_qty, "
        "sum_base_price / count_order AS avg_price, sum_disc / count_order AS avg_disc, "
        "count_order FROM base"
    ),
    "q3_top_shipping": (
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, "
        "o_orderpriority, " + _REV + " AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' "
        "AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00' "
        "GROUP BY o_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"
    ),
    "q5_regional_revenue": (
        "SELECT r_name, " + _REV + " AS revenue, COUNT(*) AS cnt "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name"
    ),
    "join_broadcast_brand": (
        "SELECT p_brand, " + _REV + " AS revenue, COUNT(*) AS cnt "
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand"
    ),
    "semi_anti_join_customers": (
        # the fuzzy leg's oracle IS the quadratic formulation the Spark
        # operator exists to avoid: cross join + levenshtein filter
        "SELECT c_custkey, 'anti' AS op, CAST(NULL AS BIGINT) AS n_matched, "
        "CAST(NULL AS BIGINT) AS n_cust_only, CAST(NULL AS BIGINT) AS n_order_only, "
        "CAST(NULL AS BIGINT) AS fuzzy_custkey, CAST(NULL AS BIGINT) AS edit_dist "
        "FROM customer c WHERE NOT EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) "
        "UNION ALL "
        "SELECT c_custkey, 'semi' AS op, CAST(NULL AS BIGINT), "
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), "
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) "
        "FROM customer c WHERE EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_totalprice > 300000.0) "
        "UNION ALL "
        "SELECT CAST(NULL AS BIGINT) AS c_custkey, 'full_outer' AS op, "
        "COUNT(CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL THEN 1 END), "
        "COUNT(CASE WHEN o.o_custkey IS NULL THEN 1 END), "
        "COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END), "
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) "
        "FROM customer c FULL OUTER JOIN "
        "(SELECT DISTINCT o_custkey FROM orders) o "
        "ON c.c_custkey = o.o_custkey "
        "UNION ALL "
        "SELECT a.c_custkey, 'fuzzy' AS op, CAST(NULL AS BIGINT), "
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), "
        "b.c_custkey, CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) "
        "FROM customer a JOIN customer b "
        "ON a.c_custkey < b.c_custkey "
        "AND levenshtein(a.c_name, b.c_name) <= 1"
    ),
    "window_funcs_orders": (
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_rank, "
        "CAST(ntile(4) OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) "
        "AS price_quartile, "
        "ROUND(percent_rank() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC), 9) AS price_pct_rank, "
        "ROUND(cume_dist() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC), 9) AS price_cume_dist, "
        "ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate ASC, o_orderkey ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total, "
        "lag(o_totalprice) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price, "
        "lead(o_orderkey) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_orderkey "
        "FROM orders"
    ),
    "rollup_cube_status": (
        "SELECT 'rollup' AS op, o_orderstatus AS key1, o_orderpriority AS key2, "
        "COUNT(*) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) "
        "UNION ALL "
        "SELECT 'cube' AS op, o_orderstatus AS key1, o_orderpriority AS key2, "
        "COUNT(*) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) "
        "UNION ALL "
        "SELECT 'gsets' AS op, CAST(c_nationkey AS VARCHAR) AS key1, "
        "c_mktsegment AS key2, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM customer GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment)) "
        "UNION ALL "
        "SELECT 'pivot' AS op, st.key1, pr.key2, c.cnt, "
        "CAST(NULL AS DOUBLE) AS total "
        "FROM (SELECT DISTINCT o_orderstatus AS key1 FROM orders) st "
        "CROSS JOIN (VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'), "
        "('4-NOT SPECIFIED'), ('5-LOW')) pr(key2) "
        "LEFT JOIN (SELECT o_orderstatus, o_orderpriority, "
        "COUNT(*) AS cnt FROM orders GROUP BY 1, 2) c "
        "ON c.o_orderstatus = st.key1 AND c.o_orderpriority = pr.key2"
    ),
    "setops_customers": (
        "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, 'except' AS op, "
        "CAST(NULL AS VARCHAR) AS name, CAST(NULL AS DOUBLE) AS acctbal "
        "FROM (SELECT c_custkey FROM customer "
        "EXCEPT SELECT o_custkey AS c_custkey FROM orders) e "
        "UNION ALL "
        "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, 'intersect' AS op, "
        "CAST(NULL AS VARCHAR) AS name, CAST(NULL AS DOUBLE) AS acctbal "
        "FROM (SELECT c_custkey FROM customer "
        "INTERSECT SELECT o_custkey AS c_custkey FROM orders) i "
        "UNION ALL "
        "SELECT CAST(NULL AS BIGINT) AS c_custkey, 'union_c' AS op, "
        "c_name AS name, c_acctbal AS acctbal FROM customer "
        "UNION ALL "
        "SELECT CAST(NULL AS BIGINT) AS c_custkey, 'union_s' AS op, "
        "s_name AS name, CAST(NULL AS DOUBLE) AS acctbal FROM supplier"
    ),
    "sessionize_events": (
        "WITH fe AS (SELECT user_id, event_type, ts FROM events "
        "WHERE ts < TIMESTAMP '2024-01-03 00:00:00'), "
        "s1 AS (SELECT user_id, MIN(ts) AS t FROM fe "
        "WHERE event_type = 'signup' GROUP BY user_id), "
        "s2 AS (SELECT fe.user_id, MIN(fe.ts) AS t FROM fe "
        "JOIN s1 USING (user_id) WHERE fe.event_type = 'view' "
        "AND fe.ts > s1.t GROUP BY fe.user_id), "
        "s3 AS (SELECT fe.user_id, MIN(fe.ts) AS t FROM fe "
        "JOIN s2 USING (user_id) WHERE fe.event_type = 'purchase' "
        "AND fe.ts > s2.t GROUP BY fe.user_id), "
        "s4 AS (SELECT fe.user_id, MIN(fe.ts) AS t FROM fe "
        "JOIN s3 USING (user_id) WHERE fe.event_type = 'click' "
        "AND fe.ts > s3.t GROUP BY fe.user_id), "
        "s5 AS (SELECT fe.user_id, MIN(fe.ts) AS t FROM fe "
        "JOIN s4 USING (user_id) WHERE fe.event_type = 'error' "
        "AND fe.ts > s4.t GROUP BY fe.user_id) "
        "SELECT 'sess' AS part, user_id, event_id, "
        "CAST(SUM(new_sess) OVER ("
        "PARTITION BY user_id ORDER BY ts ASC, event_id ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id, "
        "CAST(NULL AS BIGINT) AS step_idx, CAST(NULL AS VARCHAR) AS step, "
        "CAST(NULL AS BIGINT) AS n_users, "
        "CAST(NULL AS VARCHAR) AS cohort_week, "
        "CAST(NULL AS BIGINT) AS period_offset, "
        "CAST(NULL AS BOOLEAN) AS is_gap "
        "FROM (SELECT user_id, event_id, ts, CASE WHEN lag(epoch_us(ts)) OVER ("
        "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL "
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER ("
        "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000 "
        "THEN 1 ELSE 0 END AS new_sess FROM events) t "
        "UNION ALL "
        "SELECT 'funnel', NULL, NULL, NULL, 1, 'signup', "
        "(SELECT COUNT(*) FROM s1), NULL, NULL, CAST(NULL AS BOOLEAN) "
        "UNION ALL SELECT 'funnel', NULL, NULL, NULL, 2, 'view', "
        "(SELECT COUNT(*) FROM s2), NULL, NULL, CAST(NULL AS BOOLEAN) "
        "UNION ALL SELECT 'funnel', NULL, NULL, NULL, 3, 'purchase', "
        "(SELECT COUNT(*) FROM s3), NULL, NULL, CAST(NULL AS BOOLEAN) "
        "UNION ALL SELECT 'funnel', NULL, NULL, NULL, 4, 'click', "
        "(SELECT COUNT(*) FROM s4), NULL, NULL, CAST(NULL AS BOOLEAN) "
        "UNION ALL SELECT 'funnel', NULL, NULL, NULL, 5, 'error', "
        "(SELECT COUNT(*) FROM s5), NULL, NULL, CAST(NULL AS BOOLEAN) "
        "UNION ALL "
        "SELECT 'retention', NULL, NULL, NULL, NULL, NULL, "
        "rr.n_users, rr.cohort_week, rr.period_offset, "
        "CAST(NULL AS BOOLEAN) FROM ("
        "SELECT strftime(co.c, '%Y-%m-%d') AS cohort_week, "
        "CAST(floor(date_diff('day', co.c, date_trunc('week', e.ts)) / 7) "
        "AS BIGINT) AS period_offset, "
        "COUNT(DISTINCT e.user_id) AS n_users "
        "FROM events e JOIN ("
        "SELECT user_id, MIN(date_trunc('week', ts)) AS c "
        "FROM events GROUP BY user_id) co USING (user_id) "
        "GROUP BY cohort_week, period_offset) rr "
        "UNION ALL "
        "SELECT 'gapfill', NULL, NULL, NULL, NULL, g.step, g.n_users, "
        "g.cohort_week, g.period_offset, g.is_gap FROM ("
        "WITH sp AS (SELECT event_type, "
        "time_bucket(INTERVAL 15 MINUTE, ts) AS b "
        "FROM events WHERE extract(minute FROM ts) < 10), "
        "cnts AS (SELECT event_type, b, COUNT(*) AS cnt "
        "FROM sp GROUP BY event_type, b), "
        "spine AS (SELECT event_type, "
        "unnest(generate_series(mn, mx, INTERVAL 15 MINUTE)) AS b "
        "FROM (SELECT event_type, MIN(b) AS mn, MAX(b) AS mx "
        "FROM cnts GROUP BY event_type)), "
        "j AS (SELECT s.event_type, s.b, c.cnt "
        "FROM spine s LEFT JOIN cnts c USING (event_type, b)) "
        "SELECT event_type AS step, "
        "CAST(COALESCE(cnt, 0) AS BIGINT) AS n_users, "
        "strftime(b, '%Y-%m-%d %H:%M:%S') AS cohort_week, "
        "last_value(cnt IGNORE NULLS) OVER (PARTITION BY event_type "
        "ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS period_offset, "
        "cnt IS NULL AS is_gap FROM j) g "
        # anomaly part: rolling z-score over gapless hourly counts —
        # mean/var from EXACT decimal rolling sums (the stats_agg
        # trick), z scaled to 1e-4 ticks (round(z*10000), the union
        # has no free double column); session_id carries the baseline
        # row count, is_gap the anomaly flag
        "UNION ALL "
        "SELECT 'anomaly', NULL, NULL, a.roll_n, NULL, a.step, "
        "a.n_users, a.cohort_week, a.zsc, a.is_anom FROM ("
        "WITH hc AS (SELECT event_type, "
        "time_bucket(INTERVAL 1 HOUR, ts) AS b, COUNT(*) AS cnt "
        "FROM events GROUP BY event_type, b), "
        "hspine AS (SELECT event_type, "
        "unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b "
        "FROM (SELECT event_type, MIN(b) AS mn, MAX(b) AS mx "
        "FROM hc GROUP BY event_type)), "
        "hd AS (SELECT s.event_type, s.b, "
        "CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt "
        "FROM hspine s LEFT JOIN hc c USING (event_type, b)), "
        "hz AS (SELECT event_type, b, cnt, "
        "COUNT(*) OVER w AS roll_n, "
        "CAST(SUM(CAST(cnt AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s, "
        "CAST(SUM(CAST(cnt AS DECIMAL(18,4)) * CAST(cnt AS DECIMAL(18,4))) "
        "OVER w AS DOUBLE) AS s2 FROM hd "
        "WINDOW w AS (PARTITION BY event_type ORDER BY b "
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) "
        "SELECT event_type AS step, cnt AS n_users, "
        "strftime(b, '%Y-%m-%d %H:%M:%S') AS cohort_week, roll_n, "
        "CASE WHEN roll_n >= 8 THEN "
        "CASE WHEN (s2 - s*s/roll_n)/(roll_n-1) > 0 THEN "
        "CAST(ROUND((CAST(cnt AS DOUBLE) - s/roll_n) "
        "/ sqrt((s2 - s*s/roll_n)/(roll_n-1)) * 10000) AS BIGINT) "
        "END END AS zsc, "
        "COALESCE(CASE WHEN roll_n >= 8 THEN "
        "CASE WHEN (s2 - s*s/roll_n)/(roll_n-1) > 0 THEN "
        "abs((CAST(cnt AS DOUBLE) - s/roll_n) "
        "/ sqrt((s2 - s*s/roll_n)/(roll_n-1))) > 2.5 "
        "ELSE FALSE END ELSE FALSE END, FALSE) AS is_anom "
        "FROM hz) a "
        # debounce part: first event per user per 30-minute-gap burst
        # (same lag + running-sum machinery as the sess part), with the
        # absorbed-follower count riding n_users
        "UNION ALL "
        "SELECT 'debounce', db.user_id, db.event_id, db.burst_id, NULL, "
        "NULL, db.n_suppressed, NULL, NULL, CAST(NULL AS BOOLEAN) FROM ("
        "SELECT user_id, event_id, burst_id, "
        "COUNT(*) OVER (PARTITION BY user_id, burst_id) - 1 AS n_suppressed, "
        "row_number() OVER (PARTITION BY user_id, burst_id "
        "ORDER BY ts ASC, event_id ASC) AS rn FROM ("
        "SELECT user_id, event_id, ts, "
        "CAST(SUM(new_burst) OVER (PARTITION BY user_id "
        "ORDER BY ts ASC, event_id ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "AS burst_id FROM ("
        "SELECT user_id, event_id, ts, CASE WHEN lag(epoch_us(ts)) OVER ("
        "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL "
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER ("
        "PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000 "
        "THEN 1 ELSE 0 END AS new_burst FROM events) t0) b) db "
        "WHERE db.rn = 1"
    ),
    "asof_join_orders": (
        "SELECT e.event_id, e.user_id, o.price FROM events e ASOF LEFT JOIN ("
        "SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS price FROM orders "
        "GROUP BY o_custkey, o_orderdate) o "
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"
    ),
    "q6_revenue_delta": (
        "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
        "CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, COUNT(*) AS cnt "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0"
    ),
    "q7_nation_volume": (
        "SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation, "
        + _REV + " AS revenue, COUNT(*) AS cnt "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
        "WHERE year(l_shipdate) = 1997 AND n1.n_name <> n2.n_name "
        "GROUP BY n1.n_name, n2.n_name"
    ),
    "q10_returned_items": (
        "SELECT c_custkey, c_name, c_mktsegment, " + _REV + " AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, c_mktsegment "
        "ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
    ),
    "q14_promo_revenue": (
        "SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN "
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) "
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0 / "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) "
        "AS promo_pct, COUNT(*) AS cnt "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'"
    ),
    "range_join_followup_orders": (
        "SELECT a.o_orderkey AS o_orderkey, COUNT(b.o_orderkey) AS n_followups "
        "FROM orders a LEFT JOIN orders b ON a.o_custkey = b.o_custkey "
        "AND b.o_orderdate > a.o_orderdate "
        "AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY "
        "GROUP BY a.o_orderkey"
    ),
    "scalar_funcs": (
        "SELECT o_orderkey AS key, 'math_date' AS part, "
        "abs(o_totalprice - 150000.0) AS dist, "
        "CAST(ceil(o_totalprice) AS BIGINT) AS ceil_p, "
        "CAST(floor(o_totalprice) AS BIGINT) AS floor_p, "
        "round(o_totalprice, 1) AS round_p, sqrt(o_totalprice) AS sqrt_p, "
        "round(ln(o_totalprice), 6) AS ln_p, "
        "CAST(year(o_orderdate) AS BIGINT) AS y, "
        "CAST(month(o_orderdate) AS BIGINT) AS m, "
        "CAST(day(o_orderdate) AS BIGINT) AS d, "
        "CAST(quarter(o_orderdate) AS BIGINT) AS q, "
        "strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month_start, "
        "CAST(NULL AS VARCHAR) AS uname, CAST(NULL AS VARCHAR) AS prefix, "
        "CAST(NULL AS VARCHAR) AS dashed, CAST(NULL AS VARCHAR) AS joined, "
        "CAST(NULL AS VARCHAR) AS padded, CAST(NULL AS BIGINT) AS name_len, "
        "CAST(NULL AS VARCHAR) AS redacted, "
        "CAST(NULL AS VARCHAR) AS unhtml, "
        + _ARRNULLS +
        " FROM orders "
        "UNION ALL "
        "SELECT c_custkey AS key, 'string' AS part, "
        "CAST(NULL AS DOUBLE) AS dist, CAST(NULL AS BIGINT) AS ceil_p, "
        "CAST(NULL AS BIGINT) AS floor_p, CAST(NULL AS DOUBLE) AS round_p, "
        "CAST(NULL AS DOUBLE) AS sqrt_p, CAST(NULL AS DOUBLE) AS ln_p, "
        "CAST(NULL AS BIGINT) AS y, CAST(NULL AS BIGINT) AS m, "
        "CAST(NULL AS BIGINT) AS d, CAST(NULL AS BIGINT) AS q, "
        "CAST(NULL AS VARCHAR) AS month_start, "
        "upper(c_name) AS uname, substring(c_name, 1, 8) AS prefix, "
        "replace(c_name, '#', '-') AS dashed, "
        "concat_ws('|', c_mktsegment, c_name) AS joined, "
        "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded, "
        "CAST(length(c_name) AS BIGINT) AS name_len, "
        "regexp_replace(regexp_replace(regexp_replace("
        "concat_ws(' ', lpad(CAST(c_custkey AS VARCHAR), 10, '0'), 'contact:', "
        "concat(lower(c_mktsegment), '@example.com')), "
        "'[\\w.+-]+@[\\w-]+\\.[\\w.]+', '<EMAIL>', 'g'), "
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), "
        "'\\b(?:\\d[ .-]?){7,14}\\d\\b', '<PHONE>', 'g') AS redacted, "
        "trim(regexp_replace(replace(replace(replace(replace(replace(replace("
        "regexp_replace(concat('<p class=\"x\">', c_name, "
        "'</p> &amp; <b>seg:</b> &lt;', c_mktsegment, '&gt;'), "
        "'<[^>]*>', ' ', 'g'), "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        "'&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'), "
        "'\\s+', ' ', 'g')) AS unhtml, "
        + _ARRNULLS +
        " FROM customer "
        "UNION ALL "
        "SELECT vec_id AS key, 'array' AS part, "
        + _SCALNULLS +
        ", CAST(len(embedding) AS BIGINT) AS dim, "
        "ROUND((embedding::DOUBLE[])[1], 6) AS first_el, "
        "ROUND(list_sum(list_slice(embedding::DOUBLE[], 1, 8)), 6) AS head_sum, "
        "ROUND(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 6) AS max_abs, "
        "CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS BIGINT) AS n_pos "
        "FROM embeddings WHERE vec_id < 1000"
    ),
    "stats_agg_orders": (
        "WITH b AS (SELECT o_orderpriority, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * "
        "CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2, "
        "MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, "
        "COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS cnt_open, "
        "COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS cnt_filled, "
        "COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS cnt_partial "
        "FROM orders GROUP BY o_orderpriority) "
        "SELECT 'stats' AS part, o_orderpriority, cnt, "
        "ROUND(s / cnt, 4) AS mean_price, "
        "ROUND(sqrt((s2 - s * s / cnt) / (cnt - 1)), 4) AS stddev_price, "
        "min_price, max_price, cnt_open, cnt_filled, cnt_partial, "
        "CAST(NULL AS BIGINT) AS o_orderkey, "
        "CAST(NULL AS DOUBLE) AS o_totalprice FROM b "
        "UNION ALL "
        "SELECT 'topk' AS part, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), "
        "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
        "CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), "
        "CAST(NULL AS BIGINT), o_orderkey, o_totalprice FROM ("
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100) t "
        # dq part: the one-pass expectations report — each constraint's
        # violation count stated as plain SQL aggregates
        "UNION ALL "
        "SELECT 'dq' AS part, dq.constraint, dq.violations, "
        "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
        "CAST(NULL AS DOUBLE), "
        "CAST(CASE WHEN dq.violations = 0 THEN 1 ELSE 0 END AS BIGINT), "
        "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), dq.total, "
        "CAST(NULL AS DOUBLE) FROM ("
        "SELECT 'not_null(o_orderkey)' AS constraint, "
        "CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) "
        "AS violations, COUNT(*) AS total FROM orders "
        "UNION ALL SELECT 'unique(o_orderkey)', "
        "COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey), COUNT(*) FROM orders "
        "UNION ALL SELECT 'in(o_orderstatus)', "
        "COUNT(CASE WHEN o_orderstatus IS NOT NULL "
        "AND o_orderstatus NOT IN ('O','F','P') THEN 1 END), COUNT(*) FROM orders "
        "UNION ALL SELECT 'range(o_totalprice)', "
        "COUNT(CASE WHEN o_totalprice IS NOT NULL "
        "AND o_totalprice NOT BETWEEN 0 AND 600000 THEN 1 END), COUNT(*) "
        "FROM orders "
        "UNION ALL SELECT 'regex(o_orderpriority)', "
        "COUNT(CASE WHEN o_orderpriority IS NOT NULL "
        "AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END), "
        "COUNT(*) FROM orders "
        "UNION ALL SELECT 'quantile(o_totalprice,0.5)', "
        "CASE WHEN quantile_cont(o_totalprice, 0.5) "
        "BETWEEN 1000 AND 400000 THEN 0 ELSE 1 END, "
        "COUNT(*) FROM orders) dq"
    ),
    "rollup_events_hourly": (
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') "
        "AS bucket_start, event_type, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value, "
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 4) "
        "AS mean_value, "
        "TRUE AS users_within_5pct, "
        "TRUE AS p95_in_rank_band "
        "FROM events GROUP BY bucket_start, event_type"
    ),
    "parse_objs_keep_original": (
        "SELECT event_id, CASE WHEN NOT json_valid(raw) THEN raw "
        "ELSE json_extract_string(raw, '$.k') END AS k_or_raw FROM ("
        "SELECT event_id, CASE WHEN event_id % 10 = 0 THEN 'not json' "
        "ELSE props END AS raw FROM events) t"
    ),
    "ngram_contamination_docs": (
        "WITH tok AS (SELECT doc_id, "
        "string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents), "
        "grams AS (SELECT doc_id, unnest(list_distinct("
        "[array_to_string(toks[i:i+7], ' ') "
        "for i in range(1, greatest(len(toks) - 7, 1) + 1)])) AS g FROM tok), "
        "bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0), "
        "hits AS (SELECT doc_id, COUNT(*) AS n_contaminated "
        "FROM grams JOIN bench USING (g) WHERE doc_id % 20 <> 0 GROUP BY doc_id), "
        # semantic leg: brute-force per-bench argmax over the corpus,
        # 6-dp rounding BEFORE the argmax, ties to lowest corpus id
        "semall AS (SELECT b.vec_id AS doc_id, c.vec_id AS match_id, "
        "ROUND(list_cosine_similarity(b.embedding::DOUBLE[], "
        "c.embedding::DOUBLE[]), 6) AS mc, "
        "row_number() OVER (PARTITION BY b.vec_id ORDER BY "
        "ROUND(list_cosine_similarity(b.embedding::DOUBLE[], "
        "c.embedding::DOUBLE[]), 6) DESC, c.vec_id ASC) AS r "
        "FROM embeddings b CROSS JOIN embeddings c "
        "WHERE b.vec_id % 20 = 0 AND c.vec_id % 20 <> 0) "
        "SELECT 'ngram' AS part, d.doc_id, "
        "CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated, "
        "COALESCE(h.n_contaminated, 0) > 0 AS contaminated, "
        "CAST(NULL AS BIGINT) AS match_id, CAST(NULL AS DOUBLE) AS max_cosine "
        "FROM documents d LEFT JOIN hits h USING (doc_id) WHERE d.doc_id % 20 <> 0 "
        "UNION ALL "
        "SELECT 'sem' AS part, doc_id, CAST(NULL AS BIGINT) AS n_contaminated, "
        "mc >= 0.92 AS contaminated, CAST(match_id AS BIGINT) AS match_id, "
        "mc AS max_cosine FROM semall WHERE r = 1"
    ),
    "hash_split_documents": (
        # DSIR leg CTEs: hashed unigram+bigram buckets (2 md5 nibbles),
        # raw + target (lang='en') histograms as frozen 256-slot
        # arrays, Laplace-smoothed ln-ratio fold per doc, seeded
        # portable Gumbel noise, top-100 threshold — the full
        # operators/dsir.py chain restated
        "WITH dt AS (SELECT doc_id, lang, list_filter("
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') "
        "AS T FROM documents), "
        "dg AS (SELECT doc_id, lang, list_transform("
        "list_concat(T, list_transform(range(1, greatest(len(T)-1,0)+1), "
        "i -> T[i] || ' ' || T[i+1])), g -> "
        "(strpos('0123456789abcdef', substr(md5(g),1,1))-1)*16 + "
        "(strpos('0123456789abcdef', substr(md5(g),2,1))-1)) AS GB FROM dt), "
        "dhr AS (SELECT b, count(*) AS c FROM ("
        "SELECT unnest(GB) AS b FROM dg) GROUP BY b), "
        "dht AS (SELECT b, count(*) AS c FROM ("
        "SELECT unnest(GB) AS b FROM dg WHERE lang = 'en') GROUP BY b), "
        "dar AS (SELECT list(coalesce(dhr.c, 0) ORDER BY r.b) AS H, "
        "sum(coalesce(dhr.c, 0)) AS tot FROM range(256) r(b) "
        "LEFT JOIN dhr ON dhr.b = r.b), "
        "dat AS (SELECT list(coalesce(dht.c, 0) ORDER BY r.b) AS H, "
        "sum(coalesce(dht.c, 0)) AS tot FROM range(256) r(b) "
        "LEFT JOIN dht ON dht.b = r.b), "
        "dky AS (SELECT doc_id, logw, logw + (-ln(-ln("
        "(CAST('0x' || substr(md5('dsir1:' || CAST(doc_id AS VARCHAR)), "
        "1, 15) AS BIGINT) + 0.5) / 1152921504606846976.0))) AS ky FROM ("
        # COALESCE: list_sum over an empty gram list is NULL in DuckDB
        # while Spark's 0.0-seeded fold returns 0.0 — a token-less doc
        # must score 0.0 on both engines
        "SELECT doc_id, COALESCE(list_sum(list_transform(GB, b -> "
        "ln((dat.H[b+1] + 1.0)/(dat.tot + 256.0)) - "
        "ln((dar.H[b+1] + 1.0)/(dar.tot + 256.0)))), 0.0) AS logw "
        "FROM dg CROSS JOIN dar CROSS JOIN dat) w), "
        "dkth AS (SELECT min(ky) AS th FROM ("
        "SELECT ky FROM dky ORDER BY ky DESC LIMIT 100)), "
        # token-budget selection: the DEFINITIONAL one-window cumsum —
        # equals the bucketed distributed form because fixed-width
        # score buckets order consistently with (q DESC, doc_id ASC)
        "bq AS (SELECT doc_id, "
        f"{_QUALITY_DUCK} AS q, CAST(len({_TOKS}) AS BIGINT) AS tk "
        "FROM documents), "
        "bcum AS (SELECT doc_id, CAST(SUM(tk) OVER ("
        "ORDER BY q DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) "
        "AS budget_cum_tokens FROM bq) "
        "SELECT doc_id, bucket, CASE WHEN bucket < 205 THEN 'train' "
        "WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split, "
        "wds_bucket, wds_rate, wds_bucket < wds_rate AS wds_keep, "
        "bcum.budget_cum_tokens, "
        "bcum.budget_cum_tokens <= 10000 AS budget_keep, "
        "strat_rank, strat_rank <= 16 AS in_eval_16, shard, "
        "CAST(row_number() OVER (PARTITION BY shard ORDER BY eh ASC) "
        "AS BIGINT) AS pos_in_shard, "
        "ROUND(dky.logw, 6) AS dsir_logw, ROUND(dky.ky, 6) AS dsir_key, "
        "dky.ky >= dkth.th AS dsir_keep FROM ("
        "SELECT doc_id, CAST(("
        "(strpos('0123456789abcdef', substr(md5('1:' || CAST(doc_id AS "
        "VARCHAR)), 1, 1)) - 1) * 4096 + "
        "(strpos('0123456789abcdef', substr(md5('1:' || CAST(doc_id AS "
        "VARCHAR)), 2, 1)) - 1) * 256 + "
        "(strpos('0123456789abcdef', substr(md5('1:' || CAST(doc_id AS "
        "VARCHAR)), 3, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(md5('1:' || CAST(doc_id AS "
        "VARCHAR)), 4, 1)) - 1)) % 8 AS INTEGER) AS shard, "
        "md5('1:' || CAST(doc_id AS VARCHAR)) AS eh, "
        "CAST((strpos('0123456789abcdef', "
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) "
        "AS INTEGER) AS bucket, "
        "CAST((strpos('0123456789abcdef', "
        "substr(md5('wds|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', "
        "substr(md5('wds|' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) "
        "AS INTEGER) AS wds_bucket, "
        "CAST(CASE lang WHEN 'en' THEN 230 WHEN 'de' THEN 128 "
        "WHEN 'fr' THEN 128 WHEN 'es' THEN 64 WHEN 'zh' THEN 32 "
        "ELSE 0 END AS INTEGER) AS wds_rate, "
        "CAST(row_number() OVER (PARTITION BY lang "
        "ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)) ASC) AS BIGINT) "
        "AS strat_rank "
        "FROM documents) t "
        "JOIN dky USING (doc_id) JOIN bcum USING (doc_id) CROSS JOIN dkth"
    ),
    "bm25_search_docs": (
        # round 14: pd plants the zh docs, rtok/qt routes the LEXICAL
        # grain by script (char bigrams for CJK rows — the Lucene-CJK
        # grain); dtok stays WORD grain for the q prefixes only — the
        # rrf leg's hashed-TF vectors route by script (hv/qh CTEs)
        # matching the Spark side's routed hashed_tf_expr
        "WITH pd AS (SELECT doc_id, "
        "CASE WHEN doc_id % 250 = 61 THEN "
        f"'{_BM_ZH_BASE}' || CAST(doc_id // 250 AS VARCHAR) "
        "ELSE text END AS text FROM documents), "
        "dtok AS (SELECT doc_id, "
        f"{_TOKS} AS T FROM pd), "
        "rt0 AS (SELECT doc_id, "
        + gopher_cjk_toks_duck_sql("text")
        + " AS C, "
        f"{_TOKS} AS W, {_MH_IS_CJK} AS CJ FROM pd), "
        "rtok AS (SELECT doc_id, CASE WHEN CJ THEN "
        + _duck_grams("C", 2)
        + " ELSE W END AS T FROM rt0), "
        "post AS (SELECT doc_id, term, "
        "CAST(len(list_filter(T, x -> x = term)) AS BIGINT) AS tf, "
        "CAST(len(T) AS BIGINT) AS dl FROM ("
        "SELECT doc_id, T, unnest(list_distinct(T)) AS term FROM rtok) "
        "WHERE term <> ''), "
        "stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        "CAST(SUM(len(T)) AS DOUBLE) / COUNT(*) AS avgdl FROM rtok), "
        "q AS (SELECT doc_id AS query_id, "
        "array_to_string(T[1:8], ' ') AS query_text FROM dtok "
        "JOIN pd USING (doc_id) WHERE doc_id < 5 "
        f"UNION ALL SELECT 100, '{_BM_ZH_BASE[4:16]}'), "
        "qt0 AS (SELECT query_id, query_text, "
        + gopher_cjk_toks_duck_sql("query_text")
        + " AS QC, "
        + _cjk_route_sqls("query_text", "duck")[0]
        + " AS QCJ FROM q), "
        "qtok AS (SELECT query_id, CASE WHEN QCJ THEN "
        + _duck_grams("QC", 2)
        + " ELSE regexp_split_to_array(lower(trim(query_text)), '\\s+') "
        "END AS T FROM qt0), "
        "qterm AS (SELECT query_id, term, "
        "CAST(len(list_filter(T, x -> x = term)) AS DOUBLE) AS qtf FROM ("
        "SELECT query_id, T, unnest(list_distinct(T)) AS term FROM qtok) "
        "WHERE term <> ''), "
        "m AS (SELECT p.doc_id, p.term, p.tf, p.dl, qt.query_id, qt.qtf "
        "FROM post p JOIN qterm qt USING (term)), "
        "dfr AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df "
        "FROM m GROUP BY term), "
        "sc AS (SELECT query_id, doc_id, ROUND(SUM("
        "qtf * ln(1 + (n - df + 0.5) / (df + 0.5)) * "
        "(tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))"
        "), 6) AS score FROM m JOIN dfr USING (term) CROSS JOIN stats "
        "GROUP BY query_id, doc_id), "
        "bm AS (SELECT query_id, doc_id, score, "
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank "
        "FROM sc QUALIFY rank <= 10), "
        # hashed-TF vectors (same md5-bucket arithmetic as
        # functions/text.py hashed_tf_expr) for corpus docs and the
        # 8-token query texts, zero vectors dropped on both engines
        "hv AS (SELECT doc_id, "
        "[CAST(len(list_filter(ID, j -> j = i)) AS DOUBLE) "
        "for i in range(0, 64)] AS v FROM ("
        "SELECT doc_id, list_transform(TT, t -> "
        "((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64) AS ID "
        "FROM (SELECT doc_id, list_filter(CASE WHEN CJ THEN C ELSE W END, "
        "t -> t <> '') AS TT FROM rt0) a WHERE len(TT) > 0) b), "
        "qh AS (SELECT query_id, "
        "[CAST(len(list_filter(ID, j -> j = i)) AS DOUBLE) "
        "for i in range(0, 64)] AS qv FROM ("
        "SELECT query_id, list_transform(TT, t -> "
        "((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64) AS ID "
        "FROM (SELECT query_id, list_filter(CASE WHEN QCJ THEN QC ELSE "
        "regexp_split_to_array(lower(trim(query_text)), '\\s+') END, "
        "t -> t <> '') AS TT FROM qt0) a WHERE len(TT) > 0) b), "
        "cosr AS (SELECT query_id, doc_id, rank FROM ("
        "SELECT qh.query_id, hv.doc_id, "
        "CAST(row_number() OVER (PARTITION BY qh.query_id ORDER BY "
        "ROUND(list_cosine_similarity(qh.qv, hv.v), 6) DESC, "
        "hv.doc_id ASC) AS BIGINT) AS rank "
        "FROM qh CROSS JOIN hv) t WHERE rank <= 10), "
        "un AS (SELECT query_id, doc_id, rank FROM bm "
        "UNION ALL SELECT query_id, doc_id, rank FROM cosr), "
        "fus AS (SELECT query_id, doc_id, "
        "ROUND(SUM(1.0 / (60 + rank)), 9) AS score, "
        "CAST(COUNT(*) AS BIGINT) AS n_lists FROM un "
        "GROUP BY query_id, doc_id), "
        "rrf AS (SELECT query_id, doc_id, score, "
        "CAST(row_number() OVER (PARTITION BY query_id "
        "ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank, n_lists "
        "FROM fus QUALIFY rank <= 10) "
        "SELECT 'bm25' AS part, query_id, doc_id, score, rank, "
        "CAST(NULL AS BIGINT) AS n_lists FROM bm "
        "UNION ALL "
        "SELECT 'rrf', query_id, doc_id, score, rank, n_lists FROM rrf "
        "UNION ALL "
        # the persisted-index probe must be row-identical to the
        # in-memory ranking, so its oracle IS the bm ranking re-tagged
        "SELECT 'bm25idx', query_id, doc_id, score, rank, "
        "CAST(NULL AS BIGINT) FROM bm"
    ),
    "text_stats": (
        # round 16: WITH RECURSIVE — the staged twins become CTEs so
        # the FMM seg walk (xseg*, _seg_duck_ctes) can join the
        # word-grain token array behind gopher_pass_seg
        "WITH RECURSIVE "
        "ts0 AS (SELECT *, " + _ts_text_sql() + " AS JT FROM documents), "
        "ts1 AS (SELECT *, string_split(text, chr(10)) AS L, "
        f"CASE WHEN len({_TOKS}) >= 2 THEN "
        f"[array_to_string(({_TOKS})[i:i+1], ' ') "
        f"for i in range(1, len({_TOKS}))] "
        "ELSE [] END AS G2, "
        + _jt_lang_sql("JT") + " AS JLANG FROM ts0), "
        "tsrc AS MATERIALIZED (SELECT *, " + _JT_RT_DUCK + " AS RT "
        "FROM ts1), "
        + _seg_duck_ctes(
            src="tsrc", text_sql="JT", route_sql=_JT_CJK_DUCK,
            prefix="xseg", emit_toks=True,
        )
        + " SELECT doc_id, "
        f"CAST(len({_TOKS}) AS BIGINT) AS n_words, "
        "CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_tokens, "
        "CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
        " / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio, "
        f"CAST(len(list_filter({_TOKS}, t -> list_contains({_SW}, t))) AS DOUBLE)"
        f" / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) AS stopword_ratio, "
        f"0.4 * least(CAST(len({_TOKS}) AS DOUBLE) / 100.0, 1.0) "
        f"+ 0.4 * least((CAST(len(list_filter({_TOKS}, t -> list_contains({_SW}, t))) AS DOUBLE)"
        f" / CAST(greatest(len({_TOKS}), 1) AS DOUBLE)) * 5.0, 1.0) "
        "+ 0.2 * (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)"
        " / CAST(greatest(length(text), 1) AS DOUBLE)) * 10.0, 1.0)) AS quality, "
        f"ROUND(1.0 - CAST(len(list_distinct([array_to_string(({_TOKS})[i:i+2], ' ') "
        f"for i in range(1, greatest(len({_TOKS}) - 2, 1) + 1)])) AS DOUBLE) "
        f"/ CAST(greatest(len([array_to_string(({_TOKS})[i:i+2], ' ') "
        f"for i in range(1, greatest(len({_TOKS}) - 2, 1) + 1)]), 1) AS DOUBLE), 6) "
        "AS dup_3gram_ratio, "
        f"({_GOPHER_PASS_SQL}) AS gopher_pass, "
        # character-fraction repetition metrics (repetition_profile_sql)
        "ROUND(1.0 - CAST(len(list_distinct(L)) AS DOUBLE) "
        "/ CAST(greatest(len(L), 1) AS DOUBLE), 6) AS dup_line_frac, "
        "ROUND(CAST(coalesce(list_sum(list_transform(list_distinct(L), "
        "v -> (len(list_filter(L, x -> x = v)) - 1) * length(v))), 0) "
        "AS DOUBLE) / CAST(greatest(coalesce(list_sum(list_transform(L, "
        "x -> length(x))), 0), 1) AS DOUBLE), 6) AS dup_line_char_frac, "
        "ROUND(CASE WHEN len(G2) < 1 THEN 0.0 ELSE "
        "CAST(list_max(list_transform(list_distinct(G2), "
        "g -> len(list_filter(G2, x -> x = g)) * length(g))) AS DOUBLE) "
        "/ CAST(greatest(length(text), 1) AS DOUBLE) END, 6) "
        "AS top2gram_char_frac, "
        # round 11: jusText columns GENERATED from the same constants
        # the Spark expression compiles from; round 12: the planted-
        # text twin (JT), its predicted language (JLANG), and the
        # lang-ROUTED stoplist CASE are generated from the SAME tables
        # (_JT_LANG_TEXTS / LANG_MARKERS / STOPWORDS_BY_LANG)
        "JLANG AS jt_lang, "
        + justext_sql(
            f"concat('{_JT_HTML_PRE}', JT, '{_JT_HTML_POST}')",
            stop_tenths=1,
            stopwords=stopwords_for_lang_sql("JLANG"),
            cjk=_JT_CJK_DUCK,
        )["main_text"]
        + " AS main_text, "
        + justext_sql(
            f"concat('{_JT_HTML_PRE}', JT, '{_JT_HTML_POST}')",
            stop_tenths=1,
            stopwords=stopwords_for_lang_sql("JLANG"),
            cjk=_JT_CJK_DUCK,
        )["block_classes"]
        + " AS block_classes, "
        # round 13: char-grain routed Gopher over the planted text —
        # generated from the same thresholds/classes as the Spark side
        f"({_JT_GOPHER_ROUTED_DUCK}) AS gopher_pass_routed, "
        f"(({_JT_GOPHER_ROUTED_DUCK}) AND ({_TS_SEG_RULE_DUCK})) "
        "AS gopher_pass_seg "
        "FROM tsrc LEFT JOIN xsegf USING (doc_id)"
    ),
    # round 12: the classifier columns re-derive the ENTIRE logistic-
    # regression training as an unrolled CTE chain (logreg_train_sql —
    # quantized gradients make the two engines' weights bit-identical;
    # see operators/classifier.py) and score each doc with exact
    # integer micro-unit arithmetic. Generated-oracle discipline: the
    # trainer has independent numpy-reference + convergence pins in
    # tests/test_classifier.py, and the keep-count histogram is pinned
    # at sf0.1 there too.
    "lang_scores": (
        # WITH RECURSIVE: the round-15 seg twin is a per-position
        # recursion; every other CTE is plain and unaffected
        "WITH RECURSIVE "
        + logreg_train_sql(_GOPHER_PASS_SQL, dim=32)
        + ", clf_sc AS (SELECT fx.doc_id, "
        + logreg_apply_sql("fx.x", dim=32)
        + " AS clf_score FROM "
        + clf_features_sql(dim=32)
        + " fx, clf_wfin), "
        "ltt AS (SELECT doc_id, text, " + _jt_text_sql() + " AS LT "
        "FROM documents), "
        # round 13: scores + lang_pred over the PLANTED text twin (LT)
        # with the script-routed generated lang-ID — mirrors the Spark
        # side's __lt staging column-for-column
        "base AS (SELECT doc_id, "
        + ", ".join(
            f"{_lang_score_sql(lang, 'LT')} AS score_{lang}"
            for lang in DEFAULT_LANGS
        )
        + ", " + lang_id_duck_sql("LT") + " AS lang_pred, "
        + _bt_duck_cols()
        + " FROM ltt t), "
        + _seg_duck_ctes()
        + " SELECT base.*, s.seg_n_words, s.seg_md5, c.clf_score, "
        "ROUND(CAST(1.0 AS DOUBLE)/(CAST(1.0 AS DOUBLE) + "
        "exp(-(CAST(c.clf_score AS DOUBLE)/1e6))), 6) AS clf_prob, "
        "c.clf_score >= 0 AS clf_keep "
        "FROM base LEFT JOIN segf s USING (doc_id) "
        "JOIN clf_sc c USING (doc_id)"
    ),
    "dedup_exact_docs": (
        # round 14: planted width pairs + the GENERATED width-folded
        # fingerprint twin — the fold is the dedup key on both engines
        "WITH wd AS (SELECT doc_id, "
        + _wf_text_sql()
        + " AS text FROM documents) "
        "SELECT doc_id, "
        + fingerprint_sql("text", width_fold=True)
        + " AS fp, "
        + "array_to_string(" + winnow_fps_sql("text")
        + ", ',') AS winnow_fps, CAST(len("
        + winnow_fps_sql("text")
        + ") AS BIGINT) AS n_winnow_fps "
        "FROM wd QUALIFY row_number() OVER (PARTITION BY "
        + fingerprint_sql("text", width_fold=True)
        + " ORDER BY doc_id) = 1"
    ),
    "line_dedup_docs": (
        "WITH l AS (SELECT doc_id, "
        "unnest(string_split(text, chr(10))) AS line, "
        "unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i "
        "FROM documents), "
        "m AS (SELECT doc_id, i, line, "
        "COUNT(*) OVER (PARTITION BY md5(line)) AS n, "
        "row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, i) AS rn "
        "FROM l), "
        "cd AS (SELECT doc_id, "
        "COALESCE(string_agg(line, chr(10) ORDER BY i) "
        "FILTER (WHERE n < 2 OR rn = 1), '') AS text_dedup, "
        "COUNT(*) AS n_lines, "
        "CAST(SUM(CASE WHEN n < 2 OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_lines_kept "
        "FROM m GROUP BY doc_id), "
        "sd AS (SELECT doc_id, "
        "list_filter(L, (x, i) -> list_position(L, x) = i) AS U FROM ("
        "SELECT doc_id, string_split(text, chr(10)) AS L FROM documents) t), "
        "sa AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(text, '[.!?]+\\s+'), x -> trim(x) <> '') AS A "
        "FROM documents), "
        "sp AS (SELECT doc_id, i - 1 AS s0, "
        "md5(array_to_string(A[i:i+2], chr(1))) AS k "
        "FROM sa, UNNEST(range(1, greatest(len(A) - 2, 0) + 1)) AS u(i)), "
        "spw AS (SELECT doc_id, s0, "
        "COUNT(*) OVER (PARTITION BY k) AS nk, "
        "row_number() OVER (PARTITION BY k ORDER BY doc_id, s0) AS rn FROM sp), "
        "removed AS (SELECT DISTINCT doc_id, s0 + d AS sidx "
        "FROM spw, UNNEST(range(0, 3)) AS r(d) WHERE nk >= 2 AND rn > 1), "
        "sent AS (SELECT doc_id, i - 1 AS sidx, A[i] AS sent "
        "FROM sa, UNNEST(range(1, len(A) + 1)) AS u(i)), "
        "spd AS (SELECT s.doc_id, "
        "COALESCE(string_agg(s.sent, ' ' ORDER BY s.sidx) "
        "FILTER (WHERE r.doc_id IS NULL), '') AS text_spandedup, "
        "COUNT(*) AS n_sents, "
        "CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_sents_kept "
        "FROM sent s LEFT JOIN removed r "
        "ON s.doc_id = r.doc_id AND s.sidx = r.sidx "
        "GROUP BY s.doc_id), "
        # ExactSubstr grain: 8-token windows, md5 over \x01-joined
        # slices, keep-first by (doc, position) — mirrors
        # exact_substring_dedup(k=8) byte-for-byte
        "ta AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(text, '\\s+'), x -> x <> '') AS T "
        "FROM documents), "
        "tsp AS (SELECT doc_id, i - 1 AS s0, "
        "md5(array_to_string(T[i:i+7], chr(1))) AS k "
        "FROM ta, UNNEST(range(1, greatest(len(T) - 7, 0) + 1)) AS u(i)), "
        "tspw AS (SELECT doc_id, s0, "
        "COUNT(*) OVER (PARTITION BY k) AS nk, "
        "row_number() OVER (PARTITION BY k ORDER BY doc_id, s0) AS rn "
        "FROM tsp), "
        "trem AS (SELECT DISTINCT doc_id, s0 + d AS tidx "
        "FROM tspw, UNNEST(range(0, 8)) AS r(d) WHERE nk >= 2 AND rn > 1), "
        "tokn AS (SELECT doc_id, i - 1 AS tidx, T[i] AS tk "
        "FROM ta, UNNEST(range(1, len(T) + 1)) AS u(i)), "
        "tsd AS (SELECT t.doc_id, "
        "COALESCE(string_agg(t.tk, ' ' ORDER BY t.tidx) "
        "FILTER (WHERE r.doc_id IS NULL), '') AS text_substrdedup, "
        "COUNT(*) AS n_tokens, "
        "CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_tokens_kept "
        "FROM tokn t LEFT JOIN trem r "
        "ON t.doc_id = r.doc_id AND t.tidx = r.tidx "
        "GROUP BY t.doc_id), "
        # ROUTED ExactSubstr grain (round 15): synthesized all-CJK twin
        # text (shared family prefix + per-doc han tail), CHAR tokens,
        # 20-char windows, grain-tagged keys ('c20' + chr(2) prefix),
        # separator-free rebuild — mirrors exact_substring_dedup(
        # cjk=is_cjk_doc_expr, cjk_k=20) byte-for-byte
        "xsrc AS (SELECT doc_id, "
        + _xs_cjk_text_sql()
        + " AS xt FROM documents), "
        "xta AS (SELECT doc_id, "
        + gopher_cjk_toks_duck_sql("xt")
        + " AS C FROM xsrc), "
        "xsp AS (SELECT doc_id, i - 1 AS s0, "
        "md5('c20' || chr(2) || array_to_string(C[i:i+19], chr(1))) AS k "
        "FROM xta, UNNEST(range(1, greatest(len(C) - 19, 0) + 1)) AS u(i)), "
        "xspw AS (SELECT doc_id, s0, "
        "COUNT(*) OVER (PARTITION BY k) AS nk, "
        "row_number() OVER (PARTITION BY k ORDER BY doc_id, s0) AS rn "
        "FROM xsp), "
        "xrem AS (SELECT DISTINCT doc_id, s0 + d AS tidx "
        "FROM xspw, UNNEST(range(0, 20)) AS r(d) WHERE nk >= 2 AND rn > 1), "
        "xtok AS (SELECT doc_id, i - 1 AS tidx, C[i] AS tk "
        "FROM xta, UNNEST(range(1, len(C) + 1)) AS u(i)), "
        "xsd AS (SELECT t.doc_id, "
        "md5(COALESCE(string_agg(t.tk, '' ORDER BY t.tidx) "
        "FILTER (WHERE r.doc_id IS NULL), '')) AS xs_cjk_md5, "
        "COUNT(*) AS xs_cjk_n_tokens, "
        "CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS xs_cjk_n_kept "
        "FROM xtok t LEFT JOIN xrem r "
        "ON t.doc_id = r.doc_id AND t.tidx = r.tidx "
        "GROUP BY t.doc_id), "
        # c4 grain: synthesized punctuated lines (8-token chunks, '.'
        # on even chunks, planted javascript/lorem/brace marker lines)
        # cleaned by C4's line rules — mirrors c4_line_rules_expr
        "c4t AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') "
        "AS T FROM documents), "
        "c4l AS (SELECT doc_id, list_concat(list_concat(list_concat("
        "[array_to_string(T[i*8+1:i*8+8], ' ') || "
        "CASE WHEN i % 2 = 0 THEN '.' ELSE '' END "
        "for i in range(0, CAST(ceil(len(T)/8.0) AS INTEGER))], "
        "CASE WHEN doc_id % 17 = 0 THEN "
        "['click here to enable javascript now please.'] "
        "ELSE CAST([] AS VARCHAR[]) END), "
        "CASE WHEN doc_id % 23 = 0 THEN "
        "['lorem ipsum dolor sit amet consectetur adipiscing elit.'] "
        "ELSE CAST([] AS VARCHAR[]) END), "
        "CASE WHEN doc_id % 31 = 0 THEN "
        "['function f() { return 1; }'] ELSE CAST([] AS VARCHAR[]) END) "
        "AS LNS FROM c4t), "
        "c4 AS (SELECT doc_id, "
        "CAST(len(LNS) AS BIGINT) AS c4_n_lines, "
        "CAST(len(KPT) AS BIGINT) AS c4_n_kept, "
        "(len(KPT) >= 5 AND NOT contains(lower(FULLT), 'lorem ipsum') "
        "AND NOT contains(FULLT, '{')) AS c4_keep, "
        "md5(array_to_string(KPT, chr(10))) AS c4_clean_md5 FROM ("
        "SELECT doc_id, LNS, array_to_string(LNS, chr(10)) AS FULLT, "
        "list_filter(LNS, ln -> "
        "regexp_matches(ln, '[.!?][\"'']?\\s*$') "
        "AND len(list_filter(string_split_regex(trim(ln), '\\s+'), "
        "w -> w <> '')) >= 3 "
        "AND NOT contains(lower(ln), 'javascript')) AS KPT FROM c4l) x) "
        "SELECT cd.doc_id, cd.text_dedup, cd.n_lines, cd.n_lines_kept, "
        "array_to_string(sd.U, chr(10)) AS text_selfdedup, "
        "CAST(len(sd.U) AS BIGINT) AS n_lines_unique, "
        "spd.text_spandedup, spd.n_sents, spd.n_sents_kept, "
        "tsd.text_substrdedup, tsd.n_tokens, tsd.n_tokens_kept, "
        "xsd.xs_cjk_md5, xsd.xs_cjk_n_tokens, xsd.xs_cjk_n_kept, "
        "c4.c4_n_lines, c4.c4_n_kept, c4.c4_keep, c4.c4_clean_md5 "
        "FROM cd JOIN sd USING (doc_id) JOIN spd USING (doc_id) "
        "JOIN tsd USING (doc_id) JOIN xsd USING (doc_id) "
        "JOIN c4 USING (doc_id)"
    ),
    "curation_pipeline_docs": (
        # round 14: jd plants the _JT_LANG_TEXTS multilingual/CJK
        # slots (same literals as _jt_text_expr), jl stages the
        # routed language id, jr the script-routed token array — all
        # content CTEs below read the PLANTED text and the gopher
        # verdict routes by script (generated from the same rule
        # tables as the Spark side)
        "WITH jd AS (SELECT doc_id, lang, "
        + _cur_text_sql()
        + " AS text FROM documents), "
        "jl AS (SELECT doc_id, lang, text, "
        + lang_id_duck_sql("text")
        + " AS jlang FROM jd), "
        "jr AS (SELECT doc_id, lang, text, jlang, "
        + _CUR_RT_DUCK
        + " AS RT FROM jl), "
        "it AS (SELECT doc_id, "
        "CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS item "
        "FROM documents), "
        "urls AS (SELECT doc_id, "
        "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'http://' END "
        "|| CASE WHEN item % 20 = 15 THEN 'docs.example-site.net' "
        "WHEN item % 10 = 3 THEN 'hot.example-hub.org' "
        "WHEN item % 10 = 7 THEN 'example' || CAST(item AS VARCHAR) || '.co.uk' "
        "WHEN item % 10 = 4 THEN 'site' || CAST(item AS VARCHAR) || '.github.io' "
        "WHEN item % 10 = 6 THEN 'school' || CAST(item AS VARCHAR) || '.k12.ca.us' "
        "WHEN item % 10 = 9 THEN 'ads.tracker-farm.example' "
        "ELSE 'example' || CAST(item AS VARCHAR) || '.org' END "
        "|| '/item/' || CAST(item AS VARCHAR) "
        "|| CASE WHEN item % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' "
        "WHEN item % 4 = 1 THEN '?p=2#sec' ELSE '' END) AS u "
        "FROM it), "
        # the FULL normalize_url_expr regex chain restated (DuckDB
        # regexp_replace is first-match unless 'g'; Spark is global —
        # 'g' added exactly where multiple matches are possible), and
        # the PSL eTLD+1 CASE generated from the SAME snapshot tables
        # the Spark expression reads (operators/psl.py)
        "uhost AS (SELECT doc_id, u, "
        + _url_host_sql_for("u")
        + " AS h FROM urls), "
        "unorm AS (SELECT doc_id, "
        + _URL_NORM_SQL.format(u="u")
        + " AS norm, "
        + _psl_registered_domain_sql("h")
        + " AS dom, "
        # robots matches the RAW lowercased host (origin scope), not
        # the www-stripped PSL host h
        "lower(regexp_extract(u, "
        r"'^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS rawh, "
        # the URL's path(+query) for the robots verdict — '' -> '/'
        "CASE WHEN regexp_extract(u, '://[^/?#]*([^#]*)', 1) = '' THEN '/' "
        "ELSE regexp_extract(u, '://[^/?#]*([^#]*)', 1) END AS pth "
        "FROM uhost), "
        # NULL/'' domains are identity-less and always keep — the same
        # exemption domain_cap_flag applies (weburl.py); latent for the
        # all-well-formed synth URLs but the rule must not diverge
        "uflag AS (SELECT doc_id, dom AS domain, "
        # blocklist stage: the IN list is the SAME _BLOCKED_DOMAINS
        # tuple the Spark expression compiles from; identity-less
        # ('' / NULL) domains always keep, the cap-stage exemption
        "(dom IS NULL OR dom NOT IN ("
        + ", ".join(f"'{b}'" for b in _BLOCKED_DOMAINS)
        + ")) AS blocklist_ok, "
        # robots verdict CASE GENERATED from the same _ROBOTS_TXT rule
        # texts via the operator's own parse/compile functions
        + _robots_case_sql("rawh", "pth")
        + " AS robots_ok, "
        "row_number() OVER (PARTITION BY norm ORDER BY doc_id) = 1 "
        "AS url_keep, "
        "(dom IS NULL OR dom = '' OR "
        "row_number() OVER (PARTITION BY dom ORDER BY "
        "md5('1:' || CAST(doc_id AS VARCHAR))) <= 25) AS domain_keep "
        "FROM unorm), "
        # license stage: planted footers from the SAME _LIC_FOOTERS
        # table, screen regexes GENERATED from the same pattern tables
        # as the Spark expression (functions/text.py license_flags_sql)
        "licb AS (SELECT doc_id, text || CASE "
        + " ".join(
            f"WHEN doc_id % 20 = {m} THEN '{s}'" for m, s in _LIC_FOOTERS
        )
        + " ELSE '' END AS lt FROM jd), "
        "licf AS (SELECT doc_id, "
        + (lambda lf: (
            lf["has_copyright"] + " AS has_copyright, "
            + lf["rights_reserved"] + " AS rights_reserved, "
            + lf["license_name"] + " AS license_name, "
            + lf["license_ok"] + " AS license_ok"
        ))(license_flags_sql("lt"))
        + " FROM licb), "
        "tok AS (SELECT doc_id, RT AS toks FROM jr), "
        "toks AS (SELECT doc_id, t AS tk FROM ("
        "SELECT doc_id, unnest(toks) AS t FROM tok) u WHERE t <> ''), "
        "counts AS (SELECT tk, COUNT(*) AS c FROM toks GROUP BY tk), "
        "vocab AS (SELECT tk, c FROM (SELECT tk, c, row_number() OVER ("
        "ORDER BY c DESC, tk ASC) AS r FROM counts) v WHERE r <= 100), "
        "total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM counts), "
        "doclp AS (SELECT doc_id, "
        "ROUND(AVG(ln(COALESCE(CAST(v.c AS DOUBLE), 0.5) / total.n)), 6) "
        "AS lp FROM toks LEFT JOIN vocab v USING (tk) "
        "CROSS JOIN total GROUP BY doc_id), "
        "grams AS (SELECT doc_id, unnest(list_distinct("
        "[array_to_string(toks[i:i+7], ' ') "
        "for i in range(1, greatest(len(toks) - 7, 1) + 1)])) AS g FROM tok), "
        "bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0), "
        "hits AS (SELECT DISTINCT doc_id FROM grams JOIN bench USING (g) "
        "WHERE doc_id % 20 <> 0), "
        "base AS (SELECT doc_id, lang, jlang, "
        "doc_id % 20 = 0 AS is_benchmark, "
        f"({_CUR_GOPHER_ROUTED_DUCK}) AS gopher_ok, "
        "CASE WHEN jlang IN ("
        + ", ".join(f"'{l}'" for l in CJK_LANGS)
        + f") THEN ({_QUALITY_CJK_DUCK_RT}) ELSE ({_QUALITY_DUCK}) END AS qs, "
        "row_number() OVER (PARTITION BY "
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
        "ORDER BY doc_id) = 1 AS dup_ok "
        "FROM jr), "
        # adaptive per-language P25 quality cut (exact interpolated
        # quantile — restates adaptive_quality_filter's F.percentile)
        "cuts AS (SELECT lang, quantile_cont(qs, 0.25) AS cut "
        "FROM base GROUP BY lang), "
        # round 14: per-ROUTED-LANGUAGE adaptive P10 logprob cut (the
        # CCNet shape) over the script-routed unigram model — restates
        # adaptive_quality_filter's exact interpolated percentile
        "lpj AS (SELECT d.doc_id, d.lp, b.jlang FROM doclp d "
        "JOIN base b USING (doc_id)), "
        "lpcuts AS (SELECT jlang, quantile_cont(lp, 0.10) AS lpc "
        "FROM lpj GROUP BY jlang), "
        # round 15: the rank ANNOTATE stage — the same exact-integer
        # pr3 grid as top_terms' rank oracle, joined through the pure
        # crawl-source domain d<doc_id%19>.com (the rankdoc precedent)
        + _pagerank_duck_ctes(iters=3)
        + " SELECT b.doc_id, b.jlang AS doc_lang, "
        "uf.blocklist_ok, uf.robots_ok, uf.url_keep, "
        "uf.domain, uf.domain_keep, b.is_benchmark, "
        "h.doc_id IS NOT NULL AS contaminated, "
        "b.dup_ok, "
        "lf.has_copyright, lf.rights_reserved, lf.license_name, "
        "lf.license_ok, "
        "b.gopher_ok, b.qs >= 0.5 AS quality_ok, "
        "COALESCE(l.lp >= lc.lpc, FALSE) AS lp_ok, "
        "(uf.blocklist_ok AND uf.robots_ok AND uf.url_keep AND uf.domain_keep "
        "AND NOT b.is_benchmark AND h.doc_id IS NULL AND b.dup_ok "
        "AND lf.license_ok "
        "AND b.gopher_ok AND b.qs >= 0.5 "
        "AND COALESCE(l.lp >= lc.lpc, FALSE)) AS keep, "
        "CASE WHEN NOT uf.blocklist_ok THEN 'blocked' "
        "WHEN NOT uf.robots_ok THEN 'robots' "
        "WHEN NOT uf.url_keep THEN 'url_dup' "
        "WHEN NOT uf.domain_keep THEN 'domain_cap' "
        "WHEN b.is_benchmark THEN 'benchmark' "
        "WHEN h.doc_id IS NOT NULL THEN 'contaminated' "
        "WHEN NOT b.dup_ok THEN 'duplicate' "
        "WHEN NOT lf.license_ok THEN 'license' "
        "WHEN NOT b.gopher_ok THEN 'gopher' "
        "WHEN NOT b.qs >= 0.5 THEN 'quality' "
        "WHEN NOT COALESCE(l.lp >= lc.lpc, FALSE) THEN 'logprob' "
        "END AS drop_reason, "
        "ROUND(lc.lpc, 6) AS lp_cut, "
        "ROUND(c.cut, 6) AS lang_cut, b.qs >= c.cut AS adaptive_ok, "
        "CAST(p.u AS DOUBLE) / 1000000000 AS domain_rank "
        "FROM base b JOIN uflag uf USING (doc_id) "
        "JOIN licf lf USING (doc_id) "
        "LEFT JOIN hits h USING (doc_id) "
        "LEFT JOIN lpj l USING (doc_id) "
        "LEFT JOIN lpcuts lc ON lc.jlang = l.jlang "
        "LEFT JOIN cuts c USING (lang) "
        "LEFT JOIN pr3 p ON p.node = 'd' || CAST(b.doc_id % 19 AS VARCHAR) "
        "|| '.com'"
    ),
    "corpus_profile_docs": (
        "WITH s AS (SELECT source, lang, "
        f"CAST(len({_TOKS}) AS BIGINT) AS tok, "
        "CAST(length(text) AS BIGINT) AS chr, "
        f"{_QUALITY_DUCK} AS q, "
        f"CASE WHEN ({_GOPHER_PASS_SQL}) THEN 1 ELSE 0 END AS gp, "
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, "
        # round 13: pred is the script-routed generated lang-ID twin
        # (profile.py's lang_match uses the routed lang_id_expr)
        + lang_id_duck_sql("text")
        + " AS pred FROM documents), "
        "p AS (SELECT source, lang, tok, chr, q, gp, fp, pred FROM s) "
        "SELECT source, lang, COUNT(*) AS n_docs, "
        "CAST(SUM(tok) AS BIGINT) AS n_tokens, "
        "CAST(SUM(chr) AS BIGINT) AS n_chars, "
        "ROUND(CAST(SUM(tok) AS DOUBLE) / COUNT(*), 4) AS avg_tokens, "
        "ROUND(CAST(SUM(chr) AS DOUBLE) / COUNT(*), 4) AS avg_chars, "
        "ROUND(AVG(q), 4) AS quality_mean, "
        "ROUND(AVG(CAST(gp AS DOUBLE)), 4) AS gopher_pass_rate, "
        "ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 4) "
        "AS exact_dup_rate, "
        "ROUND(quantile_cont(tok, 0.5), 4) AS median_tokens, "
        "ROUND(quantile_cont(tok, 0.95), 4) AS p95_tokens, "
        "TRUE AS p_approx_within_5pct, "
        "ROUND(AVG(CAST(CASE WHEN lang = pred THEN 1 ELSE 0 END AS DOUBLE)), 4) "
        "AS lang_match_rate "
        "FROM p GROUP BY source, lang ORDER BY source, lang"
    ),
    "top_terms": (
        "WITH toks AS (SELECT doc_id, tok FROM ("
        f"SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) t "
        "WHERE tok <> ''), "
        "counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok), "
        "vocab AS (SELECT tok, c FROM (SELECT tok, c, row_number() OVER ("
        "ORDER BY c DESC, tok ASC) AS r FROM counts) v WHERE r <= 100), "
        "total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM counts), "
        "doclp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, "
        "ROUND(AVG(ln(COALESCE(CAST(v.c AS DOUBLE), 0.5) / total.n)), 6) "
        "AS mean_logprob FROM toks LEFT JOIN vocab v USING (tok) "
        "CROSS JOIN total GROUP BY doc_id), "
        "terms AS (SELECT tok AS token, COUNT(*) AS cnt FROM toks "
        f"WHERE NOT list_contains({_SW}, tok) "
        "GROUP BY tok ORDER BY cnt DESC, token ASC LIMIT 50), "
        # PMI collocations: in-row adjacent bigrams, min_count=5,
        # ln((cab/Nb)/((ca/Nt)(cb/Nt))) rounded BEFORE ordering —
        # mirrors operators/profile.py bigram_pmi exactly
        "tarr AS (SELECT list_filter("
        f"{_TOKS}, t -> t <> '') AS T FROM documents), "
        "btot AS (SELECT CAST(SUM(len(T)) AS DOUBLE) AS nt, "
        "CAST(SUM(greatest(len(T) - 1, 0)) AS DOUBLE) AS nb FROM tarr), "
        "bgr AS (SELECT T[i] AS a, T[i+1] AS b "
        "FROM tarr, UNNEST(range(1, greatest(len(T) - 1, 0) + 1)) AS u(i)), "
        "bcnt AS (SELECT a, b, COUNT(*) AS cab FROM bgr GROUP BY a, b "
        "HAVING COUNT(*) >= 5), "
        "pmis AS (SELECT concat_ws(' ', a, b) AS bigram, "
        "CAST(cab AS BIGINT) AS cnt, "
        "ROUND(ln((CAST(cab AS DOUBLE) / nb) / "
        "((CAST(ca.c AS DOUBLE) / nt) * (CAST(cb.c AS DOUBLE) / nt))), 6) "
        "AS pmi FROM bcnt "
        "JOIN counts ca ON ca.tok = bcnt.a "
        "JOIN counts cb ON cb.tok = bcnt.b CROSS JOIN btot "
        "ORDER BY pmi DESC, bigram ASC LIMIT 50), "
        # interpolated bigram LM (doclp2): round 15 — the part runs
        # over the PLANTED corpus (zh docs at doc_id % 200 in (61,
        # 161)) with SCRIPT-ROUTED token arrays (char grain for CJK
        # rows), so its unigram backoff model (cnt2/vocab2/total2) is
        # re-derived from the routed planted tokens rather than shared
        # with doclp. Same bigram construction per doc, model table =
        # count>=2 top-500 by (cab DESC, a, b) with the conditional
        # cab/c(a) folded in; score = ln(0.7*Pb + (1-0.7)*Pu) with the
        # same vocab-100/OOV-floor shape — mirrors
        # operators/profile.py bigram_logprob_scores(cjk=...) exactly
        "pd2 AS (SELECT doc_id, "
        + _cjk_dd_text_sql(200, 61, 161)
        + " AS text FROM documents), "
        "rt2 AS (SELECT doc_id, CASE WHEN "
        + _MH_IS_CJK
        + " THEN "
        + gopher_cjk_toks_duck_sql("text")
        + f" ELSE {_TOKS} END AS T0 FROM pd2), "
        "tarrd AS (SELECT doc_id, list_filter(T0, t -> t <> '') AS T "
        "FROM rt2), "
        "cnt2 AS (SELECT tk AS tok, COUNT(*) AS c "
        "FROM tarrd, UNNEST(T) AS u(tk) GROUP BY tk), "
        "vocab2 AS (SELECT tok, c FROM cnt2 "
        "ORDER BY c DESC, tok ASC LIMIT 100), "
        "total2 AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt2), "
        "bgrd AS (SELECT doc_id, T[i] AS a, T[i+1] AS b "
        "FROM tarrd, UNNEST(range(1, greatest(len(T) - 1, 0) + 1)) AS u(i)), "
        "bc2 AS (SELECT a, b, COUNT(*) AS cab FROM bgrd GROUP BY a, b "
        "HAVING COUNT(*) >= 2), "
        "btab AS (SELECT a, b, CAST(cab AS DOUBLE) / CAST(ca.c AS DOUBLE) "
        "AS pb FROM (SELECT a, b, cab, row_number() OVER ("
        "ORDER BY cab DESC, a ASC, b ASC) AS r FROM bc2) bt "
        "JOIN cnt2 ca ON ca.tok = bt.a WHERE r <= 500), "
        "doclp2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
        "ROUND(AVG(ln(CAST(0.7 AS DOUBLE) * COALESCE(pb, 0.0) + "
        "(CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * "
        "(COALESCE(CAST(v.c AS DOUBLE), 0.5) / total2.n))), 6) AS mlp2 "
        "FROM bgrd LEFT JOIN btab USING (a, b) "
        "LEFT JOIN vocab2 v ON v.tok = bgrd.b CROSS JOIN total2 "
        "GROUP BY doc_id), "
        # interpolated trigram LM (doclp3): round 16 — one order up
        # over the SAME planted routed corpus; conditionals fold
        # against UNPRUNED lower-order counts (bc2full for P(w|a,b),
        # cnt2 for P(w|b) inside btab), the pruned tables keep the
        # same (count DESC, key ASC) top-N discipline, and the
        # three-term interpolation writes every literal as an explicit
        # DOUBLE so both engines run identical IEEE ops — mirrors
        # operators/profile.py trigram_logprob_scores exactly
        "tgd AS (SELECT doc_id, T[i] AS a, T[i+1] AS b, T[i+2] AS w "
        "FROM tarrd, UNNEST(range(1, greatest(len(T) - 2, 0) + 1)) "
        "AS u3(i)), "
        "bc2full AS (SELECT a, b, COUNT(*) AS cab FROM bgrd "
        "GROUP BY a, b), "
        "tc3 AS (SELECT a, b, w, COUNT(*) AS c3 FROM tgd "
        "GROUP BY a, b, w HAVING COUNT(*) >= 2), "
        "ttab AS (SELECT a, b, w, CAST(c3 AS DOUBLE) / "
        "CAST(bf.cab AS DOUBLE) AS pt FROM (SELECT a, b, w, c3, "
        "row_number() OVER (ORDER BY c3 DESC, a ASC, b ASC, w ASC) "
        "AS r FROM tc3) tt JOIN bc2full bf USING (a, b) "
        "WHERE r <= 500), "
        "doclp3 AS (SELECT doc_id, "
        "CAST(COUNT(*) AS BIGINT) AS n_trigrams, "
        "ROUND(AVG(ln(CAST(0.5 AS DOUBLE) * COALESCE(pt, 0.0) + "
        "CAST(0.3 AS DOUBLE) * COALESCE(b2.pb, 0.0) + "
        "(CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE) - "
        "CAST(0.3 AS DOUBLE)) * "
        "(COALESCE(CAST(v.c AS DOUBLE), 0.5) / total2.n))), 6) AS mlp3 "
        "FROM tgd LEFT JOIN ttab USING (a, b, w) "
        "LEFT JOIN (SELECT a AS pa, b AS pw, pb FROM btab) b2 "
        "ON b2.pa = tgd.b AND b2.pw = tgd.w "
        "LEFT JOIN vocab2 v ON v.tok = tgd.w CROSS JOIN total2 "
        "GROUP BY doc_id), "
        # round 13: the PageRank iteration, exact-integer unrolled
        + _pagerank_duck_ctes(iters=3)
        + " SELECT 'term' AS part, token, cnt, CAST(NULL AS BIGINT) AS doc_id, "
        "CAST(NULL AS BIGINT) AS n_tokens, "
        "CAST(NULL AS DOUBLE) AS mean_logprob, CAST(NULL AS DOUBLE) AS pmi, "
        "CAST(NULL AS DOUBLE) AS rank "
        "FROM terms "
        "UNION ALL "
        "SELECT 'doclp' AS part, CAST(NULL AS VARCHAR) AS token, "
        "CAST(NULL AS BIGINT) AS cnt, doc_id, n_tokens, mean_logprob, "
        "CAST(NULL AS DOUBLE) AS pmi, CAST(NULL AS DOUBLE) AS rank "
        "FROM doclp "
        "UNION ALL "
        "SELECT 'pmi' AS part, bigram AS token, cnt, "
        "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens, "
        "CAST(NULL AS DOUBLE) AS mean_logprob, pmi, "
        "CAST(NULL AS DOUBLE) AS rank FROM pmis "
        "UNION ALL "
        # exact heavy hitters: the engine's sketch+recount must land
        # exactly on the plain GROUP BY ... HAVING answer
        "SELECT 'heavy' AS part, tok AS token, COUNT(*) AS cnt, "
        "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens, "
        "CAST(NULL AS DOUBLE) AS mean_logprob, CAST(NULL AS DOUBLE) AS pmi, "
        "CAST(NULL AS DOUBLE) AS rank "
        "FROM toks GROUP BY tok "
        "HAVING COUNT(*) > 0.005 * (SELECT COUNT(*) FROM toks) "
        "UNION ALL "
        "SELECT 'doclp2' AS part, CAST(NULL AS VARCHAR) AS token, "
        "CAST(NULL AS BIGINT) AS cnt, doc_id, n_bigrams AS n_tokens, "
        "mlp2 AS mean_logprob, CAST(NULL AS DOUBLE) AS pmi, "
        "CAST(NULL AS DOUBLE) AS rank FROM doclp2 "
        "UNION ALL "
        "SELECT 'doclp3' AS part, CAST(NULL AS VARCHAR) AS token, "
        "CAST(NULL AS BIGINT) AS cnt, doc_id, n_trigrams AS n_tokens, "
        "mlp3 AS mean_logprob, CAST(NULL AS DOUBLE) AS pmi, "
        "CAST(NULL AS DOUBLE) AS rank FROM doclp3 "
        "UNION ALL "
        "SELECT 'rank' AS part, node AS token, "
        "CAST(NULL AS BIGINT) AS cnt, CAST(NULL AS BIGINT) AS doc_id, "
        "CAST(NULL AS BIGINT) AS n_tokens, "
        "CAST(NULL AS DOUBLE) AS mean_logprob, CAST(NULL AS DOUBLE) AS pmi, "
        "CAST(u AS DOUBLE) / 1000000000 AS rank FROM pr3 "
        "UNION ALL "
        # round 14: attach_domain_rank's broadcast join restated — the
        # doc's eTLD+1 is the pure function 'd{doc_id%19}.com' of the
        # synth URL, joined to the final integer-grid round
        "SELECT 'rankdoc' AS part, CAST(NULL AS VARCHAR) AS token, "
        "CAST(NULL AS BIGINT) AS cnt, d.doc_id, "
        "CAST(NULL AS BIGINT) AS n_tokens, "
        "CAST(NULL AS DOUBLE) AS mean_logprob, CAST(NULL AS DOUBLE) AS pmi, "
        "CAST(p.u AS DOUBLE) / 1000000000 AS rank FROM documents d "
        "JOIN pr3 p ON p.node = 'd' || CAST(d.doc_id % 19 AS VARCHAR) "
        "|| '.com'"
    ),
    "ngram_jaccard_adjacent": (
        "WITH s AS (SELECT doc_id, list_distinct(list_transform("
        "range(1, greatest(len(T) - 2, 1) + 1), "
        "i -> concat_ws(' ', T[i], T[i+1], T[i+2]))) AS sh FROM ("
        "SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS T "
        "FROM documents) t) "
        "SELECT 'adjacent' AS part, a.doc_id AS id_a, b.doc_id AS id_b, "
        "ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6) AS jaccard "
        "FROM s a JOIN s b ON b.doc_id = a.doc_id + 1 "
        "UNION ALL "
        # ppjoin's literal quadratic twin: the prefix filter's
        # completeness is checked against every pair, not a blocking
        "SELECT 'ppjoin' AS part, id_a, id_b, ROUND(jac, 6) AS jaccard "
        "FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
        "(CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE) - "
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) AS jac "
        "FROM s a JOIN s b ON a.doc_id < b.doc_id "
        "WHERE a.doc_id < 500 AND b.doc_id < 500 "
        "AND len(a.sh) > 0 AND len(b.sh) > 0) p WHERE jac >= 0.5"
    ),
    "embedding_cosine_topk": (
        "WITH hv AS (SELECT doc_id, "
        "[CAST(len(list_filter(ID, j -> j = i)) AS DOUBLE) "
        "for i in range(0, 64)] AS v FROM ("
        "SELECT doc_id, list_transform(T, t -> "
        "((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64) AS ID "
        "FROM (SELECT doc_id, "
        f"list_filter({_TOKS}, t -> t <> '') AS T "
        "FROM documents WHERE doc_id < 100) a WHERE len(T) > 0) b) "
        "SELECT 'emb' AS part, query_id, neighbor_id, cosine, rank FROM ("
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, "
        "c.vec_id ASC) AS rank "
        "FROM embeddings q CROSS JOIN embeddings c "
        "WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id) t WHERE rank <= 5 "
        "UNION ALL "
        "SELECT 'hashedtf' AS part, query_id, neighbor_id, cosine, rank FROM ("
        "SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, "
        "ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine, "
        "row_number() OVER (PARTITION BY q.doc_id ORDER BY "
        "ROUND(list_cosine_similarity(q.v, c.v), 6) DESC, c.doc_id ASC) AS rank "
        "FROM hv q CROSS JOIN hv c "
        "WHERE q.doc_id < 6 AND c.doc_id <> q.doc_id) h WHERE rank <= 3 "
        "UNION ALL "
        # hard negatives: positives are same-label items, so the mined
        # negatives are the top-5 other-label neighbors per anchor
        "SELECT 'hardneg' AS part, query_id, neighbor_id, cosine, rank FROM ("
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        "ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, "
        "c.vec_id ASC) AS rank "
        "FROM embeddings q CROSS JOIN embeddings c "
        "WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id "
        "AND c.label <> q.label) n WHERE rank <= 5"
    ),
    "semantic_dedup_embeddings": (
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings), "
        "planted AS (SELECT vec_id + 100000 AS vec_id, "
        "list_transform(v, x -> x + 0.05) AS v FROM base WHERE vec_id < 100), "
        "corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted), "
        "cents AS (SELECT vec_id AS ccid, v AS cv FROM corpus WHERE vec_id < 16), "
        "scored AS (SELECT e.vec_id, c.ccid, "
        "ROUND(list_cosine_similarity(e.v, c.cv), 6) AS cos "
        "FROM corpus e CROSS JOIN cents c), "
        "assign AS (SELECT vec_id, ccid AS cid FROM ("
        "SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY cos DESC, ccid ASC) AS rn FROM scored) t WHERE rn = 1), "
        "av AS (SELECT a.vec_id, a.cid, c.v FROM assign a "
        "JOIN corpus c USING (vec_id)), "
        "pairs AS (SELECT b.vec_id AS id_b, "
        "ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos "
        "FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id), "
        "drops AS (SELECT id_b, MAX(cos) AS mdc FROM pairs "
        "WHERE cos >= 0.8 GROUP BY id_b) "
        "SELECT s.vec_id, s.cid, d.id_b IS NULL AS keep, "
        "d.mdc AS max_dup_cosine "
        "FROM assign s LEFT JOIN drops d ON s.vec_id = d.id_b"
    ),
    "embedding_neardup": (
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings WHERE vec_id < 300), "
        "planted AS (SELECT vec_id + 100000 AS vec_id, "
        "list_transform(v, x -> x + 0.05) AS v FROM base), "
        "corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted) "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine "
        "FROM corpus a CROSS JOIN corpus b WHERE a.vec_id < b.vec_id "
        "AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.8"
    ),
    "chunk_tokens_docs": (
        "WITH t AS (SELECT doc_id, "
        "regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+') AS toks "
        "FROM documents), "
        "o AS (SELECT doc_id, len(toks) AS n, "
        "SUM(len(toks)) OVER (ORDER BY doc_id) - len(toks) AS st "
        "FROM t WHERE len(toks) > 0), "
        "sp AS (SELECT doc_id, n, st, unnest(range(CAST(st // 128 AS BIGINT), "
        "CAST((st + n - 1) // 128 + 1 AS BIGINT))) AS pack_id FROM o) "
        "SELECT doc_id, 'chunk' AS part, CAST(i AS INT) AS chunk_idx, "
        "array_to_string(list_slice(toks, i*24+1, i*24+32), ' ') AS chunk_text, "
        "CAST(len(list_slice(toks, i*24+1, i*24+32)) AS BIGINT) AS n_tokens, "
        "CAST(NULL AS BIGINT) AS pack_id, CAST(NULL AS BIGINT) AS tok_start, "
        "CAST(NULL AS BIGINT) AS pack_pos "
        "FROM t, LATERAL (SELECT unnest(range(0, greatest("
        "CAST(ceil((len(toks) - 8) / 24.0) AS INT), 1))) AS i) g "
        "UNION ALL "
        "SELECT doc_id, 'pack' AS part, CAST(NULL AS INT) AS chunk_idx, "
        "CAST(NULL AS VARCHAR) AS chunk_text, "
        "CAST(least(st + n, (pack_id + 1) * 128) - greatest(st, pack_id * 128) "
        "AS BIGINT) AS n_tokens, "
        "CAST(pack_id AS BIGINT) AS pack_id, "
        "CAST(greatest(st, pack_id * 128) - st + 1 AS BIGINT) AS tok_start, "
        "CAST(greatest(st, pack_id * 128) - pack_id * 128 AS BIGINT) AS pack_pos "
        "FROM sp "
        "UNION ALL "
        # BPE iteration 1: word-frequency-weighted adjacent char-pair
        # counts (mirrors operators/bpe.py word_freqs + bpe_pair_stats)
        "SELECT CAST(NULL AS BIGINT) AS doc_id, 'bpepairs' AS part, "
        "CAST(NULL AS INT) AS chunk_idx, "
        "concat_ws(chr(1), a, b) AS chunk_text, cnt AS n_tokens, "
        "CAST(NULL AS BIGINT) AS pack_id, CAST(NULL AS BIGINT) AS tok_start, "
        "CAST(NULL AS BIGINT) AS pack_pos FROM ("
        "SELECT S[i] AS a, S[i+1] AS b, CAST(SUM(c) AS BIGINT) AS cnt FROM ("
        "SELECT list_concat(string_split(w, ''), ['</w>']) AS S, c FROM ("
        "SELECT tok AS w, COUNT(*) AS c FROM ("
        "SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) "
        "AS tok FROM documents) u WHERE tok <> '' GROUP BY tok) wf) sy, "
        "UNNEST(range(1, len(S))) AS g(i) "
        "GROUP BY S[i], S[i+1] "
        "ORDER BY cnt DESC, a ASC, b ASC LIMIT 50) bp"
    ),
    "approx_distinct_users": (
        "WITH sc AS (SELECT lang, "
        f"{_QUALITY_DUCK} AS s, "
        f"CASE WHEN ({_GOPHER_PASS_SQL}) THEN 1 ELSE 0 END AS y "
        "FROM documents), "
        "r AS (SELECT y, CAST(rank() OVER (ORDER BY s ASC) AS DOUBLE) + "
        "(CAST(COUNT(*) OVER (PARTITION BY s) AS DOUBLE) - 1.0) / 2.0 AS mr "
        "FROM sc), "
        "a AS (SELECT SUM(CASE WHEN y = 1 THEN mr END) AS rp, "
        "COUNT(CASE WHEN y = 1 THEN 1 END) AS np, "
        "COUNT(CASE WHEN y = 0 THEN 1 END) AS nn FROM r), "
        "rl AS (SELECT lang, y, "
        "CAST(rank() OVER (PARTITION BY lang ORDER BY s ASC) AS DOUBLE) + "
        "(CAST(COUNT(*) OVER (PARTITION BY lang, s) AS DOUBLE) - 1.0) / 2.0 "
        "AS mr FROM sc), "
        "al AS (SELECT lang, SUM(CASE WHEN y = 1 THEN mr END) AS rp, "
        "COUNT(CASE WHEN y = 1 THEN 1 END) AS np, "
        "COUNT(CASE WHEN y = 0 THEN 1 END) AS nn FROM rl GROUP BY lang) "
        "SELECT 'sketch' AS part, event_type, "
        "COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_bound, "
        "CAST(NULL AS DOUBLE) AS auc, CAST(NULL AS BIGINT) AS n_pos, "
        "CAST(NULL AS BIGINT) AS n_neg, CAST(NULL AS VARCHAR) AS stratum "
        "FROM events GROUP BY event_type "
        "UNION ALL "
        "SELECT 'auc' AS part, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), "
        "CAST(NULL AS BOOLEAN), "
        "ROUND((rp - np * (np + 1) / 2.0) / (np * nn), 6) AS auc, "
        "CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg, "
        "CAST(NULL AS VARCHAR) AS stratum FROM a "
        "UNION ALL "
        "SELECT 'auc_lang' AS part, CAST(NULL AS VARCHAR), "
        "CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN), "
        "ROUND((rp - np * (np + 1) / 2.0) / (np * nn), 6) AS auc, "
        "CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg, "
        "lang AS stratum FROM al "
        "UNION ALL "
        # LEFT JOIN from the full event_type list: the Spark side
        # emits one overlap row per event_type even when the exact
        # odd/even intersection is zero (full-outer overlap + fill 0)
        "SELECT 'overlap' AS part, et.event_type, "
        "COALESCE(bi.c, 0) AS exact_users, "
        "TRUE AS within_bound, CAST(NULL AS DOUBLE) AS auc, "
        "CAST(NULL AS BIGINT) AS n_pos, CAST(NULL AS BIGINT) AS n_neg, "
        "CAST(NULL AS VARCHAR) AS stratum "
        "FROM (SELECT DISTINCT event_type FROM events) et "
        "LEFT JOIN (SELECT event_type, COUNT(*) AS c FROM ("
        "SELECT event_type, user_id FROM events GROUP BY event_type, user_id "
        "HAVING COUNT(CASE WHEN day(ts) % 2 = 0 THEN 1 END) > 0 "
        "AND COUNT(CASE WHEN day(ts) % 2 = 1 THEN 1 END) > 0"
        ") b GROUP BY event_type) bi USING (event_type)"
    ),
    # within_bound pattern: the oracle replicates the deterministic
    # split + planting + fingerprint algebra and asserts the pipeline
    # invariant booleans are literally TRUE (see q_dedup_incremental_docs)
    "dedup_incremental_docs": (
        "WITH store AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0), "
        "base_batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0), "
        "planted AS ("
        "SELECT doc_id + 100000 AS doc_id, text || ' planted' AS text "
        "FROM store WHERE doc_id < 60 "
        "AND len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 8 "
        "UNION ALL "
        "SELECT doc_id + 200000 AS doc_id, text || ' planted' AS text "
        "FROM base_batch WHERE doc_id < 60 "
        "AND len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 8), "
        "batch AS (SELECT * FROM base_batch UNION ALL SELECT * FROM planted), "
        "bfp AS (SELECT doc_id, "
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM batch), "
        "sfp AS (SELECT DISTINCT "
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM store) "
        "SELECT b.doc_id, b.doc_id >= 100000 AS planted, "
        "(EXISTS (SELECT 1 FROM sfp WHERE sfp.fp = bf.fp) "
        "OR EXISTS (SELECT 1 FROM bfp b2 WHERE b2.fp = bf.fp "
        "AND b2.doc_id < b.doc_id)) AS exact_dup, "
        "TRUE AS exact_kill_ok, TRUE AS planted_kill_ok, "
        "TRUE AS fuzzy_kill_grounded "
        "FROM batch b JOIN bfp bf USING (doc_id)"
    ),
}
