"""Lexical retrieval over a document corpus: inverted postings + BM25.

The retrieval counterpart of the embedding ANN operators
(``operators/similarity.py``): rank documents for a set of text
queries with Okapi BM25 (Robertson/Sparck Jones; the Lucene-style
nonnegative idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``) — the standard
lexical scorer for training-data curation (query-based corpus audits,
eval-set leakage probes, targeted subset extraction). No reference
counterpart (extension op).

Scale shape (the whole point — none of this touches text off-row):

1. postings are built IN-ROW (tokenize once, per-distinct-term counts
   via higher-order functions) and exploded — no corpus-wide
   (doc, term) shuffle;
2. the query relation is small by construction and BROADCAST; corpus
   postings that match no query term die at the map side;
3. document frequencies are counted only for the query's vocabulary
   (a groupBy on the matched postings' short term key), then broadcast
   back — the full-corpus term dictionary is never materialized;
4. scoring aggregates on ONE query-keyed exchange that the top-k
   window reuses (hash partitioning on a subset of the groupBy keys
   satisfies the aggregation's clustering requirement).

Scores are rounded to 6 dp BEFORE ranking and ties break on doc_id,
so ranks are engine-deterministic (same discipline as
``embedding_cosine_topk``); corpus length statistics use exact integer
sums, so ``avgdl`` does not depend on partition order.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    _grams_from_tokens,
    cjk_char_tokens_expr,
    is_cjk_doc_expr,
    tokens_expr,
)
from .dedup import _spread


def _route_toks(text: Column, cjk_route: bool, cjk_n: int) -> Column:
    """BM25's term stream, script-routed (round 14): CJK-script rows
    tokenize as char ``cjk_n``-grams (bigrams by default — the classic
    CJK lexical-IR grain, cf. Lucene's CJK analysis), everything else
    as whitespace words. Whitespace tokenization sees an unsegmented
    zh/ja document as ONE term, so unrouted BM25 can only match such a
    document VERBATIM-WHOLE — recall ~0 for any real query. One
    in-row branch, same map-only shape."""
    toks = tokens_expr(text)
    if not cjk_route:
        return toks
    return F.when(
        is_cjk_doc_expr(text),
        _grams_from_tokens(cjk_char_tokens_expr(text), cjk_n),
    ).otherwise(toks)

__all__ = [
    "term_postings",
    "bm25_topk",
    "rrf_fuse",
    "write_bm25_index",
    "append_bm25_index",
    "read_bm25_index_meta",
    "bm25_index_topk",
]


def term_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cjk_route: bool = False,
    cjk_n: int = 2,
) -> DataFrame:
    """``(id, term, tf, dl)`` — one row per distinct term per document.

    Term frequencies are computed inside the row (tokenize once,
    ``transform`` over the distinct terms counting occurrences), so the
    only data movement is the explode itself — no (doc, term) groupBy
    shuffle. ``dl`` is the document token length BM25 normalizes by.
    The per-row counting is the heavy stage, so the input is spread to
    full parallelism when the scan yields fewer partitions (no-op on a
    sharded corpus).
    """
    df = _spread(df)
    toks = _route_toks(F.col(text_col), cjk_route, cjk_n)
    # LET-BINDING (hashed_tf_expr's trick): referencing the tokenizer
    # expression from every distinct-term slot would make Catalyst
    # re-run the split per term; bind the token array once per row
    bound = F.transform(
        F.array(toks),
        lambda T: F.struct(
            F.size(T).cast("long").alias("dl"),
            F.transform(
                F.array_distinct(T),
                lambda t: F.struct(
                    t.alias("term"),
                    F.size(F.filter(T, lambda x: x == t))
                    .cast("long")
                    .alias("tf"),
                ),
            ).alias("pairs"),
        ),
    )[0]
    return (
        df.select(F.col(id_col).alias("id"), bound.alias("__tp"))
        .select(
            "id",
            F.col("__tp.dl").alias("dl"),
            F.explode("__tp.pairs").alias("p"),
        )
        .select("id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"), "dl")
        .where(F.col("term") != "")
    )


def _bm25_weight(tf: Column, dl: Column, avgdl: Column, k1: float, b: float) -> Column:
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    cjk_route: bool = False,
    cjk_n: int = 2,
) -> DataFrame:
    """Top-``k`` documents per query by Okapi BM25.

    ``cjk_route=True`` (round 14) routes BOTH sides' terms by script
    (``_route_toks``): CJK documents AND CJK queries tokenize as char
    ``cjk_n``-grams, so a zh query can match a zh document at the
    morpheme grain; word-path documents/queries are bit-identical to
    the unrouted run (the branch only fires on CJK-script rows),
    though corpus statistics (avgdl) see the routed lengths.

    Output: ``query_id, doc_id, score (6 dp), rank`` — ``rank`` dense
    1..k by (score desc, doc_id asc). Query term repeats contribute
    multiplicatively (bag-of-words query), matching the classic
    formulation.
    """
    postings = term_postings(docs, id_col, text_col, cjk_route, cjk_n)

    # corpus stats with exact integer sums: avgdl independent of
    # partition/summation order (DECIMAL-sum discipline of
    # stats_agg_orders)
    stats = _spread(docs).select(
        F.size(_route_toks(F.col(text_col), cjk_route, cjk_n)).alias("__dl")
    ).agg(
        F.count("*").cast("double").alias("__n"),
        (F.sum("__dl").cast("double") / F.count("*")).alias("__avgdl"),
    )

    qtoks = _route_toks(F.col(query_text_col), cjk_route, cjk_n)
    qpairs = F.transform(
        F.array_distinct(qtoks),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(qtoks, lambda x: x == t)).cast("double").alias("qtf"),
        ),
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"), F.explode(qpairs).alias("p")
        )
        .select("query_id", F.col("p.term").alias("term"), F.col("p.qtf").alias("qtf"))
        .where(F.col("term") != "")
    )

    # map-side kill of non-matching postings: broadcast the small query
    # vocabulary at the corpus
    matched = postings.join(F.broadcast(qterms), on="term")

    # document frequency for the QUERY vocabulary only (short-key
    # groupBy over matched postings; result is |query vocab|-sized)
    dfrel = (
        matched.select("term", "id")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )

    scored = (
        matched.join(F.broadcast(dfrel), on="term")
        .crossJoin(F.broadcast(stats))
        # one query-keyed exchange: the (query_id, doc_id) aggregation
        # and the per-query window both cluster under it
        .repartition("query_id")
    )
    idf = F.log(1.0 + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = F.col("qtf") * idf * _bm25_weight(
        F.col("tf").cast("double"), F.col("dl").cast("double"), F.col("__avgdl"), k1, b
    )
    agg = (
        scored.groupBy("query_id", F.col("id").alias(id_col))
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def rrf_fuse(
    rankings: dict[str, DataFrame],
    k: int = 60,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) — THE standard way to combine heterogeneous retrievers
    (lexical BM25 + vector cosine being the hybrid-search staple):
    per (query, doc), ``rrf_score = Σ_lists 1/(k + rank)``, rank-only
    so no score normalization across retrievers is ever needed.

    ``rankings`` maps a list name to its ranking DataFrame (columns
    ``query_col, doc_col, rank_col``; ranks 1-based). Output:
    ``(query_id, doc_id, rrf_score, n_lists, rank)`` — ``n_lists``
    says how many retrievers surfaced the doc (consensus visibility),
    final ``rank`` breaks score ties by doc id. ``rrf_score`` is
    rounded to 9 dp BEFORE ranking so rank boundaries are
    engine-deterministic.

    Shape: one union of rank rows (already top-n-bounded by their
    retrievers), one (query, doc)-keyed map-side-combined aggregate,
    one per-query window — fusion cost ∝ Σ list sizes, independent of
    corpus size.
    """
    tagged = None
    for df in rankings.values():
        part = df.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            F.col(rank_col).cast("long").alias("__r"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    if tagged is None:
        raise ValueError("rrf_fuse: rankings must not be empty")
    fused = tagged.groupBy("query_id", "doc_id").agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("__r"))), 9
        ).alias("rrf_score"),
        F.count("*").cast("long").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    out = fused.withColumn("rank", F.row_number().over(w).cast("long"))
    if top_n is not None:
        out = out.where(F.col("rank") <= int(top_n))
    return out


# ---------------------------------------------------------------------------
# Persisted BM25 postings index: tokenize + count ONCE, probe many —
# the lexical sibling of the IVF vector store. At 100 TB the postings
# pass (tokenize every document, count every term) dwarfs any single
# query; an index bounds per-query cost by the query vocabulary's
# bucket fan-out instead.
# ---------------------------------------------------------------------------

_BM25_POSTINGS_DIR = "postings"
_BM25_DF_DIR = "docfreq"
_BM25_META_FILE = "store_meta.json"


def _term_bucket(num_buckets: int) -> Column:
    return F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int")


def write_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 64,
    mode: str = "overwrite",
    cjk_route: bool = False,
    cjk_n: int = 2,
) -> None:
    """Persist the corpus as a BM25 index: ``(id, term, tf, dl)``
    postings AND per-term document frequencies, both parquet-partitioned
    by ``pmod(xxhash64(term), num_buckets)`` so a query's scan prunes to
    the buckets its own vocabulary hashes to. Corpus statistics are
    frozen ADDITIVELY in ``<path>/store_meta.json`` (``n_docs`` +
    ``sum_dl``, so appends can update them exactly; ``avgdl`` derives at
    read). Layout: ``postings/bucket=<k>/``, ``docfreq/bucket=<k>/``,
    meta. Single-writer; Hadoop-FS-safe paths."""
    from ..sources.fs import join_uri, write_text_file

    if mode != "overwrite":
        # any other mode corrupts the index: postings would append but
        # docfreq is recomputed over the FULL read-back postings and
        # appending THAT duplicates (term, bucket) df rows, while meta
        # would mix batch-only n_docs with whole-corpus sum_dl —
        # incremental growth goes through append_bm25_index
        raise ValueError(
            f"write_bm25_index: mode={mode!r} unsupported — the index "
            "write is all-or-nothing; use append_bm25_index for "
            "incremental growth"
        )
    spark = docs.sparkSession
    post = term_postings(docs, id_col, text_col, cjk_route, cjk_n).withColumn(
        "bucket", _term_bucket(num_buckets)
    )
    # round 17 (optimization): the corpus-stats aggregate is a full
    # corpus tokenize pass that reads only ``docs`` — independent of
    # the postings/docfreq writes until the meta assembly at the end,
    # so it runs as a concurrent job on a scoped worker thread while
    # the writes proceed (guide §2.6: actions are only sequential
    # because the driver calls them sequentially). One extra thread
    # for the duration of this call only; errors surface at .result().
    from concurrent.futures import ThreadPoolExecutor

    stats_pool = ThreadPoolExecutor(
        max_workers=1, thread_name_prefix="gs_bm25_stats"
    )
    try:
        fut_stats = stats_pool.submit(
            _corpus_stats, docs, id_col, text_col, cjk_route, cjk_n
        )
        # repartition ON the bucket key before the partitioned write:
        # each bucket lands wholly in one task, so the layout is
        # ~1 file/bucket instead of tasks x buckets tiny files — the
        # probe's pruned scan and the docfreq read-back open 64 files,
        # not thousands (one bounded shuffle of the postings buys every
        # later read)
        post.repartition(num_buckets, "bucket").write.mode(mode).partitionBy(
            "bucket"
        ).parquet(join_uri(path, _BM25_POSTINGS_DIR))
        # df and corpus stats derive from the postings JUST WRITTEN — a
        # columnar read-back instead of recomputing the tokenize+count
        # pass (twice); also the scale-safe shape, since the postings
        # relation needs no driver/executor-memory materialization
        written = spark.read.schema(post.schema).parquet(
            join_uri(path, _BM25_POSTINGS_DIR)
        )
        dfr = (
            written.groupBy("term", "bucket")
            .agg(F.count("*").cast("long").alias("df"))
        )
        # same 1-file/bucket layout as the postings (the agg already
        # shuffled on (term, bucket); this folds it to bucket grain)
        dfr.repartition(num_buckets, "bucket").write.mode(mode).partitionBy(
            "bucket"
        ).parquet(join_uri(path, _BM25_DF_DIR))
        n_docs, sum_dl = fut_stats.result()
    finally:
        # a failed postings/docfreq write raises NOW: the pool is not
        # joined, so the error never waits for the corpus-sized stats
        # job (on success that job is already done)
        stats_pool.shutdown(wait=False, cancel_futures=True)
    meta = {
        "num_buckets": num_buckets,
        # the term grain is part of the store's FROZEN contract, like
        # the signature store's shingle config: appends and probes read
        # these, so an index built routed can never be probed unrouted
        "cjk_route": cjk_route,
        "cjk_n": cjk_n,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "postings_schema": json.loads(post.schema.json()),
        "df_schema": json.loads(dfr.schema.json()),
    }
    write_text_file(spark, join_uri(path, _BM25_META_FILE), json.dumps(meta))


def _corpus_stats(
    docs, id_col: str, text_col: str, cjk_route: bool = False, cjk_n: int = 2
) -> tuple[int, int]:
    """(n_docs, sum_dl) for the additive index stats — computed from
    the corpus with the SAME tokenizer expression the in-memory
    ranking's stats aggregate uses, so the index avgdl is identical to
    bm25_topk's BY CONSTRUCTION. (Deriving sum_dl from the postings
    would silently diverge: an empty-but-non-NULL text tokenizes to
    one empty term, which the postings drop while the in-memory dl sum
    still counts it — every score would then differ from the pinned
    in-memory ranking.)"""
    row = docs.agg(
        F.count("*").alias("n"),
        F.sum(
            F.size(_route_toks(F.col(text_col), cjk_route, cjk_n))
        ).alias("s"),
    ).first()
    return int(row["n"]), int(row["s"] or 0)


def read_bm25_index_meta(spark, path: str) -> dict:
    from ..sources.fs import join_uri, read_text_file

    return json.loads(read_text_file(spark, join_uri(path, _BM25_META_FILE)))


def _check_frozen_grain(
    meta: dict, cjk_route: bool | None, cjk_n: int | None, caller: str
) -> None:
    """Assert a caller's ATTESTED term grain against the index's frozen
    one. The frozen grain always governs execution (the entry points
    read it from the meta); this check only exists so a caller who
    BELIEVES the index has a particular grain finds out loudly when it
    doesn't — postings appended or queries tokenized under the wrong
    belief would match nothing for the routed script."""
    frozen_route = bool(meta.get("cjk_route", False))
    frozen_n = int(meta.get("cjk_n", 2))
    if cjk_route is not None and bool(cjk_route) != frozen_route:
        raise ValueError(
            f"{caller}: caller attested cjk_route={bool(cjk_route)} but the "
            f"index froze cjk_route={frozen_route} — the frozen grain "
            "governs; rebuild the index to change it"
        )
    # cjk_n is only meaningful on a routed index — an unused knob must
    # not reject (the minhash_signing normalization rule)
    if frozen_route and cjk_n is not None and int(cjk_n) != frozen_n:
        raise ValueError(
            f"{caller}: caller attested cjk_n={int(cjk_n)} but the index "
            f"froze cjk_n={frozen_n} — the frozen grain governs; rebuild "
            "the index to change it"
        )


def append_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    cjk_route: bool | None = None,
    cjk_n: int | None = None,
) -> None:
    """Append new documents: postings land in their term buckets
    (dynamic partition append), the affected buckets' document
    frequencies are RECOMPUTED from the post-append postings (pruned
    scan + dynamic overwrite — df is not additive per append because a
    term's rows may span appends), and the additive corpus stats
    update exactly. Probes before/after an append see exact BM25 over
    the corpus-so-far. Single-writer, like every store in this repo.

    The term grain always comes from the index's FROZEN meta — the
    optional ``cjk_route``/``cjk_n`` arguments are an ATTESTATION of
    what the caller expects (the ``append_signature_store(signing=…)``
    pattern): pass them to make a grain drift raise instead of being
    silently overridden by the meta; None skips the check."""
    from pyspark.sql.types import StructType

    from ..sources.fs import join_uri

    spark = docs.sparkSession
    meta = read_bm25_index_meta(spark, path)
    nb = meta["num_buckets"]
    _check_frozen_grain(meta, cjk_route, cjk_n, "append_bm25_index")
    cjk_route = bool(meta.get("cjk_route", False))
    cjk_n = int(meta.get("cjk_n", 2))
    post = term_postings(docs, id_col, text_col, cjk_route, cjk_n).withColumn(
        "bucket", _term_bucket(nb)
    ).localCheckpoint(eager=True)  # batch-sized; feeds write + bucket list
    post.write.mode("append").partitionBy("bucket").parquet(
        join_uri(path, _BM25_POSTINGS_DIR)
    )
    touched = [r[0] for r in post.select("bucket").distinct().collect()]
    all_post = spark.read.schema(
        StructType.fromJson(meta["postings_schema"])
    ).parquet(join_uri(path, _BM25_POSTINGS_DIR))
    refreshed = (
        all_post.where(F.col("bucket").isin(touched))
        .groupBy("term", "bucket")
        .agg(F.count("*").cast("long").alias("df"))
        .localCheckpoint(eager=True)  # break lineage before overwrite
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        refreshed.write.mode("overwrite").partitionBy("bucket").parquet(
            join_uri(path, _BM25_DF_DIR)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    n_docs, sum_dl = _corpus_stats(docs, id_col, text_col, cjk_route, cjk_n)
    meta["n_docs"] += n_docs
    meta["sum_dl"] += sum_dl
    from ..sources.fs import write_text_file

    write_text_file(spark, join_uri(path, _BM25_META_FILE), json.dumps(meta))


def bm25_index_topk(
    queries: DataFrame,
    path: str,
    k: int = 10,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    cjk_route: bool | None = None,
    cjk_n: int | None = None,
) -> DataFrame:
    """Probe the persisted index: the query vocabulary's term buckets
    form a bounded driver collect (<= distinct query terms ints), BOTH
    store scans (postings + docfreq) are partition-pruned to those
    buckets, and the tiny query relation broadcasts into the match
    join — per-query cost ∝ probed buckets, never corpus size. Output
    ``(query_id, doc_id, score, rank)``, identical to ``bm25_topk``
    over the same corpus (scores rounded to 6 dp before ranking).
    ``cjk_route``/``cjk_n`` are an optional grain ATTESTATION checked
    against the frozen meta (see ``append_bm25_index``); the frozen
    grain always governs query tokenization."""
    from pyspark.sql.types import StructType

    from ..sources.fs import join_uri

    spark = queries.sparkSession
    meta = read_bm25_index_meta(spark, path)
    nb = meta["num_buckets"]
    _check_frozen_grain(meta, cjk_route, cjk_n, "bm25_index_topk")
    n = float(meta["n_docs"])
    avgdl = (meta["sum_dl"] / meta["n_docs"]) if meta["n_docs"] else 1.0

    # query terms take the index's FROZEN grain (meta) — a routed
    # index probed with word queries would never match a CJK doc
    qtoks = F.filter(
        _route_toks(
            F.col(query_text_col),
            bool(meta.get("cjk_route", False)),
            int(meta.get("cjk_n", 2)),
        ),
        lambda t: t != "",
    )
    qpairs = F.transform(
        F.array(qtoks),
        lambda T: F.transform(
            F.array_distinct(T),
            lambda t: F.struct(
                t.alias("term"),
                F.size(F.filter(T, lambda x: x == t)).cast("double").alias("qtf"),
            ),
        ),
    )[0]
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"), F.explode(qpairs).alias("p")
        )
        .select("query_id", F.col("p.term").alias("term"), F.col("p.qtf").alias("qtf"))
        .withColumn("bucket", _term_bucket(nb))
        .localCheckpoint(eager=True)  # query-sized; feeds bucket list + join
    )
    buckets = [r[0] for r in qterms.select("bucket").distinct().collect()]

    post = (
        spark.read.schema(StructType.fromJson(meta["postings_schema"]))
        .parquet(join_uri(path, _BM25_POSTINGS_DIR))
        # partition-pruned: only the query vocabulary's buckets are read
        .where(F.col("bucket").isin(buckets))
        .drop("bucket")
    )
    dfr = (
        spark.read.schema(StructType.fromJson(meta["df_schema"]))
        .parquet(join_uri(path, _BM25_DF_DIR))
        .where(F.col("bucket").isin(buckets))
        .drop("bucket")
    )
    matched = post.join(F.broadcast(qterms.drop("bucket")), on="term").join(
        F.broadcast(dfr), on="term"
    )
    idf = F.log(1.0 + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = F.col("qtf") * idf * _bm25_weight(
        F.col("tf").cast("double"),
        F.col("dl").cast("double"),
        F.lit(float(avgdl)),
        k1,
        b,
    )
    agg = (
        matched.repartition("query_id")
        .groupBy("query_id", F.col("id").alias("doc_id"))
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
