"""Deduplication operators for training-data pipelines.

Scale-extension operators (SURVEY §2.2 "Extensions") over the
``documents`` / ``embeddings`` tables:

- ``dedup_exact`` — hash-groupBy on a content fingerprint; one shuffle.
- ``minhash_signatures`` / ``minhash_lsh_pairs`` / ``dedup_minhash`` —
  shingle -> minhash -> band -> bucket-join near-dup detection.
- ``simhash_expr`` / ``simhash_pairs`` — 64-bit SimHash fingerprints +
  Hamming-distance candidate pairs.
- ``ngram_jaccard_pairs`` — exact n-gram Jaccard over candidate pairs
  (the verification primitive; also usable standalone with blocking).
- ``embedding_neardup_pairs`` — cosine-threshold near-dup over an
  embedding column.

Scale notes: every operator is expressed as explode/groupBy/equi-join
DataFrame ops — the shuffles are on short keys (fingerprints, band
hashes, bucket ids), never on document text. SimHash and MinHash
signatures are computed with higher-order array functions *inside a
row* where possible (no explode for SimHash). Pairwise work only ever
happens within hash buckets, generated by single-consumer
groupBy/collect + streamed in-bucket explodes — so signatures are
evaluated once without any persist; the one function that truly needs
a multi-branch cache (``ngram_jaccard_pairs``) releases it before
returning. No operator leaves cached partitions behind.
"""

from __future__ import annotations

import json
import logging
import random
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    _grams_from_tokens,
    cjk_char_tokens_expr,
    fingerprint_expr,
    shingles_expr,
    tokens_expr,
)
from ..functions.vectors import cosine_similarity_expr
from .snapshot import keep_last_dedup

__all__ = [
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "dedup_minhash",
    "simhash_expr",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "winnow_similarity_pairs",
    "ngram_contamination",
    "embedding_neardup_pairs",
    "connected_min_labels",
    "dedup_clusters",
    "signature_jaccard_expr",
    "dedup_minhash_incremental",
    "dedup_exact_incremental",
    "write_signature_store",
    "minhash_signing",
    "append_signature_store",
    "read_signature_store_meta",
    "compact_signature_store",
    "compact_fingerprint_store",
    "compact_flat_store",
    "compact_count_store",
    "recover_flat_store",
    "recover_store_data",
    "stamp_signing",
    "stamp_width_fold",
    "dedup_minhash_incremental_bucketed",
    "write_fingerprint_store",
    "append_fingerprint_store",
    "dedup_exact_incremental_bucketed",
    "line_dedup",
    "sentence_span_dedup",
    "CJK_SENTENCE_SPLIT_RE",
    "exact_substring_dedup",
    "SENTENCE_SPLIT_RE",
]

# Mersenne prime 2^31-1 for the universal-hash family (a*x+b) mod p:
# with a, b, x < p every product stays below 2^62, safely inside a
# signed 64-bit long even under ANSI overflow checking.
_MERSENNE = (1 << 31) - 1

# Base-hash families for the sketch operators. "xxhash64" is the fast
# JVM default; "md5" is the ENGINE-PORTABLE family — the first 12 (48
# bits) or 15 (60 bits) hex chars of md5 parse to the same integer in
# Spark (conv(_, 16, 10)) and DuckDB (CAST('0x'||_ AS BIGINT)), so the
# full MinHash/SimHash pipelines become replayable as ANSI SQL oracles.
# Same algorithms, same guarantees; only the base hash differs.
_HASH_FAMILIES = ("xxhash64", "md5")


def _check_hash_family(hash_family: str) -> None:
    if hash_family not in _HASH_FAMILIES:
        raise ValueError(f"hash_family must be one of {_HASH_FAMILIES}")


def _md5_int_expr(c: Column, hex_chars: int) -> Column:
    """First ``hex_chars`` hex chars of md5 as a non-negative long.
    <= 15 chars (60 bits) keeps the value inside a signed 64-bit long
    in every engine."""
    return F.conv(F.substring(F.md5(c), 1, hex_chars), 16, 10).cast("long")


# Topmost explicit repartition node in an analyzed-plan string:
# ``Repartition 12, true`` (repartition/coalesce) or
# ``RepartitionByExpression [cols], 8`` (repartition by key).
_REPARTITION_NODE_RE = re.compile(
    r"Repartition (\d+), (?:true|false)|RepartitionByExpression \[[^\]]*\](?:, (\d+))?"
)

# Plan nodes that end the root path of an analyzed plan: below any of
# these, a Repartition belongs to a subtree (e.g. one join branch), not
# to the partitioning of the relation the caller handed us.
_ROOT_PATH_BARRIER_RE = re.compile(
    r"\b(?:Join|Aggregate|Union|Intersect|Except|CoGroup)\b"
)


def _root_repartition(plan: str) -> re.Match | None:
    """First Repartition node on the plan's ROOT PATH only — matching
    anywhere in the tree mistakes a Repartition inside an unrelated
    join branch (e.g. the losers side of an anti-join) for the caller
    having partitioned the main input, and skips the spread."""
    for line in plan.splitlines():
        if _ROOT_PATH_BARRIER_RE.search(line):
            return None
        m = _REPARTITION_NODE_RE.search(line)
        if m:
            return m
    return None


def _root_logical_rdd(plan: str) -> bool:
    """True when the plan's root path bottoms out in a ``LogicalRDD``
    leaf (a ``localCheckpoint``ed relation) with no barrier above it —
    i.e. the frame is a narrow chain over already-materialized
    partitions, whose TRUE partition count ``df.rdd`` reports for free
    (physical planning of a narrow chain over an RDD is trivial, unlike
    the general case the docstring below avoids)."""
    for line in plan.splitlines():
        if _ROOT_PATH_BARRIER_RE.search(line):
            return False
        if "LogicalRDD" in line:
            return True
    return False


def _spread(df: DataFrame) -> DataFrame:
    """Guarantee minimum parallelism for compute-heavy per-row stages.

    A small single-file table scans as 1-2 input partitions, which
    serializes the signature/shingle folds onto one core (measured 6×
    on the sf0.1 documents table: 8.5 s -> 1.4 s). Only repartitions
    when the input provably yields fewer partitions than the session's
    default parallelism — on a real sharded corpus (100 TB = thousands
    of file splits) this is a no-op and never shuffles document text.

    Parallelism is ESTIMATED without ``df.rdd`` — converting the plan
    to an RDD forces full physical planning driver-side on every
    signature call. Instead: an explicit Repartition/coalesce node in
    the analyzed plan states its partition count outright, and absent
    one, the scan's file count lower-bounds the split count (each file
    yields at least one task; large files split further, so the bound
    only ever under-estimates, which at worst repartitions a small
    scan we would have repartitioned anyway).
    """
    if df.isStreaming:  # micro-batches are already sized by the source
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        plan = ""
    m = _root_repartition(plan)
    if m:
        n = m.group(1) or m.group(2)
        if n is None or int(n) >= target:
            return df  # caller chose a partitioning at/above target
        return df.repartition(target)
    if _root_logical_rdd(plan):
        # checkpointed input: its real partition count is known and a
        # re-shuffle of (possibly wide) checkpointed rows is pure waste
        # when the caller already materialized enough partitions
        try:
            n_parts = df.rdd.getNumPartitions()
        except Exception:
            n_parts = 0
        if n_parts >= target:
            return df
        return df.repartition(target)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width_fold: bool = False,
) -> DataFrame:
    """Keep one row per exact (normalized) content fingerprint — the
    survivor is the lowest id (deterministic). One shuffle on the
    16-byte fingerprint; at 100 TB this is the cheapest possible exact
    dedup (no text comparison, no sort of the full rows).

    ``width_fold=True`` (round 14) keys on the fullwidth->halfwidth
    folded text (``fingerprint_expr(width_fold=True)``): fullwidth
    re-typed duplicates (``ＨＥＬＬＯ`` vs ``HELLO``) collapse onto
    one survivor — the most common CJK exact-dup class. Off by
    default (existing stores key unfolded)."""
    fp = "__gs_fp"
    out = keep_last_dedup(
        df.withColumn(fp, fingerprint_expr(text_col, width_fold)),
        [fp],
        [F.col(id_col).asc()],
    )
    return out.drop(fp)


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hash_family: str = "xxhash64",
    cjk: Column | None = None,
    cjk_shingle_n: int = 5,
) -> DataFrame:
    """Per-document MinHash signature: ``id, signature array<long>``.

    ``cjk`` (round 14) is an optional doc-level BOOLEAN Column
    (typically ``is_cjk_doc_expr(text_col)``): routed rows shingle
    CHAR ``cjk_shingle_n``-grams instead of word n-grams — an
    unsegmented zh/ja document is ONE whitespace token, so the word
    grain gives it ~1 shingle and near-constant signatures (near-dup
    recall ~0). Signatures are comparable only within the SAME
    routing config: a store built unrouted must be re-signed (or the
    batch signed unrouted) before cross-store banding — and since
    round 15 the bucketed store FREEZES the full signing recipe
    (``minhash_signing``) in its meta and raises on mismatch instead
    of relying on this docstring.

    Shingle the text (word n-grams), base-hash each shingle with
    ``xxhash64`` (JVM-side), then fold the shingle hashes ONCE through
    all ``num_hashes`` universal hashes ``(a*x + b) mod p`` with a
    single ``aggregate``/``zip_with`` pass whose (a, b) parameters are
    one constant-folded literal array — **zero shuffles** and a tiny
    expression tree.

    ``hash_family="md5"`` swaps ONLY the base hash for the
    engine-portable 48-bit md5 prefix (see ``_HASH_FAMILIES``) so the
    identical signature arrays can be recomputed by an ANSI-SQL oracle;
    the universal-hash fold, banding, and verify are unchanged.

    Plan-shape rationale (measured at sf0.01): unrolling one
    ``array_min(transform(...))`` per hash duplicates the shingle
    subtree 64× and pushes planning + codegen to tens of seconds;
    explode + 64 ``min`` aggregates compiles ~3× slower than this and
    adds a shuffle. The fold keeps first-run latency low AND scales:
    per-row work is O(shingles × num_hashes) with no data movement.
    """
    _check_hash_family(hash_family)
    params = _hash_params(num_hashes, seed)
    # ONE from_json literal instead of num_hashes struct literals: the
    # py4j-by-py4j build cost ~0.4 s of driver time per construction
    # (same rationale as lsh_buckets_expr); Catalyst constant-folds the
    # from_json before execution, so the executed plan is identical.
    plit = F.from_json(
        F.lit(json.dumps([{"a": a, "b": b} for a, b in params])),
        "array<struct<a:bigint,b:bigint>>",
    )
    base_hash = (
        (lambda s: F.xxhash64(s))
        if hash_family == "xxhash64"
        else (lambda s: _md5_int_expr(s, 12))
    )
    base = F.transform(
        shingles_expr(F.col(text_col), shingle_n, cjk, cjk_shingle_n),
        lambda s: F.pmod(base_hash(s), F.lit(_MERSENNE)),
    )
    # Every universal hash value is < _MERSENNE, so _MERSENNE acts as +inf.
    init = F.array_repeat(F.lit(_MERSENNE).cast("long"), num_hashes)
    sig = F.aggregate(
        base,
        init,
        lambda acc, x: F.zip_with(
            acc,
            plit,
            lambda m, p: F.least(m, F.pmod(p["a"] * x + p["b"], F.lit(_MERSENNE))),
        ),
    )
    return _spread(df).select(F.col(id_col).alias("id"), sig.alias("signature"))


def _band_hashes_expr(
    sig_col: str, num_bands: int, rows_per_band: int, hash_family: str = "xxhash64"
):
    """``posexplode`` of one hash per signature band — the shared
    banding used by batch LSH pairing and the incremental cross-store
    join (both sides MUST band identically or collisions are
    meaningless). ``hash_family="md5"`` emits the band hash as the md5
    hex string of the same comma-joined slice (engine-portable; the
    bucket key's type never leaves the groupBy)."""
    band_hash = (
        (lambda c: F.xxhash64(c)) if hash_family == "xxhash64" else (lambda c: F.md5(c))
    )
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda b: band_hash(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                )
            ),
        )
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    num_bands: int = 16,
    id_col: str = "id",
    sig_col: str = "signature",
    sig_len: int | None = None,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs from LSH banding: split each signature into
    ``num_bands`` bands, hash each band, then pair up ids that share a
    (band, hash) bucket. ``hash_family`` must match the family that
    produced the signatures (see ``minhash_signatures``).

    Output: ``id_a < id_b`` distinct candidate pairs. Buckets are built
    with ONE ``groupBy`` on the (int, long) band key — map-side combine,
    tiny shuffle rows, and the banded relation has a single consumer,
    so nothing needs caching (the earlier self-join shape evaluated
    every signature twice per branch unless persisted). In-bucket pairs
    are generated by two streamed ``explode``s — per-task memory is
    bounded by the largest bucket, never the pair count.
    ``max_bucket_size`` optionally drops degenerate buckets (boilerplate
    shingles collapse thousands of docs into one bucket, where pair
    generation is quadratic; such near-identical docs are better caught
    by exact dedup first). Pass ``sig_len`` to avoid a driver-side peek
    job. ``num_bands`` is clamped to the signature length — bands past
    the end would slice an empty array and hash every doc identically,
    degenerating the bucket join into an all-pairs product.
    """
    _check_hash_family(hash_family)
    if sig_len is None:
        sig_len_row = signatures.select(F.size(sig_col)).first()
        sig_len = sig_len_row[0] if sig_len_row else num_bands
    num_bands = max(1, min(num_bands, sig_len))
    rows_per_band = max(1, sig_len // num_bands)
    banded = signatures.select(
        F.col(id_col).alias("id"),
        _band_hashes_expr(sig_col, num_bands, rows_per_band, hash_family).alias(
            "band", "band_hash"
        ),
    )
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.collect_set("id").alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    lhs = buckets.select(F.explode("ids").alias("id_a"), "ids")
    return (
        lhs.select(
            "id_a",
            F.explode(F.filter("ids", lambda y: y > F.col("id_a"))).alias("id_b"),
        )
        # id_a partitioning satisfies the pair-distinct (subset rule)
        # AND co-locates the Jaccard verify's first shingle join, so at
        # scale the candidate set shuffles once between the two stages.
        .repartition("id_a")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    cjk: Column | None = None,
    cjk_shingle_n: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs.

    ``cjk``/``cjk_shingle_n`` route per-doc shingles to the char grain
    (see ``minhash_signatures``) — the verify MUST shingle at the same
    grain as the signatures that produced ``pairs``.

    With ``pairs`` (candidate ``id_a/id_b`` from LSH) this verifies
    candidates; without, it scores ALL pairs sharing at least one
    shingle (inverted-index join — still no full cross product, but
    O(pairs-sharing-a-shingle): use blocking or LSH at scale).

    Output: ``id_a, id_b, jaccard`` with ``jaccard >= threshold``.

    Cache lifetime: the shingle relation genuinely feeds multiple join
    branches, so it is persisted for the duration of THIS call only —
    the (small, id-pairs-sized) result is materialized eagerly via
    ``localCheckpoint`` and the shingle cache is released before
    returning. Repeated calls in a long-lived session therefore leave
    no cached shingle/text partitions behind.

    EAGER-EXECUTION tradeoff (deliberate): calling this function runs
    Spark jobs immediately (not a lazy plan builder), the returned
    relation is pinned on executors until the caller's session drops it
    (localCheckpoint blocks are NOT recomputable after executor loss),
    and downstream filters cannot push below the checkpoint. The
    alternative — returning the lazy plan — recomputes the shingle
    relation once per downstream action and leaks the persist to the
    caller. At low thresholds the inverted-index pair set can be large;
    filter/block BEFORE calling if that matters.
    """
    shingled = _spread(df).select(
        F.col(id_col).alias("id"),
        shingles_expr(F.col(text_col), shingle_n, cjk, cjk_shingle_n).alias(
            "__sh"
        ),
    ).persist()  # referenced by both pair sides (and sizes)
    try:
        sizes = shingled.select("id", F.size("__sh").alias("__n"))

        if pairs is not None:
            joined = (
                pairs.join(shingled.withColumnRenamed("id", "id_a").withColumnRenamed("__sh", "__sh_a"), on="id_a")
                .join(shingled.withColumnRenamed("id", "id_b").withColumnRenamed("__sh", "__sh_b"), on="id_b")
            )
            inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
            union = F.size(F.array_union("__sh_a", "__sh_b")).cast("double")
            out = (
                joined.select(
                    "id_a", "id_b", (inter / union).alias("jaccard")
                ).where(F.col("jaccard") >= threshold)
            )
            return out.localCheckpoint(eager=True)

        # Inverted-index self-join: explode distinct shingles, pair docs
        # sharing one, count shared shingles, then |A∩B| / (|A|+|B|-|A∩B|).
        exploded = shingled.select("id", F.explode("__sh").alias("shingle"))
        pairs_cnt = (
            exploded.alias("x")
            .join(exploded.alias("y"), on="shingle")
            .where(F.col("x.id") < F.col("y.id"))
            .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .agg(F.count("*").alias("__inter"))
        )
        out = (
            pairs_cnt.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("__n", "__na"), on="id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("__n", "__nb"), on="id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.col("__inter").cast("double")
                    / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double")
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
        return out.localCheckpoint(eager=True)
    finally:
        shingled.unpersist()


def winnow_similarity_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_jaccard: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MOSS-style near-dup candidate pairs from winnowing fingerprints
    (``winnow_fingerprints_expr``): documents sharing at least one
    selected rolling-hash fingerprint are paired through an inverted
    index, then verified with the EXACT fingerprint-set Jaccard.

    Output: ``id_a < id_b, jaccard`` with ``jaccard >= min_jaccard``.
    Winnowing guarantees any shared run of ``k + w - 1`` characters
    lands one identical fingerprint in both documents, so — unlike
    MinHash banding — candidate recall for long shared substrings is
    certain, not probabilistic; the tradeoff is sensitivity to how much
    of each document the shared content covers (Jaccard over selected
    hashes, not over all shingles).

    Scale shape mirrors ``minhash_lsh_pairs``: fingerprints are a
    map-only fold, the inverted index is ONE groupBy on an 8-byte hash
    with in-bucket pairs streamed by two explodes (memory bounded by
    the largest bucket; ``max_bucket_size`` drops degenerate
    boilerplate buckets), and the verify join moves only (id, fps)
    rows — document text never shuffles. No reference counterpart
    (extension op)."""
    from ..functions.text import winnow_fingerprints_expr

    fps = (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            winnow_fingerprints_expr(F.col(text_col), k, w).alias("__fps"),
        )
        .persist()  # feeds the inverted index AND the verify join
    )
    try:
        exploded = fps.select("id", F.explode("__fps").alias("__fp"))
        buckets = (
            exploded.groupBy("__fp")
            .agg(F.collect_set("id").alias("ids"))
            .where(F.size("ids") > 1)
        )
        if max_bucket_size is not None:
            buckets = buckets.where(F.size("ids") <= max_bucket_size)
        pairs = (
            buckets.select(F.explode("ids").alias("id_a"), "ids")
            .select(
                "id_a",
                F.explode(F.filter("ids", lambda y: y > F.col("id_a"))).alias("id_b"),
            )
            .repartition("id_a")
            .distinct()
        )
        joined = (
            pairs.join(
                fps.select(F.col("id").alias("id_a"), F.col("__fps").alias("__fa")),
                on="id_a",
            )
            .join(
                fps.select(F.col("id").alias("id_b"), F.col("__fps").alias("__fb")),
                on="id_b",
            )
        )
        inter = F.size(F.array_intersect("__fa", "__fb")).cast("double")
        union = F.size(F.array_union("__fa", "__fb")).cast("double")
        out = joined.select(
            "id_a", "id_b", (inter / F.greatest(union, F.lit(1.0))).alias("jaccard")
        ).where(F.col("jaccard") >= min_jaccard)
        return out.localCheckpoint(eager=True)
    finally:
        fps.unpersist()


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    cjk: Column | None = None,
    cjk_n: int = 13,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus document, count
    its distinct word ``n``-grams that also appear anywhere in the
    ``benchmark`` set (the standard eval-leakage screen for training
    corpora; 13-grams are the common choice).

    Output: ``<id_col>, n_contaminated (long), contaminated (bool)`` —
    one row per corpus document, zeros included.

    ``cjk``/``cjk_n`` (round 14, typically ``is_cjk_doc_expr``) route
    BOTH sides' grams to the char grain for CJK-script rows — an
    unsegmented zh benchmark document yields ~1 word 13-gram, so a
    verbatim zh eval leak is invisible to the word grain. Char
    13-grams keep the same leak-length semantics at the morpheme
    grain; both sides must route identically (hashes of different
    grains never collide into false hits — they just miss).

    Scale shape: the benchmark side (eval sets are tiny relative to a
    training corpus) collapses to a DISTINCT set of 8-byte xxhash64
    gram hashes and is BROADCAST; the corpus explodes (id, gram-hash)
    pairs — per-document distinct already, via ``shingles_expr`` — and
    the only corpus-sized shuffle is the per-document count aggregate
    with map-side combine. Document text never shuffles. No reference
    counterpart (extension op).
    """
    # round 16 (optimization): the two sides shingle with IDENTICAL
    # parameters — build the Column tree once and reuse it (Columns are
    # immutable expression trees; ~0.3 s of py4j per construction)
    sh = shingles_expr(F.col(text_col), n, cjk, cjk_n)
    bench_grams = (
        benchmark.select(F.explode(sh).alias("__g"))
        .select(F.xxhash64("__g").alias("__gh"))
        .distinct()
    )
    corp_grams = _spread(corpus).select(
        F.col(id_col).alias("__id"),
        F.explode(sh).alias("__g"),
    ).select("__id", F.xxhash64("__g").alias("__gh"))
    hits = (
        corp_grams.join(F.broadcast(bench_grams), on="__gh")
        .groupBy("__id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        corpus.select(F.col(id_col).alias("__id"))
        .join(hits, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dedup_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    hash_family: str = "xxhash64",
    cjk: Column | None = None,
    cjk_shingle_n: int = 5,
) -> DataFrame:
    """End-to-end fuzzy dedup: MinHash -> LSH candidates -> exact
    Jaccard verify -> drop the higher id of every duplicate pair.

    ``cjk`` (round 14, typically ``is_cjk_doc_expr(text_col)``) routes
    routed docs' shingles to char ``cjk_shingle_n``-grams in BOTH the
    signature and verify stages — without it, unsegmented CJK
    documents are one shingle each and near-dup recall is ~0.

    Connected near-dup clusters collapse transitively onto their
    minimum id via iterative min-propagation (bounded rounds) —
    documented approximation: at most ``max_rounds`` hops of the
    duplicate graph (2 is enough for near-dup clusters produced by a
    single threshold; raise for chain-heavy corpora).

    ``hash_family="md5"`` selects the engine-portable base hash (same
    algorithm; lets an ANSI-SQL oracle replay the full pipeline).
    """
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, seed, hash_family,
        cjk=cjk, cjk_shingle_n=cjk_shingle_n,
    )
    cand = minhash_lsh_pairs(
        sigs, num_bands, sig_len=num_hashes, hash_family=hash_family
    )
    dup = ngram_jaccard_pairs(
        df, cand, id_col, text_col, shingle_n, threshold,
        cjk=cjk, cjk_shingle_n=cjk_shingle_n,
    )
    # Every id_b with a smaller near-identical id_a is a duplicate.
    losers = dup.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def dedup_exact_incremental(
    new_df: DataFrame,
    corpus_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup a NEW batch against an existing corpus fingerprint
    store (16-byte normalized-content fingerprints, schema ``fp``) —
    the exact-match half of the incremental-ingest story
    (``dedup_minhash_incremental`` is the fuzzy half).

    One anti-join on the fingerprint: the corpus is touched only
    through its (tiny) fingerprint relation, per-batch cost is bounded
    by the batch. Returns ``(survivors, survivor_fps)``; append
    ``survivor_fps`` to the store for the next batch.
    """
    within = dedup_exact(new_df, text_col, id_col)
    fp = "__gs_fp"
    new_fp = within.withColumn(fp, fingerprint_expr(text_col))
    survivors = new_fp.join(
        corpus_fps.select(F.col("fp").alias(fp)), on=fp, how="left_anti"
    )
    survivor_fps = survivors.select(F.col(fp).alias("fp"))
    return survivors.drop(fp), survivor_fps


def signature_jaccard_expr(sig_a: Column | str, sig_b: Column | str) -> Column:
    """MinHash-estimated Jaccard: the fraction of agreeing signature
    components — the standard unbiased estimator of the true shingle
    Jaccard (stderr ≈ 1/sqrt(num_hashes); ±0.125 at 64 hashes). Lets
    two documents be compared WITHOUT their text, which is what makes
    cross-store dedup scale: signatures are ~0.5 KB regardless of
    document size."""
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    agree = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agree.cast("double") / F.greatest(F.size(a), F.lit(1)).cast("double")


def _dedup_within_batch(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
    nb: int,
    threshold: float,
    seed: int,
    cjk: Column | None = None,
    cjk_shingle_n: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Shared stage 1 of both incremental variants: batch-internal
    fuzzy dedup (exact-jaccard verified — the batch text is in hand)
    built around ONE materialized signature relation, so the shingle
    fold runs once instead of once for dedup and once for the returned
    survivor signatures. Returns ``(within, sigs_new)``. The
    positional-arg-swap regression lived in this stage; keeping a
    single copy means a fix can't diverge between the two paths."""
    sigs_all = minhash_signatures(
        new_df, id_col, text_col, num_hashes, shingle_n, seed,
        cjk=cjk, cjk_shingle_n=cjk_shingle_n,
    ).localCheckpoint(eager=True)
    cand_within = minhash_lsh_pairs(sigs_all, nb, sig_len=num_hashes)
    dup_within = ngram_jaccard_pairs(
        new_df, cand_within, id_col, text_col, shingle_n, threshold,
        cjk=cjk, cjk_shingle_n=cjk_shingle_n,
    )
    losers = dup_within.select(F.col("id_b").alias(id_col)).distinct()
    within = new_df.join(losers, on=id_col, how="left_anti")
    sigs_new = sigs_all.join(
        losers.select(F.col(id_col).alias("id")), on="id", how="left_anti"
    )
    return within, sigs_new


def dedup_minhash_incremental(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    num_bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    cjk: Column | None = None,
    cjk_shingle_n: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Fuzzy-dedup a NEW batch against an existing corpus WITHOUT
    touching corpus text — the daily-ingest shape of a training
    pipeline: re-shingling 100 TB of already-accepted documents per
    batch is a non-starter, so the store keeps only ``(id, signature)``
    rows (~0.5 KB/doc at 64 hashes) produced by ``minhash_signatures``
    with the SAME ``num_hashes``/``shingle_n``/``seed`` — and, round
    14, the SAME ``cjk``/``cjk_shingle_n`` routing (signatures signed
    at different grains are incomparable; a store built unrouted must
    be re-signed before routed batches band against it).

    Three stages, each bounded by the batch size, never the corpus:

    1. batch-internal fuzzy dedup (``dedup_minhash``: exact-Jaccard
       verified, since the batch's text is in hand);
    2. cross-store candidates: band both signature sets identically
       and equi-join on (band, hash) — the corpus side is touched only
       through this short-key join, no corpus scan of text;
    3. verify candidates with the signature-estimated Jaccard
       (``signature_jaccard_expr``) — estimator tolerance is the
       documented tradeoff for never reading corpus text (stderr
       ≈ 1/sqrt(num_hashes)).

    Returns ``(survivors, survivor_sigs)``: the accepted batch rows and
    their signatures — append ``survivor_sigs`` to the store for the
    next batch. No reference counterpart (extension op).

    At full scale, write the store bucketed by its band hashes (or
    pre-banded) so the candidate equi-join prunes to the batch's
    buckets instead of shuffling the whole store per batch; the
    banding itself is a map-only transform either way.
    """
    # 1. batch-internal dedup (single signature fold — see
    # _dedup_within_batch; measured ~1 s of the bench entry at sf0.1
    # vs the call-dedup_minhash-then-refold shape)
    nb = max(1, min(num_bands, num_hashes))
    rows_per_band = max(1, num_hashes // nb)
    within, sigs_new = _dedup_within_batch(
        new_df, id_col, text_col, num_hashes, shingle_n, nb, threshold, seed,
        cjk=cjk, cjk_shingle_n=cjk_shingle_n,
    )

    # 2. cross-store banding: both sides MUST band identically
    new_banded = sigs_new.select(
        F.col("id").alias("__new_id"),
        _band_hashes_expr("signature", nb, rows_per_band).alias("band", "band_hash"),
    )
    corpus_banded = corpus_sigs.select(
        F.col("id").alias("__corp_id"),
        _band_hashes_expr("signature", nb, rows_per_band).alias("band", "band_hash"),
    )
    # id-only pairs through the short-key join; dedup keyed by the new
    # id alone so the signature re-join reuses the same partitioning
    cand = (
        new_banded.join(corpus_banded, on=["band", "band_hash"])
        .select("__new_id", "__corp_id")
        .repartition("__new_id")
        .dropDuplicates(["__new_id", "__corp_id"])
    )

    # 3. signature-estimated verify; any confirmed corpus match kills
    # the new doc (the corpus copy is the canonical survivor)
    cand_sigs = cand.join(
        sigs_new.select(F.col("id").alias("__new_id"), F.col("signature").alias("__sig_n")),
        on="__new_id",
    ).join(
        corpus_sigs.select(F.col("id").alias("__corp_id"), F.col("signature").alias("__sig_c")),
        on="__corp_id",
    )
    dup_new_ids = (
        cand_sigs.where(
            signature_jaccard_expr("__sig_n", "__sig_c") >= F.lit(float(threshold))
        )
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    survivors = within.join(dup_new_ids, on=id_col, how="left_anti")
    survivor_sigs = sigs_new.join(
        dup_new_ids.select(F.col(id_col).alias("id")), on="id", how="left_anti"
    )
    return survivors, survivor_sigs


# ---------------------------------------------------------------------------
# Bucketed signature store: the 100 TB layout for incremental dedup
# ---------------------------------------------------------------------------

# no leading underscore: Spark's file index treats _-prefixed names as
# hidden and would refuse to read the meta back; data lives under
# banded/, so the sibling meta file never pollutes a data scan
_STORE_META_FILE = "store_meta.json"
_STORE_DATA_DIR = "banded"
_STORE_HOT_DIR = "hot_bands"


def minhash_signing(
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hash_family: str = "xxhash64",
    cjk_routed: bool = False,
    cjk_shingle_n: int | None = 5,
) -> dict:
    """The canonical SIGNING RECIPE record for a signature store: the
    full set of parameters under which ``minhash_signatures`` produced
    a signature. Two signatures are comparable ONLY when every one of
    these matches — same shingle grain (``shingle_n``, and the
    script-routed char grain ``cjk_routed``/``cjk_shingle_n``), same
    base hash (``hash_family``), same universal-hash parameters
    (``num_hashes``, ``seed``). ``write_signature_store`` freezes this
    dict into ``store_meta.json`` and the incremental entry points
    assert the batch's recipe against it, so a routed batch banding
    against an unrouted store RAISES instead of silently producing
    meaningless collisions (the BM25 index's frozen ``cjk_route``/
    ``cjk_n`` meta is the same contract for term grain).

    ``cjk_shingle_n`` is normalized to None when ``cjk_routed`` is
    False — the char grain is unreachable then, and two unrouted
    stores must not reject each other over an unused knob."""
    _check_hash_family(hash_family)
    return {
        "num_hashes": int(num_hashes),
        "shingle_n": int(shingle_n),
        "seed": int(seed),
        "hash_family": hash_family,
        "cjk_routed": bool(cjk_routed),
        "cjk_shingle_n": int(cjk_shingle_n)
        if (cjk_routed and cjk_shingle_n is not None)
        else None,
    }


_SIGNING_KEYS = (
    "num_hashes",
    "shingle_n",
    "seed",
    "hash_family",
    "cjk_routed",
    "cjk_shingle_n",
)


def _check_signing(meta: dict, batch_signing: dict, caller: str) -> None:
    """Assert a batch's signing recipe against the store's frozen one.

    Legacy metas (written before the recipe was frozen) carry no
    ``signing`` key and are accepted AS UNROUTED: their shingle/seed
    config is unverifiable, but a ROUTED batch against such a store is
    still rejected — that is the one mismatch a legacy store can
    detect, and the exact silent-garbage-collision trap the freeze
    exists to close."""
    frozen = meta.get("signing")
    if frozen is None:
        if batch_signing.get("cjk_routed"):
            raise ValueError(
                f"{caller}: store has a legacy meta (no frozen signing "
                "recipe) and is therefore treated as UNROUTED, but the "
                "batch signs with cjk routing — routed and unrouted "
                "signatures are incomparable. If the store WAS "
                "legitimately built routed (only the meta record is "
                "missing), attest it without re-banding: "
                "stamp_signing(spark, store_path, minhash_signing("
                "cjk_routed=True, ...)). Otherwise sign the batch "
                "unrouted or rebuild the store."
            )
        return
    diffs = {
        k: (frozen.get(k), batch_signing.get(k))
        for k in _SIGNING_KEYS
        if frozen.get(k) != batch_signing.get(k)
    }
    if diffs:
        raise ValueError(
            f"{caller}: batch signing recipe does not match the store's "
            f"frozen recipe — mismatched keys (store, batch): {diffs}. "
            "Signatures signed under different recipes are incomparable; "
            "banding them produces meaningless collisions. Re-sign one "
            "side (or build a new store) instead."
        )


def _check_width_fold(
    meta: dict, width_fold: bool, caller: str
) -> None:
    """Fingerprint-store twin of ``_check_signing``: ``width_fold``
    changes the dedup KEY, so folded and unfolded fingerprints are
    incomparable. Legacy metas (no ``width_fold`` key) are accepted as
    unfolded — a folded batch against one raises."""
    frozen = meta.get("width_fold")
    if bool(width_fold) != bool(frozen):
        raise ValueError(
            f"{caller}: batch fingerprints use width_fold={bool(width_fold)} "
            f"but the store froze width_fold={bool(frozen)}"
            + (
                " (legacy meta without the key = unfolded)"
                if frozen is None
                else ""
            )
            + " — folded and unfolded fingerprints are incomparable keys. "
            "Re-fingerprint one side or build a new store."
        )


def _banded_store_rows(
    sigs: DataFrame, num_bands: int, rows_per_band: int, num_buckets: int
) -> DataFrame:
    """(id, signature, [extras...], band, band_hash, bucket) — one row
    per signature band, ``bucket = pmod(band_hash, num_buckets)``. The
    FULL signature rides on every banded row: num_bands× space for zero
    extra join at candidate-verify time (a matched store row already
    carries the signature the estimator needs). At 64 hashes × 16 bands
    that is ~8 KB/doc — still orders of magnitude under the document
    text the store exists to avoid re-reading. Any column of ``sigs``
    beyond (id, signature) rides along unchanged — the streaming paths
    use this to stamp a ``batch_id`` provenance column for
    crash-replay exclusion."""
    extras = [c for c in sigs.columns if c not in ("id", "signature")]
    return sigs.select(
        F.col("id"),
        F.col("signature"),
        *[F.col(c) for c in extras],
        _band_hashes_expr("signature", num_bands, rows_per_band).alias(
            "band", "band_hash"
        ),
    ).withColumn("bucket", F.pmod(F.col("band_hash"), F.lit(num_buckets)))


def _write_hot_bands(spark, path: str, hot_band_min: int) -> None:
    """Refresh the hot-band sidecar: (band, band_hash) keys whose store
    membership is at least ``hot_band_min``. The sidecar is tiny (only
    degenerate boilerplate bands qualify) and is broadcast at query
    time to drop explosive join keys BEFORE they touch the store."""
    from pyspark.sql.types import StructType

    from ..sources.fs import join_uri

    meta = read_signature_store_meta(spark, path)
    banded = spark.read.schema(StructType.fromJson(meta["schema"])).parquet(
        join_uri(path, _STORE_DATA_DIR)
    )
    hot = (
        banded.groupBy("band", "band_hash")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") >= hot_band_min)
    )
    hot.write.mode("overwrite").parquet(join_uri(path, _STORE_HOT_DIR))


def write_signature_store(
    sigs: DataFrame,
    path: str,
    num_bands: int = 16,
    num_buckets: int = 64,
    sig_len: int | None = None,
    mode: str = "overwrite",
    hot_band_min: int | None = None,
    signing: dict | None = None,
) -> None:
    """Persist a MinHash signature store PRE-BANDED and hash-bucketed —
    the layout ``dedup_minhash_incremental``'s docstring prescribes for
    full scale: parquet partitioned by ``bucket`` so each batch's
    candidate equi-join scans only the store partitions its own band
    hashes land in, instead of re-shuffling the whole store's banded
    signatures on every batch.

    ``sigs`` is ``(id, signature)`` from ``minhash_signatures``; the
    banding parameters are frozen into ``<path>/store_meta.json`` so
    every later batch bands identically (mismatched banding makes
    collisions meaningless). Store layout:

    - ``<path>/banded/bucket=<k>/*.parquet`` — (id, signature, band,
      band_hash) rows, partitioned by ``bucket = pmod(band_hash,
      num_buckets)``;
    - ``<path>/store_meta.json`` — {sig_len, num_bands, num_buckets,
      schema (frozen banded-row read schema), hot_band_min?,
      signing?};
    - ``<path>/hot_bands/`` (only with ``hot_band_min``) — the (band,
      band_hash) keys with >= hot_band_min members. Boilerplate
      templates collapse huge document populations into one band hash;
      a batch doc matching such a band would generate
      store-population-sized candidate pairs. The sidecar lets the
      candidate join drop those keys up front (pass
      ``skip_hot_bands=True`` to the incremental dedup) — the same
      recall tradeoff as ``minhash_lsh_pairs(max_bucket_size=...)``:
      docs near-identical through boilerplate alone are better caught
      by exact dedup first. Refreshed here and at compaction; plain
      appends leave it stale (conservative: a band can only MISS the
      hot list until the next compact, never wrongly sit on it unless
      the store shrank).

    ``signing`` (round 15, a ``minhash_signing(...)`` dict) freezes the
    SIGNING RECIPE — shingle grain (word ``shingle_n`` / routed char
    ``cjk_routed``+``cjk_shingle_n``), ``seed``, ``num_hashes``,
    ``hash_family`` — into the meta; the incremental entry points and
    ``append_signature_store(signing=...)`` then assert every batch
    against it, so cross-grain banding raises instead of silently
    colliding garbage. Pass it whenever you know the recipe (you do —
    you just called ``minhash_signatures``); omitting it writes a
    legacy meta that is treated as UNROUTED on later checks.

    All paths resolve through the Hadoop FS API (any Spark-readable
    scheme). Single-writer contract, same as the streaming store:
    appends from one sequential ingest loop; concurrent writers to one
    store are not supported.
    """
    from ..sources.fs import join_uri, write_text_file

    spark = sigs.sparkSession
    if signing is not None:
        unknown = [k for k in signing if k not in _SIGNING_KEYS]
        if unknown:
            raise ValueError(
                f"write_signature_store: unknown signing keys {unknown} — "
                f"build the dict with minhash_signing(...) ({_SIGNING_KEYS})"
            )
        signing = minhash_signing(**signing)
    if sig_len is None:
        row = sigs.select(F.size("signature")).first()
        if row is None:
            # freezing a wrong sig_len into the meta would reject every
            # future batch — an empty seed store must say the width
            raise ValueError(
                "write_signature_store: sigs is empty — pass sig_len "
                "explicitly to seed an empty store"
            )
        sig_len = row[0]
    nb = max(1, min(num_bands, sig_len))
    rows_per_band = max(1, sig_len // nb)
    banded = _banded_store_rows(sigs, nb, rows_per_band, num_buckets)
    # repartition ON the bucket key: ~1 file/bucket instead of
    # tasks x buckets tiny files — the pruned candidate scan opens
    # bucket-count files from day one, not only after compaction
    banded.repartition(num_buckets, "bucket").write.mode(mode).partitionBy(
        "bucket"
    ).parquet(join_uri(path, _STORE_DATA_DIR))
    meta: dict = {
        "sig_len": sig_len,
        "num_bands": nb,
        "num_buckets": num_buckets,
        # frozen read schema: an empty or partially-written store must
        # still open (no footer inference), and a million-file store
        # must not pay inference at all
        "schema": json.loads(banded.schema.json()),
    }
    if signing is not None:
        if signing["num_hashes"] != sig_len:
            raise ValueError(
                f"write_signature_store: signing.num_hashes="
                f"{signing['num_hashes']} contradicts sig_len={sig_len}"
            )
        meta["signing"] = signing
    if hot_band_min is not None:
        meta["hot_band_min"] = int(hot_band_min)
    write_text_file(spark, join_uri(path, _STORE_META_FILE), json.dumps(meta))
    if hot_band_min is not None:
        _write_hot_bands(spark, path, int(hot_band_min))


def read_signature_store_meta(spark, path: str) -> dict:
    """Banding parameters frozen at store-creation time."""
    from ..sources.fs import join_uri, read_text_file

    return json.loads(read_text_file(spark, join_uri(path, _STORE_META_FILE)))


def append_signature_store(
    sigs: DataFrame, path: str, signing: dict | None = None
) -> None:
    """Append accepted-batch signatures to an existing bucketed store,
    banded with the STORE'S frozen parameters (dynamic partition append:
    new part files land only in the bucket dirs the new rows hash to).
    ``sigs`` must carry every extra column frozen into the store schema
    (e.g. a streaming ``batch_id`` stamp) — appending a narrower
    relation would silently null provenance columns later reads depend
    on, the same contract ``append_fingerprint_store`` enforces.

    ``signing`` (a ``minhash_signing(...)`` dict) attests the recipe
    under which ``sigs`` was produced; it is asserted against the
    store's frozen recipe (mismatch raises — cross-grain signatures in
    one store make every later banding collision meaningless). Pass it
    whenever the caller knows the recipe; None skips the check (the
    signatures are already computed, so the store cannot re-derive it)."""
    meta = read_signature_store_meta(sigs.sparkSession, path)
    if signing is None and meta.get("signing") is not None:
        # the incremental/streaming entry points always attest; a direct
        # appender omitting the kwarg bypasses the frozen-recipe guard —
        # make the bypass visible without breaking pre-computed appends
        logging.getLogger(__name__).warning(
            "append_signature_store: store %s froze a signing recipe but "
            "this append carries no attestation (signing=None) — the "
            "recipe check is SKIPPED; pass signing=minhash_signing(...) "
            "to assert comparability",
            path,
        )
    if signing is not None:
        unknown = [k for k in signing if k not in _SIGNING_KEYS]
        if unknown:
            raise ValueError(
                f"append_signature_store: unknown signing keys {unknown} — "
                f"build the dict with minhash_signing(...) ({_SIGNING_KEYS})"
            )
        _check_signing(meta, minhash_signing(**signing), "append_signature_store")
    from ..sources.fs import join_uri

    nb = meta["num_bands"]
    rows_per_band = max(1, meta["sig_len"] // nb)
    banded = _banded_store_rows(sigs, nb, rows_per_band, meta["num_buckets"])
    frozen = [f["name"] for f in meta["schema"]["fields"]]
    missing = [c for c in frozen if c not in banded.columns and c != "bucket"]
    if missing:
        raise ValueError(
            f"append_signature_store: sigs lacks frozen store columns {missing}"
        )
    banded.write.mode("append").partitionBy("bucket").parquet(
        join_uri(path, _STORE_DATA_DIR)
    )


def write_fingerprint_store(
    fps: DataFrame,
    path: str,
    num_buckets: int = 256,
    mode: str = "overwrite",
    width_fold: bool = False,
    extra_meta: dict | None = None,
) -> None:
    """Persist an exact-dedup fingerprint store hash-bucketed, the
    same pruning story as the signature store but for the exact half
    of incremental ingest: ``fps`` is the ``fp`` relation
    ``dedup_exact_incremental`` returns; rows land in
    ``bucket = pmod(xxhash64(fp), num_buckets)`` parquet partitions so
    a (small) batch's anti-join scans only the buckets its own
    fingerprints hash to. Layout mirrors the signature store
    (``banded/`` data dir + frozen ``store_meta.json``). Columns of
    ``fps`` beyond ``fp`` (e.g. a streaming ``batch_id`` provenance
    stamp) are preserved and frozen into the store schema.

    ``width_fold`` (round 15) freezes the FINGERPRINTING RECIPE: did
    ``fps`` come from ``fingerprint_expr(width_fold=True)``? Folded
    and unfolded fingerprints are incomparable keys, so the
    incremental/append entry points assert their batch's fold against
    the frozen value and raise on mismatch (the signature store's
    ``signing`` contract, one knob wide). Default False matches
    ``fingerprint_expr``'s default — a caller who folded must say so
    here. ``extra_meta`` merges additional frozen keys into the meta
    (used by the streaming curation store to freeze its routing
    config); it may not shadow the store's own keys."""
    from ..sources.fs import join_uri, write_text_file

    spark = fps.sparkSession
    extras = [c for c in fps.columns if c != "fp"]
    rows = fps.select(
        F.col("fp"),
        *[F.col(c) for c in extras],
        F.pmod(F.xxhash64("fp"), F.lit(num_buckets)).alias("bucket"),
    )
    meta = {
        "num_buckets": num_buckets,
        "schema": json.loads(rows.schema.json()),
        "width_fold": bool(width_fold),
    }
    if extra_meta:
        # validated BEFORE the data write: failing after an overwrite
        # would leave a data dir with no readable meta
        clash = sorted(set(extra_meta) & set(meta))
        if clash:
            raise ValueError(
                f"write_fingerprint_store: extra_meta shadows store keys {clash}"
            )
        meta.update(extra_meta)
    # ~1 file/bucket initial layout (write_signature_store's rationale)
    rows.repartition(num_buckets, "bucket").write.mode(mode).partitionBy(
        "bucket"
    ).parquet(join_uri(path, _STORE_DATA_DIR))
    write_text_file(spark, join_uri(path, _STORE_META_FILE), json.dumps(meta))


def append_fingerprint_store(
    fps: DataFrame, path: str, width_fold: bool | None = None
) -> None:
    """Append accepted-batch fingerprints, bucketed with the store's
    frozen parameters (dynamic partition append). ``fps`` must carry
    every non-bucket column of the store's frozen schema (appending a
    narrower relation would silently null provenance columns later
    reads depend on). ``width_fold`` attests the batch's
    fingerprinting recipe and is asserted against the frozen meta
    (mismatch raises); None skips the check — the fingerprints are
    pre-computed, so the store cannot re-derive it."""
    from ..sources.fs import join_uri

    meta = read_signature_store_meta(fps.sparkSession, path)
    if width_fold is None and meta.get("width_fold") is not None:
        logging.getLogger(__name__).warning(
            "append_fingerprint_store: store %s froze width_fold=%s but "
            "this append carries no attestation (width_fold=None) — the "
            "recipe check is SKIPPED; pass width_fold explicitly to "
            "assert key comparability",
            path,
            meta.get("width_fold"),
        )
    if width_fold is not None:
        _check_width_fold(meta, width_fold, "append_fingerprint_store")
    cols = [f["name"] for f in meta["schema"]["fields"] if f["name"] != "bucket"]
    missing = [c for c in cols if c not in fps.columns]
    if missing:
        raise ValueError(
            f"append_fingerprint_store: fps lacks frozen store columns {missing}"
        )
    rows = fps.select(
        *[F.col(c) for c in cols],
        F.pmod(F.xxhash64("fp"), F.lit(meta["num_buckets"])).alias("bucket"),
    )
    rows.write.mode("append").partitionBy("bucket").parquet(
        join_uri(path, _STORE_DATA_DIR)
    )


def stamp_signing(spark, store_path: str, signing: dict) -> None:
    """Migration helper for LEGACY minhash stores (seeded before round
    15 froze signing recipes): write the attested recipe into the
    store's meta WITHOUT re-banding — the signatures in a legacy store
    are fine; only the meta record is missing, and the frozen-recipe
    guard would otherwise hard-fail an existing routed pipeline on
    upgrade. Handles BOTH durable layouts: a bucketed store
    (``store_meta.json`` present) gets the ``signing`` key merged into
    its meta; a flat streaming store gets the ``flat_signing.json``
    sidecar ``stream_dedup_incremental`` asserts. Refuses to overwrite
    a DIFFERING frozen recipe — that would launder a real mismatch
    into an attested one."""
    from ..sources.fs import (
        hadoop_path_exists,
        join_uri,
        write_text_file,
    )

    signing = minhash_signing(**signing)
    meta_path = join_uri(store_path, _STORE_META_FILE)
    if hadoop_path_exists(spark, meta_path):
        meta = read_signature_store_meta(spark, store_path)
        frozen = meta.get("signing")
        if frozen is not None:
            if frozen != signing:
                raise ValueError(
                    f"stamp_signing: store already froze {frozen}, "
                    f"differing from {signing} — stamping over it would "
                    "attest incomparable signatures as comparable."
                )
            return
        meta["signing"] = signing
        write_text_file(spark, meta_path, json.dumps(meta))
        return
    flat_path = join_uri(store_path, "flat_signing.json")
    if hadoop_path_exists(spark, flat_path):
        from ..sources.fs import read_text_file

        frozen = json.loads(read_text_file(spark, flat_path))
        if frozen != signing:
            raise ValueError(
                f"stamp_signing: store already froze {frozen}, differing "
                f"from {signing} — stamping over it would attest "
                "incomparable signatures as comparable."
            )
        return
    write_text_file(spark, flat_path, json.dumps(signing))


def stamp_width_fold(spark, store_path: str, width_fold: bool) -> None:
    """Fingerprint-store twin of ``stamp_signing``: attest a legacy
    fingerprint store's ``width_fold`` recipe into its meta without
    re-bucketing. Refuses to FLIP an explicitly frozen value."""
    from ..sources.fs import join_uri, write_text_file

    meta = read_signature_store_meta(spark, store_path)
    frozen = meta.get("width_fold")
    if frozen is not None:
        if bool(frozen) != bool(width_fold):
            raise ValueError(
                f"stamp_width_fold: store already froze "
                f"width_fold={bool(frozen)} — folded and unfolded "
                "fingerprints are incomparable keys; stamping the "
                "opposite would attest them as comparable."
            )
        return
    meta["width_fold"] = bool(width_fold)
    write_text_file(
        spark, join_uri(store_path, _STORE_META_FILE), json.dumps(meta)
    )


def _exclude_batch_filter(store: DataFrame, schema, exclude_batch_id):
    """Replay-exclusion filter shared by the bucketed stores: drop
    store rows stamped with the CURRENT batch id — on a crash-replay
    they are this very batch's own earlier append, and deduping
    against them would silently kill every survivor (emitting them all
    as duplicates). Requires the store to have been seeded with a
    ``batch_id`` column; a store without one cannot distinguish its
    own replay from history, so asking for exclusion there is an
    error, not a no-op."""
    if exclude_batch_id is None:
        return store
    if "batch_id" not in [f.name for f in schema.fields]:
        raise ValueError(
            "exclude_batch_id requires a store seeded with a batch_id "
            "column (stamp appends with F.lit(batch_id))"
        )
    return store.where(
        F.coalesce(
            F.col("batch_id") != F.lit(int(exclude_batch_id)), F.lit(True)
        )
    )


def dedup_exact_incremental_bucketed(
    new_df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    append_survivors: bool = False,
    exclude_batch_id: int | None = None,
    width_fold: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """``dedup_exact_incremental`` against a bucketed on-disk
    fingerprint store: the store side of the anti-join is
    partition-pruned to the buckets the batch's fingerprints hash to
    (bounded driver collect of ≤ num_buckets ints). Semantically
    identical — bucket is a pure function of fp, so pruned-away rows
    can never match. ``exclude_batch_id`` ignores store rows stamped
    with that batch id (crash-replay idempotency — see
    ``_exclude_batch_filter``). ``width_fold`` keys the batch on the
    fullwidth-folded fingerprint and is asserted against the store's
    frozen recipe (``_check_width_fold`` — a folded batch against an
    unfolded store raises instead of silently missing every folded
    duplicate)."""
    from pyspark.sql.types import StructType

    from ..sources.fs import join_uri

    spark = new_df.sparkSession
    recover_store_data(spark, store_path)  # heal a crashed compaction
    meta = read_signature_store_meta(spark, store_path)
    _check_width_fold(meta, width_fold, "dedup_exact_incremental_bucketed")
    fp = "__gs_fp"
    within = dedup_exact(new_df, text_col, id_col, width_fold)
    new_fp = within.withColumn(
        fp, fingerprint_expr(text_col, width_fold)
    ).withColumn(
        "__bucket", F.pmod(F.xxhash64(fp), F.lit(meta["num_buckets"]))
    ).localCheckpoint(eager=True)  # batch-sized; feeds bucket list + join
    batch_buckets = [r[0] for r in new_fp.select("__bucket").distinct().collect()]
    store_schema = StructType.fromJson(meta["schema"])
    store = (
        spark.read.schema(store_schema)
        .parquet(join_uri(store_path, _STORE_DATA_DIR))
        .where(F.col("bucket").isin(batch_buckets))
    )
    store = _exclude_batch_filter(store, store_schema, exclude_batch_id)
    survivors = new_fp.join(
        store.select(F.col("fp").alias(fp)), on=fp, how="left_anti"
    )
    survivor_fps = survivors.select(F.col(fp).alias("fp"))
    out = survivors.drop(fp, "__bucket")
    if append_survivors:
        out = out.localCheckpoint(eager=True)
        survivor_fps = survivor_fps.localCheckpoint(eager=True)
        append_fingerprint_store(survivor_fps, store_path, width_fold=width_fold)
    return out, survivor_fps


def recover_store_data(
    spark, path: str, data_dir: str = _STORE_DATA_DIR
) -> bool:
    """Heal a ``_compact_store_data`` swap that died halfway
    (``sources/fs.heal_dir`` on ``<path>/<data_dir>``). Called by the
    bucketed readers and by the compactor itself, so a crashed
    compaction heals on next touch."""
    from ..sources.fs import heal_dir, join_uri

    return heal_dir(spark, join_uri(path, data_dir))


def _compact_store_data(
    spark,
    path: str,
    transform=None,
    data_dir: str = _STORE_DATA_DIR,
    part_col: str = "bucket",
    schema=None,
) -> None:
    """Shared compaction body for every partitioned store (signature /
    fingerprint / semantic): read the data dir with the frozen meta
    schema, optionally ``transform`` the relation, repartition by the
    partition column so each partition dir lands in exactly one task
    (→ exactly one output file per dir), write to a sibling tmp dir,
    then swap via Hadoop-FS renames. Finally, the streaming replay
    markers under ``<path>/batches/`` are dropped: compaction runs
    between batches with the stream stopped and committed, so every
    marker is stale (markers only ever protect the last UNCOMMITTED
    batch) — leaving them would accrete one tiny object per
    micro-batch forever.

    Same single-writer contract as appends: run between ingest batches,
    not concurrently with one. The swap and its crash heal are
    ``sources/fs.replace_dir`` / ``heal_dir``.
    """
    from pyspark.sql.types import StructType

    from ..sources.fs import delete_path, join_uri, replace_dir

    recover_store_data(spark, path, data_dir)  # heal a prior crash first
    if schema is None:
        meta = read_signature_store_meta(spark, path)
        schema = StructType.fromJson(meta["schema"])
    data = join_uri(path, data_dir)
    df = spark.read.schema(schema).parquet(data)
    if transform is not None:
        df = transform(df)
    replace_dir(
        spark,
        data,
        df.repartition(part_col).write.mode("overwrite").partitionBy(part_col).parquet,
    )
    delete_path(spark, join_uri(path, "batches"))


def fingerprint_store_membership(
    fps: DataFrame, store_path: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """Which of a batch's fingerprints already exist in the bucketed
    store? ``fps`` is a relation with an ``fp`` column; returns the
    subset of its DISTINCT fingerprints that have at least one store
    occurrence — the membership probe a verdict-style consumer (the
    streaming curation filter) needs, where the anti-join shape of
    ``dedup_exact_incremental_bucketed`` would drop the very rows it
    must flag.

    Scale shape: the store scan is partition-PRUNED to the buckets the
    batch's fingerprints hash to (bounded driver collect of
    ≤ num_buckets ints), and the BATCH side — bounded by the
    micro-batch — is broadcast into a semi-join against the store. The
    store is never shuffled and never broadcast, so the probe stays
    ∝ batch + matching buckets no matter how many billions of
    fingerprints the store holds. ``exclude_batch_id`` ignores store
    rows stamped with that batch id (crash-replay idempotency — see
    ``_exclude_batch_filter``).
    """
    from pyspark.sql.types import StructType

    from ..sources.fs import join_uri

    spark = fps.sparkSession
    recover_store_data(spark, store_path)  # heal a crashed compaction
    meta = read_signature_store_meta(spark, store_path)
    schema = StructType.fromJson(meta["schema"])
    batch = (
        fps.select("fp")
        .distinct()
        .withColumn(
            "__bucket", F.pmod(F.xxhash64("fp"), F.lit(meta["num_buckets"]))
        )
        .localCheckpoint(eager=True)  # batch-sized; feeds bucket list + join
    )
    buckets = [r[0] for r in batch.select("__bucket").distinct().collect()]
    store = (
        spark.read.schema(schema)
        .parquet(join_uri(store_path, _STORE_DATA_DIR))
        .where(F.col("bucket").isin(buckets))
    )
    store = _exclude_batch_filter(store, schema, exclude_batch_id)
    return (
        store.join(F.broadcast(batch.select("fp")), on="fp", how="left_semi")
        .select("fp")
        .distinct()
    )


def compact_signature_store(spark, path: str) -> None:
    """Rewrite the bucketed signature store to one part file per bucket.

    Every ``append_signature_store`` call adds a new part file to each
    bucket dir it touches, so after N ingest batches a bucket holds up
    to N small files — at which point listing and opening files, not
    reading bytes, dominates the candidate-join scan. Compaction is the
    standard maintenance pass (see ``_compact_store_data`` for the
    swap/durability contract). Full-row duplicates — a crash between a
    streaming append and its marker write re-appends the same banded
    rows — are reclaimed here, same as the sibling stores.
    """
    _compact_store_data(spark, path, transform=lambda df: df.dropDuplicates())
    # compaction is the natural refresh point for the hot-band sidecar
    # (appends leave it stale-conservative; see write_signature_store)
    meta = read_signature_store_meta(spark, path)
    if meta.get("hot_band_min") is not None:
        _write_hot_bands(spark, path, int(meta["hot_band_min"]))


def recover_flat_store(spark, store_dir: str, data_name: str) -> bool:
    """Heal a ``compact_flat_store``/``compact_count_store`` swap that
    died halfway (``sources/fs.heal_dir`` on the data path): a reader
    that took the missing store for an empty one would silently
    re-accept every previously-seen key. Returns True when data was
    restored. Called by the streaming store readers and by the
    compactors themselves, so a crash heals on the next touch."""
    from ..sources.fs import heal_dir, join_uri

    return heal_dir(spark, join_uri(store_dir, data_name))


def compact_flat_store(
    spark,
    store_dir: str,
    data_name: str,
    key_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Compaction for the FLAT replay-safe stores (the URL-dedup
    ``urls.parquet`` and media-dedup ``hashes.parquet`` layouts): the
    streaming appenders legitimately re-append a batch's keys when a
    crash lands between the append and its ``.done`` marker
    (documented harmless-but-wasteful), and every micro-batch adds
    part files — this is where both accrue costs are reclaimed.

    Dedups by ``key_cols`` (presence semantics — the screens only ask
    whether a key exists), DROPS the ``batch_id`` stamp column (the
    single-writer contract requires compaction to run between
    committed batches, so every stamp is stale), optionally coalesces
    to ``num_files`` part files, writes to a sibling tmp dir and swaps
    via Hadoop-FS renames, then clears the stale ``batches/`` markers
    (they only ever protect the last UNCOMMITTED batch).
    """
    from ..sources.fs import delete_path, hadoop_path_exists, join_uri, replace_dir

    recover_flat_store(spark, store_dir, data_name)  # heal a prior crash first
    data_path = join_uri(store_dir, data_name)
    if not hadoop_path_exists(spark, data_path):
        return
    df = spark.read.parquet(data_path)
    if "batch_id" in df.columns:
        df = df.drop("batch_id")
    out = df.dropDuplicates(key_cols)
    if num_files is not None:
        out = out.repartition(int(num_files))
    replace_dir(spark, data_path, out.write.mode("overwrite").parquet)
    delete_path(spark, join_uri(store_dir, "batches"))


def compact_count_store(
    spark,
    store_dir: str,
    data_name: str,
    key_cols: list[str],
    count_col: str = "cnt",
    num_files: int | None = None,
) -> None:
    """Compaction for ADDITIVE flat count stores (the streaming
    domain-cap ``domains.parquet`` layout). Presence-semantics
    compaction (``compact_flat_store``) would be WRONG here — counts
    must SUM, and a crash-window duplicate append must be reclaimed by
    the idempotence key, not dropped by value. The read/compact rule
    both sides share: rows dedup by ``key_cols + [batch_id]`` (an
    appender writes at most one row per key per batch, so a replayed
    append is byte-identical and collapses), THEN sum. Compacted rows
    carry ``batch_id`` NULL — one row per key, still unique under the
    dedup key. Same tmp-write/rename swap as ``compact_flat_store``
    (run between committed batches; ``recover_flat_store`` heals a
    mid-swap crash) — but UNLIKE the presence stores, the ``batches/``
    replay markers are KEPT: compaction folds a batch's counts into
    ``batch_id``-NULL rows, which the read-side ``(key, batch_id)``
    dedup can no longer exclude — so if that batch ever replays (a
    checkpoint restored to before compaction), only its surviving
    ``.done`` marker stops a re-append from double-counting. Markers
    cost one tiny object per batch; for an ADDITIVE store that is the
    cheap side of the trade."""
    from ..sources.fs import hadoop_path_exists, join_uri, replace_dir

    recover_flat_store(spark, store_dir, data_name)
    data_path = join_uri(store_dir, data_name)
    if not hadoop_path_exists(spark, data_path):
        return
    df = spark.read.parquet(data_path)
    if "batch_id" in df.columns:
        df = df.dropDuplicates(key_cols + ["batch_id"])
    out = (
        df.groupBy(*key_cols)
        .agg(F.sum(count_col).alias(count_col))
        .withColumn("batch_id", F.lit(None).cast("long"))
    )
    if num_files is not None:
        out = out.repartition(int(num_files))
    replace_dir(spark, data_path, out.write.mode("overwrite").parquet)


def compact_fingerprint_store(spark, path: str) -> None:
    """Rewrite the bucketed FINGERPRINT store to one part file per
    bucket — the exact-dedup half of the maintenance story
    (``compact_signature_store``'s sibling). Besides collapsing the
    per-append part files, full-row duplicates are dropped: a crash
    between a streaming append and its marker write legitimately
    re-appends the same (fp, batch_id) rows (documented
    harmless-but-wasteful), and compaction is where that waste is
    reclaimed. Presence-semantics make the drop safe — the anti-join
    only asks whether a fingerprint exists.
    """
    _compact_store_data(spark, path, transform=lambda df: df.dropDuplicates())


def dedup_minhash_incremental_bucketed(
    new_df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    append_survivors: bool = False,
    skip_hot_bands: bool = False,
    exclude_batch_id: int | None = None,
    cjk: Column | None = None,
    cjk_shingle_n: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """``dedup_minhash_incremental`` against a BUCKETED on-disk store:
    semantically identical output (``bucket`` is a pure function of
    ``band_hash``, so joining on (bucket, band, band_hash) equals
    joining on (band, band_hash)), but the store side of the candidate
    join is PARTITION-PRUNED to the buckets the batch actually hashes
    into — the distinct batch buckets (≤ num_buckets ints, a bounded
    driver collect) become a static ``bucket IN (...)`` partition
    filter on the store scan. Per-batch cost is bounded by the batch
    and the matching store partitions, never the full store.

    Banding parameters come from the store's frozen meta; ``num_hashes``
    /``shingle_n``/``seed`` — and the ``cjk``/``cjk_shingle_n`` routing
    (round 14) — must match what produced the stored signatures (they
    parameterize the batch side; routed and unrouted signatures are
    incomparable). Round 15: the batch's full signing recipe is
    ASSERTED against the store's frozen ``signing`` meta before any
    work — a mismatch raises (``_check_signing``; legacy metas without
    the record are treated as unrouted). With
    ``append_survivors=True`` the accepted signatures are appended to
    the store before returning (survivors are localCheckpoint-pinned
    first so the already-computed result can't observe the append).

    ``skip_hot_bands=True`` (requires a store written with
    ``hot_band_min``) drops the batch's band keys that sit on the
    store's hot-band sidecar BEFORE the store join — the guard against
    boilerplate bands whose membership is store-population-sized and
    whose candidate fan-out would be quadratic. Documented recall
    tradeoff mirroring ``minhash_lsh_pairs(max_bucket_size=...)``.

    ``exclude_batch_id`` ignores store rows stamped with that batch id
    (crash-replay idempotency for the streaming wrapper — see
    ``_exclude_batch_filter``).
    """
    from ..sources.fs import join_uri

    spark = new_df.sparkSession
    recover_store_data(spark, store_path)  # heal a crashed compaction
    meta = read_signature_store_meta(spark, store_path)
    nb = meta["num_bands"]
    num_buckets = meta["num_buckets"]
    sig_len = meta["sig_len"]
    if sig_len != num_hashes:
        raise ValueError(
            f"store holds {sig_len}-hash signatures; batch asked for {num_hashes}"
        )
    batch_signing = minhash_signing(
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        seed=seed,
        # _dedup_within_batch signs with minhash_signatures' default
        # base hash; a store signed under md5 must reject this batch
        hash_family="xxhash64",
        cjk_routed=cjk is not None,
        cjk_shingle_n=cjk_shingle_n,
    )
    _check_signing(meta, batch_signing, "dedup_minhash_incremental_bucketed")
    rows_per_band = max(1, sig_len // nb)

    # 1. batch-internal fuzzy dedup (shared single-fold stage)
    within, sigs_new = _dedup_within_batch(
        new_df, id_col, text_col, num_hashes, shingle_n, nb, threshold, seed,
        cjk=cjk, cjk_shingle_n=cjk_shingle_n,
    )

    # 2. band the batch ONCE (multi-consumer: bucket list + join side)
    new_banded = _banded_store_rows(sigs_new, nb, rows_per_band, num_buckets).select(
        F.col("id").alias("__new_id"),
        F.col("signature").alias("__sig_n"),
        "band",
        "band_hash",
        "bucket",
    ).localCheckpoint(eager=True)
    if skip_hot_bands:
        from ..sources.fs import hadoop_path_exists

        hot_path = join_uri(store_path, _STORE_HOT_DIR)
        if meta.get("hot_band_min") is None or not hadoop_path_exists(
            spark, hot_path
        ):
            raise ValueError(
                "skip_hot_bands requires a store written with hot_band_min"
            )
        hot = spark.read.parquet(hot_path).select("band", "band_hash")
        new_banded = new_banded.join(
            F.broadcast(hot), on=["band", "band_hash"], how="left_anti"
        )
    # bounded collect: at most num_buckets distinct ints
    batch_buckets = [
        r[0] for r in new_banded.select("bucket").distinct().collect()
    ]

    # 3. store scan pruned to the batch's buckets (partition filter),
    # then the short-key candidate equi-join; matched store rows carry
    # the corpus signature, so verify needs NO further store join.
    # Frozen meta schema: no footer inference (works on empty stores
    # and skips a listing-wide inference pass on huge ones).
    from pyspark.sql.types import StructType

    store_schema = StructType.fromJson(meta["schema"])
    store = (
        spark.read.schema(store_schema)
        .parquet(join_uri(store_path, _STORE_DATA_DIR))
        .where(F.col("bucket").isin(batch_buckets))
    )
    store = _exclude_batch_filter(store, store_schema, exclude_batch_id)
    cand = (
        new_banded.join(
            store.select(
                F.col("id").alias("__corp_id"),
                F.col("signature").alias("__sig_c"),
                "band",
                "band_hash",
                "bucket",
            ),
            on=["bucket", "band", "band_hash"],
        )
        .select("__new_id", "__sig_n", "__corp_id", "__sig_c")
        .repartition("__new_id")
        .dropDuplicates(["__new_id", "__corp_id"])
    )
    dup_new_ids = (
        cand.where(
            signature_jaccard_expr("__sig_n", "__sig_c") >= F.lit(float(threshold))
        )
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    survivors = within.join(dup_new_ids, on=id_col, how="left_anti")
    survivor_sigs = sigs_new.join(
        dup_new_ids.select(F.col(id_col).alias("id")), on="id", how="left_anti"
    )
    if append_survivors:
        survivors = survivors.localCheckpoint(eager=True)
        survivor_sigs = survivor_sigs.localCheckpoint(eager=True)
        append_signature_store(survivor_sigs, store_path, signing=batch_signing)
    return survivors, survivor_sigs


def simhash_expr(
    text: Column | str,
    n_bits: int = 64,
    hash_family: str = "xxhash64",
    cjk: Column | None = None,
    cjk_n: int = 5,
) -> Column:
    """64-bit SimHash of the whitespace tokens — computed entirely
    inside the row with higher-order functions (no explode, no
    shuffle): per token, xxhash64 drives each bit's +1/-1 vote;
    aggregate sums votes; the sign pattern packs into one long.

    ``cjk`` (round 14, typically ``is_cjk_doc_expr``) routes a doc's
    FEATURES to raw char ``cjk_n``-grams (the char-grain analog of
    word unigrams — one vote per gram position): an unsegmented CJK
    document is one whitespace token, so its unrouted fingerprint is
    the sign pattern of a single hash and carries no similarity
    signal at all.

    The bit loop is a runtime ``sequence(0, n_bits-1)`` with
    column-count shifts (``shiftright(h, j)``), NOT a Python-unrolled
    n_bits-wide expression: unrolling produced multi-MiB codegen and
    dominated runtime at every scale.

    ``hash_family="md5"`` swaps the token hash for the engine-portable
    60-bit md5 prefix; ``n_bits`` is then capped at 60 (higher bits of
    the base hash don't exist, so votes there would be constant -1).
    """
    _check_hash_family(hash_family)
    if hash_family == "md5" and n_bits > 60:
        raise ValueError("hash_family='md5' supports at most n_bits=60")
    t = F.col(text) if isinstance(text, str) else text
    # Hash each token once (the hash is reused by all n_bits votes).
    tok_hash = (
        (lambda tok: F.xxhash64(tok))
        if hash_family == "xxhash64"
        else (lambda tok: _md5_int_expr(tok, 15))
    )
    features = tokens_expr(t)
    if cjk is not None:
        features = F.when(
            cjk, _grams_from_tokens(cjk_char_tokens_expr(t), cjk_n)
        ).otherwise(features)
    tok_hashes = F.transform(features, lambda tok: tok_hash(tok))
    bit_idx = F.sequence(F.lit(0), F.lit(n_bits - 1))
    zero = F.array_repeat(F.lit(0).cast("long"), n_bits)
    one = F.lit(1).cast("long")

    votes = F.aggregate(
        tok_hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_idx,
                lambda j: F.when(
                    F.call_function("shiftright", h, j).bitwiseAND(one) == 1, one
                ).otherwise(-one),
            ),
            lambda a, v: a + v,
        ),
    )
    # Pack sign bits: OR of shiftleft(1, j) — shifts never overflow-check,
    # so bit 63 is safe even under ANSI mode. zip_with keeps ``votes``
    # evaluated ONCE (putting it inside an aggregate lambda would
    # re-evaluate the whole vote aggregate per bit).
    bits = F.zip_with(
        votes,
        bit_idx,
        lambda v, j: F.when(v > 0, F.call_function("shiftleft", one, j)).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    hash_family: str = "xxhash64",
    cjk: Column | None = None,
    cjk_n: int = 5,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole blocking: split the 64-bit hash into ``n_blocks`` bands;
    any pair within ``max_hamming`` Hamming distance must agree on at
    least one full band **provided** ``n_blocks > max_hamming`` — the
    default derives exactly that, keeping recall = 1.0. Candidates come
    from equi-joins on band values — no cross product.
    Output: ``id_a, id_b, hamming``.

    ``hash_family="md5"`` uses the engine-portable 60-bit SimHash. The
    64-bit block arithmetic needs no change: differing bits OUTSIDE the
    blocked region never break a block agreement, so with ``n_blocks >
    max_hamming`` blocks at most ``max_hamming`` of them contain a
    differing bit and at least one block still matches — recall is 1.0
    regardless of bit coverage. Because blocking is recall-1.0 and the
    hamming post-filter is exact, the output EQUALS the quadratic
    `hamming <= max_hamming` pair set — what the SQL oracle computes.

    EAGER-EXECUTION tradeoff (deliberate, same as
    ``ngram_jaccard_pairs``): returns an eagerly materialized
    ``localCheckpoint`` so the two-branch block self-join is computed
    once and its persist is released inside this call; the result is
    pinned (non-recomputable on executor loss) and blocks downstream
    pushdown.
    """
    if n_blocks is None:
        n_blocks = min(max_hamming + 1, 32)
    bits_per = max(1, 64 // n_blocks)
    mask = (1 << bits_per) - 1
    n_bits = 64 if hash_family == "xxhash64" else 60
    h = _spread(df).select(
        F.col(id_col).alias("id"),
        simhash_expr(F.col(text_col), n_bits, hash_family, cjk, cjk_n).alias(
            "__sim"
        ),
    )
    blocks = h.select(
        "id",
        "__sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__sim"), i * bits_per).bitwiseAND(F.lit(mask))
                    for i in range(n_blocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    # Candidate pairs via a self-join on the short (block, value) key.
    # NOTE the bucket-groupBy shape used by minhash_lsh_pairs is WRONG
    # here: block values are only ~64/n_blocks bits wide, so the value
    # space is tiny (128 for the Hamming-8 default) and one hot value
    # structurally collects thousands of members — a single exploding
    # row no runtime can split. The join keeps the quadratic candidate
    # stream inside AQE's skew-split reach (measured ~25% faster at
    # sf0.1, where the hottest bucket holds 2k+ docs).
    # The blocks relation feeds both join branches, so it is persisted
    # for the duration of this call and released before returning; the
    # (small) matching-pair output is checkpointed eagerly.
    blocks = blocks.persist()
    try:
        a = blocks.select(F.col("id").alias("id_a"), F.col("__sim").alias("__sim_a"), "block", "block_val")
        b = blocks.select(F.col("id").alias("id_b"), F.col("__sim").alias("__sim_b"), "block", "block_val")
        hamming = F.bit_count(F.col("__sim_a").bitwiseXOR(F.col("__sim_b")))
        # Hamming filter BEFORE the dedup shuffle: the distinct then
        # moves only matching pairs, not every multi-block collision.
        out = (
            a.join(b, on=["block", "block_val"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct()
        )
        return out.localCheckpoint(eager=True)
    finally:
        blocks.unpersist()


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    use_lsh: bool = True,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Pairs of near-identical embeddings (cosine >= threshold).

    Default is LSH candidate generation (random-hyperplane buckets) —
    the plan a 100 TB corpus needs: no CartesianProduct anywhere, pairs
    only within hash buckets, and the bucket join + pair dedup shuffle
    ONLY (id, table, bucket) rows — vectors are re-joined exactly once
    after the dedup (the ``ann_lsh_topk`` candidate shape; carrying
    vectors through would replicate every embedding n_tables× across
    two shuffles). ``use_lsh=False`` opts into the exact O(n²)
    cross-join baseline for small, bounded corpora (it is what the
    oracle-checked ``embedding_neardup`` query pins).

    NOTE (changed default in v0.2): earlier revisions defaulted to the
    exact path; the default is now the approximate LSH path, which can
    miss pairs no table buckets together (recall gated ≥ the floors in
    tests/test_dedup_similarity.py). Pass ``use_lsh=False`` for the old
    exact semantics.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    if use_lsh:
        from .similarity import hyperplanes, lsh_buckets_expr

        dim_row = df.select(F.size(vec_col)).first()
        dim = dim_row[0] if dim_row else 0
        all_planes = [
            hyperplanes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)
        ]
        # Id-only candidate generation: the exploded relations carry
        # (id, table, bucket) — never the vectors.
        ab = df.select(
            F.col(id_col).alias("id_a"),
            F.posexplode(lsh_buckets_expr(F.col(vec_col), all_planes)).alias(
                "__t", "__bk"
            ),
        )
        bb = df.select(
            F.col(id_col).alias("id_b"),
            F.posexplode(lsh_buckets_expr(F.col(vec_col), all_planes)).alias(
                "__t", "__bk"
            ),
        )
        # Partition the pair-dedup by id_a alone: a subset of the dedup
        # keys satisfies the aggregate's required distribution, and the
        # SAME id_a partitioning is what the first vector re-join needs
        # — when that join shuffles (the 100 TB regime; at bench scale
        # AQE broadcasts it), the candidate side moves once, not twice.
        cand_ids = (
            ab.join(bb, on=["__t", "__bk"])
            .where(F.col("id_a") < F.col("id_b"))  # before dedup: halves the shuffle
            .select("id_a", "id_b")
            .repartition("id_a")
            .dropDuplicates(["id_a", "id_b"])
        )
        # Vectors re-joined once, post-dedup.
        cand = cand_ids.join(a, on="id_a").join(b, on="id_b")
    else:
        cand = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        cand.select(
            "id_a", "id_b", cosine_similarity_expr("__va", "__vb").alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
    )


def connected_min_labels(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: returns
    ``id, label`` where ``label`` is the component's minimum id.

    Iterative min-label propagation (the classic Spark pattern for
    iterative graph algorithms): each round every node adopts the
    smallest label among itself and its neighbors; convergence is
    checked with a changed-count aggregate and lineage is cut with
    ``localCheckpoint`` so plan depth stays constant across rounds.
    Rounds needed = graph diameter (near-dup clusters are shallow;
    ``max_iter`` bounds pathological chains).

    Storage discipline: each round's ``localCheckpoint`` pins blocks on
    the executors; the PRIOR round's blocks are explicitly unpersisted
    as soon as the new round is materialized, so executor storage stays
    flat (one round's labels) on deep graphs instead of accumulating
    ``max_iter`` generations until Python GC runs. Only the final
    round's checkpoint (backing the returned DataFrame) is left alive —
    the caller owns it.
    """
    sc = pairs.sparkSession.sparkContext

    def _pids() -> set[int]:
        try:
            return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
        except Exception:  # pragma: no cover - py4j internals moved
            return set()

    def _release(rids: set[int]) -> None:
        try:
            jmap = sc._jsc.getPersistentRDDs()
            for rid in rids:
                jrdd = jmap.get(rid)
                if jrdd is not None:
                    jrdd.unpersist(False)
        except Exception:  # pragma: no cover - py4j internals moved
            pass

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    pre = _pids()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    own = _pids() - pre  # blocks backing the current labels generation
    for _ in range(max_iter):
        # neighbor's current label, min'd per node
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        updated = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.coalesce("nlabel", "label") < F.col("label")).cast("int").alias("__chg"),
            )
        )
        pre = _pids()
        updated = updated.localCheckpoint()  # cut lineage each round (eager)
        new_own = _pids() - pre
        changed = updated.agg(F.sum("__chg")).first()[0] or 0
        _release(own)  # prior generation no longer referenced
        own = new_own
        labels = updated.drop("__chg")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 10,
) -> DataFrame:
    """Drop every row whose id belongs to a duplicate cluster but is
    not the cluster's minimum id — exact transitive closure of the
    pair graph (unlike the single-hop drop in ``dedup_minhash``)."""
    labels = connected_min_labels(pairs, max_iter=max_iter)
    losers = labels.where(F.col("id") != F.col("label")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """C4-style line-level corpus dedup: any line occurring at least
    ``min_count`` times ACROSS the corpus (boilerplate — nav menus,
    cookie banners, licence footers) is removed from every document,
    except — when ``keep_first`` — its first occurrence (smallest
    ``(id, line position)``). Documents come back reassembled with the
    surviving lines in original order, plus per-doc removal counts.

    Output: ``(id_col, text_dedup, n_lines, n_lines_kept)``; documents
    with NULL text carry no lines and are absent (match the scan side
    with a left join when totality is needed).

    Scale shape: dedup decisions ride the 16-byte md5 of each line,
    never the line text twice — the stats aggregate ships ONLY
    duplicate-line groups (``HAVING count >= min_count``) back into an
    INNER join against the line stream (only duplicate occurrences
    survive it), removal positions aggregate to one position-set row
    per AFFECTED doc (shuffle ∝ boilerplate mass), and the rebuild is
    fully in-row: the removal set left-joins the per-doc line arrays
    (AQE-broadcast in the common case, so untouched docs never shuffle)
    and survivors come from ``array_except`` over a position sequence —
    no doc-keyed reassembly of the whole corpus. The same shape C4's
    pipeline uses at web scale.

    No reference counterpart (extension op; C4 / Raffel et al. 2020
    §2.2 "deduplicating three-sentence spans" simplified to the
    line-grain variant RefinedWeb/MassiveText use for boilerplate).
    """
    base = df.select(
        F.col(id_col).alias("__id"), F.split(F.col(text_col), "\n").alias("__lines")
    ).where(F.col("__lines").isNotNull())
    lines = base.select(
        "__id", F.posexplode("__lines").alias("__idx", "__line")
    )
    key = F.md5(F.col("__line"))
    stats = (
        lines.groupBy(key.alias("__k"))
        .agg(
            F.count("*").alias("__n"),
            F.min(F.struct(F.col("__id").alias("d"), F.col("__idx").alias("i"))).alias(
                "__first"
            ),
        )
        .where(F.col("__n") >= int(min_count))
    )
    dup_occurrences = lines.join(stats, key == F.col("__k"))
    if keep_first:
        dup_occurrences = dup_occurrences.where(
            ~(
                (F.col("__first.d") == F.col("__id"))
                & (F.col("__first.i") == F.col("__idx"))
            )
        )
    rm_sets = dup_occurrences.groupBy("__id").agg(
        F.collect_set("__idx").alias("__rm_set")
    )
    joined = base.join(rm_sets, on="__id", how="left")
    m = F.size("__lines")
    keep_pos = F.array_sort(
        F.array_except(F.sequence(F.lit(0), m - 1), F.col("__rm_set"))
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.when(
            F.col("__rm_set").isNull(), F.concat_ws("\n", F.col("__lines"))
        )
        .otherwise(
            F.concat_ws(
                "\n",
                F.transform(keep_pos, lambda i: F.element_at("__lines", i + 1)),
            )
        )
        .alias("text_dedup"),
        m.cast("long").alias("n_lines"),
        F.when(F.col("__rm_set").isNull(), m)
        .otherwise(F.size(keep_pos))
        .cast("long")
        .alias("n_lines_kept"),
    )


# RE2∩Java-safe sentence boundary: terminal punctuation run + spaces.
# Splitting CONSUMES the delimiter (no lookbehind in RE2/DuckDB), so
# sentences carry no trailing punctuation — a documented normalization
# of the dedup output, applied identically on both engines.
SENTENCE_SPLIT_RE = r"[.!?]+\s+"
# CJK-aware variant (round 13): fullwidth terminators (。！？…‼ and
# the ideographic comma-less boundary) end a sentence WITHOUT a
# following space — real Chinese/Japanese prose never has one, so the
# ASCII pattern sees a whole CJK document as ONE sentence and the
# span grain goes vacuous on exactly the corpora C4-style dedup is
# meant to scrub. Pass as ``sentence_split_re`` on a CJK/multilingual
# corpus (kept opt-in so existing oracles/checkpoints stay
# byte-identical). Still RE2∩Java-safe: literal BMP chars, no
# lookaround.
CJK_SENTENCE_SPLIT_RE = r"[.!?]+\s+|[。！？…‼]+"


def sentence_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_count: int = 2,
    broadcast_stats: bool = False,
    sentence_split_re: str = SENTENCE_SPLIT_RE,
) -> DataFrame:
    """C4's ACTUAL dedup grain (Raffel et al. 2020 §2.2: "we discarded
    all but one of any three-sentence span occurring more than once"):
    documents split into sentences, every ``n``-sentence span hashed,
    and each occurrence of a corpus-duplicated span EXCEPT the global
    first (smallest ``(id, position)``) marks its member sentences for
    removal — so repeated boilerplate REGIONS vanish while one copy
    survives, without dropping whole documents (the line/document
    grains are ``line_dedup``/``dedup_exact``).

    Output: ``(id_col, text_dedup, n_sents, n_sents_kept)`` — the
    rebuilt text joins surviving sentences with ``' '`` (terminal
    punctuation was consumed by the RE2-safe splitter; an identical,
    documented normalization on both engines). Documents shorter than
    ``n`` sentences pass through whole; NULL text carries no rows.

    Scale shape (the ``line_dedup`` pattern one grain up): spans ride
    16-byte md5 keys; the stats aggregate is map-side combined and
    ships ONLY the ``HAVING count >= min_count`` subset — duplicated
    boilerplate — into the back-join; removal positions explode only
    from DUPLICATE occurrences (bounded by the boilerplate mass) and
    aggregate to one position-set row per AFFECTED doc; the rebuild is
    then fully in-row (``array_except`` over a position sequence), so
    untouched docs never explode or shuffle sentence-wise — the
    removal-set left join is AQE-broadcast in the common low-duplicate
    case.

    The stats back-join is a PLAIN equi-join by default — AQE turns it
    into a broadcast join when the duplicate-span relation is small,
    and falls back to a shuffle join when a heavily templated corpus
    pushes the boilerplate mass past broadcast limits (a forced hint
    would fail the job outright there instead of degrading).
    ``broadcast_stats=True`` restores the hard hint for callers who
    KNOW the relation is bounded and want to skip AQE's sizing.

    ``sentence_split_re`` swaps the boundary pattern — pass
    ``CJK_SENTENCE_SPLIT_RE`` on CJK/multilingual corpora, where the
    default ASCII terminator-plus-space pattern sees an unsegmented
    document as ONE sentence (no spans, vacuous dedup).
    """
    arr_expr = F.filter(
        F.split(F.col(text_col), sentence_split_re),
        lambda x: F.trim(x) != "",
    )
    base = _spread(df).select(
        F.col(id_col).alias("__id"), arr_expr.alias("__sents")
    ).where(F.col("__sents").isNotNull() & (F.size("__sents") > 0))
    m = F.size("__sents")
    spans = (
        base.where(m >= n)
        .select(
            "__id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), m - (n - 1)),
                    lambda i: F.struct(
                        (i - 1).alias("s0"),
                        F.md5(
                            F.concat_ws("\x01", F.slice("__sents", i, n))
                        ).alias("k"),
                    ),
                )
            ).alias("__sp"),
        )
        .select("__id", F.col("__sp.s0").alias("__s0"), F.col("__sp.k").alias("__k"))
    )
    stats = (
        spans.groupBy("__k")
        .agg(
            F.count("*").alias("__n"),
            F.min(F.struct(F.col("__id").alias("d"), F.col("__s0").alias("i"))).alias(
                "__first"
            ),
        )
        .where(F.col("__n") >= int(min_count))
    )
    stats_side = F.broadcast(stats) if broadcast_stats else stats
    dup_occurrences = spans.join(stats_side, on="__k").where(
        ~(
            (F.col("__first.d") == F.col("__id"))
            & (F.col("__first.i") == F.col("__s0"))
        )
    )
    rm_sets = (
        dup_occurrences.select(
            "__id",
            F.explode(
                F.sequence(F.col("__s0"), F.col("__s0") + (n - 1))
            ).alias("__sidx"),
        )
        .groupBy("__id")
        .agg(F.collect_set("__sidx").alias("__rm_set"))
    )
    joined = base.join(rm_sets, on="__id", how="left")
    keep_pos = F.array_sort(
        F.array_except(F.sequence(F.lit(0), m - 1), F.col("__rm_set"))
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.when(
            F.col("__rm_set").isNull(), F.concat_ws(" ", F.col("__sents"))
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.transform(keep_pos, lambda i: F.element_at("__sents", i + 1)),
            )
        )
        .alias("text_dedup"),
        m.cast("long").alias("n_sents"),
        F.when(F.col("__rm_set").isNull(), m)
        .otherwise(F.size(keep_pos))
        .cast("long")
        .alias("n_sents_kept"),
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
    broadcast_stats: bool = False,
    cjk: Column | None = None,
    cjk_k: int = 20,
) -> DataFrame:
    """ExactSubstr-grain dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" §3.1): any ``k``-token
    window occurring at least ``min_count`` times ACROSS the corpus is
    a duplicated substring; every occurrence except the global first
    (smallest ``(id, token position)``) marks its member tokens for
    removal, and documents come back rebuilt from the surviving
    tokens. This is the grain that catches cross-document boilerplate
    sentence/line splitting misses — templated code, tables, licence
    blocks — because it needs no structural delimiter at all. The
    reference tool builds a corpus suffix array; the distributed
    formulation slides the window instead (every duplicated substring
    of length >= k contains a duplicated k-gram, so the k-gram grain
    finds a superset of the suffix array's >= k matches, clipped to
    whole windows).

    Output: ``(id_col, text_dedup, n_tokens, n_tokens_kept)`` — the
    rebuilt text joins surviving whitespace tokens with ``' '`` (runs
    of whitespace collapse; a documented normalization applied
    identically in the DuckDB oracle). Documents shorter than ``k``
    tokens pass through whole; NULL text carries no rows. Overlapping
    duplicated windows merge naturally: their removed-position sets
    union before the rebuild, which is exactly the "drop the whole
    duplicated span, keep one copy" semantics of the paper.

    Scale shape (the ``sentence_span_dedup`` pattern at token grain):
    windows ride 16-byte md5 keys over ``\\x01``-joined token slices —
    token text never shuffles twice; the stats aggregate is map-side
    combined and ships only the ``HAVING count >= min_count`` subset
    into the back-join (plain equi-join — AQE broadcasts it while the
    boilerplate mass is small, degrades to shuffle when it is not;
    ``broadcast_stats=True`` forces the hint); removal positions
    explode only from DUPLICATE occurrences and aggregate to ONE
    position-set row per affected doc (shuffle ∝ duplicate mass). The
    rebuild is then fully in-row: the per-doc removal set left-joins
    the token arrays (AQE broadcasts it in the common low-duplicate
    case, so untouched docs never shuffle at all) and surviving
    positions come from ``array_except`` over a position ``sequence``
    — no corpus-wide posexplode, no doc-keyed collect_list
    reassembly; untouched docs (removal set NULL) normalize map-only.
    Window count is ``tokens - k + 1`` per document — linear in corpus
    tokens, the same asymptotics as the suffix-array tool's output
    pass.

    No reference counterpart (extension op; completes the dedup-grain
    family: document exact/minhash/simhash/semantic, line, 3-sentence
    span, and now k-token exact substring).

    ``cjk`` (round 15, typically ``is_cjk_doc_expr``) routes a row's
    token grain to CHARACTERS (``cjk_char_tokens_expr`` — every CJK
    codepoint its own token, interleaved non-CJK runs whole, lowercased
    trim grain like the rest of the routed family) with its own window
    length ``cjk_k``: an unsegmented zh/ja document is ~1 whitespace
    token, always shorter than ``k``, so the word grain passes it
    through whole — recall ~0 at exactly the templated-boilerplate
    grain this operator exists for. ``cjk_k=20`` chars ≈ the
    information content of the 50-word default (zh averages ~1.5-2
    chars/morpheme; Lee et al. calibrate k to ~50 BPE tokens). When
    routing is on, window keys are PREFIXED with their grain tag
    (``c{cjk_k}``/``w{k}`` + ``\\x02``) so the two grains' keyspaces
    cannot collide, and routed documents rebuild by concatenating the
    surviving tokens WITHOUT separators (CJK prose carries no
    delimiters; interleaved latin runs re-join flush — the routed twin
    of the word grain's whitespace-collapse normalization). With
    ``cjk=None`` the emitted plan and keys are byte-identical to
    round 14.
    """
    if k < 2:
        raise ValueError(f"exact_substring_dedup: k must be >= 2 (got {k})")
    if cjk is not None and cjk_k < 2:
        raise ValueError(
            f"exact_substring_dedup: cjk_k must be >= 2 (got {cjk_k})"
        )
    from ..functions.text import cjk_char_tokens_expr

    word_toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: x != ""
    )
    routed = cjk is not None
    toks_expr = (
        F.when(cjk, cjk_char_tokens_expr(F.col(text_col))).otherwise(word_toks)
        if routed
        else word_toks
    )
    base_cols = [F.col(id_col).alias("__id"), toks_expr.alias("__toks")]
    if routed:
        # the route verdict is frozen onto the row ONCE (it reads the
        # original text, which spans/rebuild no longer carry)
        base_cols.append(F.coalesce(cjk, F.lit(False)).alias("__cjk"))
    base = _spread(df).select(*base_cols).where(
        F.col("__toks").isNotNull() & (F.size("__toks") > 0)
    )
    m = F.size("__toks")
    # per-row window length / grain tag (constant-folded when unrouted)
    kl = (
        F.when(F.col("__cjk"), F.lit(cjk_k)).otherwise(F.lit(k))
        if routed
        else F.lit(k)
    )
    if routed:
        tag = F.when(F.col("__cjk"), F.lit(f"c{cjk_k}\x02")).otherwise(
            F.lit(f"w{k}\x02")
        )
        key_of = lambda i: F.md5(  # noqa: E731
            F.concat(tag, F.concat_ws("\x01", F.slice("__toks", i, kl)))
        )
    else:
        key_of = lambda i: F.md5(  # noqa: E731
            F.concat_ws("\x01", F.slice("__toks", i, k))
        )
    spans = (
        base.where(m >= kl)
        .select(
            "__id",
            *(["__cjk"] if routed else []),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), m - (kl - F.lit(1))),
                    lambda i: F.struct(
                        (i - 1).alias("s0"),
                        key_of(i).alias("kk"),
                    ),
                )
            ).alias("__sp"),
        )
        .select(
            "__id",
            *(["__cjk"] if routed else []),
            F.col("__sp.s0").alias("__s0"),
            F.col("__sp.kk").alias("__k"),
        )
    )
    stats = (
        spans.groupBy("__k")
        .agg(
            F.count("*").alias("__n"),
            F.min(F.struct(F.col("__id").alias("d"), F.col("__s0").alias("i"))).alias(
                "__first"
            ),
        )
        .where(F.col("__n") >= int(min_count))
    )
    stats_side = F.broadcast(stats) if broadcast_stats else stats
    dup_occurrences = spans.join(stats_side, on="__k").where(
        ~(
            (F.col("__first.d") == F.col("__id"))
            & (F.col("__first.i") == F.col("__s0"))
        )
    )
    # one position-set row per AFFECTED doc; the explode is over
    # duplicate occurrences only, collect_set dedups overlapping
    # windows, so this shuffle is ∝ duplicate mass, never corpus size
    rm_sets = (
        dup_occurrences.select(
            "__id",
            F.explode(
                F.sequence(F.col("__s0"), F.col("__s0") + (kl - F.lit(1)))
            ).alias("__tidx"),
        )
        .groupBy("__id")
        .agg(F.collect_set("__tidx").alias("__rm_set"))
    )
    joined = base.join(rm_sets, on="__id", how="left")
    # array_sort pins token order: array_except preserves left-operand
    # order in practice but does not document it
    keep_pos = F.array_sort(
        F.array_except(F.sequence(F.lit(0), m - 1), F.col("__rm_set"))
    )
    # routed rows rebuild WITHOUT separators (char grain) — concat_ws
    # needs a literal separator, so the route picks the branch
    def _join_arr(arr: Column) -> Column:
        if not routed:
            return F.concat_ws(" ", arr)
        return F.when(F.col("__cjk"), F.concat_ws("", arr)).otherwise(
            F.concat_ws(" ", arr)
        )

    return joined.select(
        F.col("__id").alias(id_col),
        F.when(
            F.col("__rm_set").isNull(), _join_arr(F.col("__toks"))
        )
        .otherwise(
            _join_arr(
                F.transform(keep_pos, lambda i: F.element_at("__toks", i + 1))
            )
        )
        .alias("text_dedup"),
        m.cast("long").alias("n_tokens"),
        F.when(F.col("__rm_set").isNull(), m)
        .otherwise(F.size(keep_pos))
        .cast("long")
        .alias("n_tokens_kept"),
    )
