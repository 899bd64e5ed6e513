"""BM25 lexical retrieval operator tests (extension op)."""

import pytest
from pyspark.sql import functions as F

from gluestick_ts_spark.operators.search import bm25_topk, term_postings


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple apple banana"),
            (3, "apple apple apple durian elderberry fig grape honeydew kiwi lemon"),
            (4, "banana cherry durian"),
            (5, "unrelated words entirely different content"),
        ],
        "doc_id long, text string",
    )


def test_term_postings_values(spark, corpus):
    rows = {
        (r.id, r.term): (r.tf, r.dl)
        for r in term_postings(corpus).collect()
    }
    assert rows[(2, "apple")] == (2, 3)
    assert rows[(3, "apple")] == (3, 10)
    assert rows[(1, "cherry")] == (1, 3)
    assert (5, "apple") not in rows
    # one row per DISTINCT term per doc
    assert len([k for k in rows if k[0] == 2]) == 2  # apple, banana


def _q(spark, rows):
    return spark.createDataFrame(rows, "query_id long, query_text string")


def test_bm25_tf_and_length_normalization(spark, corpus):
    """More occurrences score higher; length normalization penalizes
    the long doc: doc 2 (tf=2, dl=3) must beat doc 3 (tf=3, dl=10) and
    both beat doc 1 (tf=1)."""
    out = bm25_topk(corpus, _q(spark, [(0, "apple")]), k=10).collect()
    order = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [2, 3, 1]
    assert all(r.query_id == 0 for r in out)


def test_bm25_multi_term_and_rare_term_idf(spark, corpus):
    """A doc matching both query terms beats single-term docs, and the
    rarer term (cherry: df=2) contributes more than the common one
    (apple: df=3) — doc 1 (apple+cherry) must outrank doc 2
    (apple+apple)."""
    out = bm25_topk(corpus, _q(spark, [(0, "apple cherry")]), k=10).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == 1
    assert set(ranked) == {1, 2, 3, 4}  # doc 5 matches nothing


def test_bm25_k_bound_and_no_match(spark, corpus):
    out = bm25_topk(corpus, _q(spark, [(0, "apple"), (1, "zzz")]), k=2).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    assert len(per_q[0]) == 2 and [r.rank for r in sorted(per_q[0], key=lambda r: r.rank)] == [1, 2]
    assert 1 not in per_q  # no postings match -> no rows


def test_bm25_deterministic_across_partitionings(spark, corpus):
    a = bm25_topk(corpus.repartition(7), _q(spark, [(0, "apple banana")]), k=10)
    b = bm25_topk(corpus.coalesce(1), _q(spark, [(0, "apple banana")]), k=10)
    ra = sorted((r.query_id, r.doc_id, r.rank, r.score) for r in a.collect())
    rb = sorted((r.query_id, r.doc_id, r.rank, r.score) for r in b.collect())
    assert ra == rb


def test_rrf_fuse_hand_computed(spark):
    """RRF (k=60): doc shared by both lists beats a higher-ranked doc
    seen by one; exact 1/(60+r) sums; ties break by doc id; n_lists
    reports consensus."""
    import pytest
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.search import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)], "query_id long, doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2)], "query_id long, doc_id long, rank long"
    )
    out = {r.doc_id: r for r in rrf_fuse({"a": a, "b": b}).collect()}
    # doc 20: 1/62 + 1/61 beats doc 10's 1/61
    assert out[20].rrf_score == pytest.approx(round(1 / 62 + 1 / 61, 9))
    assert out[20].rank == 1 and out[20].n_lists == 2
    assert out[10].rank == 2 and out[10].n_lists == 1
    assert out[40].rrf_score == pytest.approx(round(1 / 62, 9))
    # 30 (1/63) vs 40 (1/62): 40 wins on score
    assert out[40].rank == 3 and out[30].rank == 4
    with pytest.raises(ValueError, match="empty"):
        rrf_fuse({})
    # exact tie (same rank in disjoint lists) -> doc id breaks it
    c = spark.createDataFrame([(1, 7, 1)], "query_id long, doc_id long, rank long")
    d = spark.createDataFrame([(1, 5, 1)], "query_id long, doc_id long, rank long")
    tie = {r.doc_id: r.rank for r in rrf_fuse({"c": c, "d": d}).collect()}
    assert tie == {5: 1, 7: 2}


def test_bm25_index_store_build_probe_append(spark, tmp_path):
    """The persisted BM25 index: probes equal the in-memory bm25_topk
    over the same corpus; the postings/docfreq scans are
    partition-pruned to the query vocabulary's buckets; appended
    documents become scoreable with exactly-updated corpus stats
    (n_docs/sum_dl additive, affected df buckets recomputed)."""
    import re

    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.search import (
        append_bm25_index,
        bm25_index_topk,
        bm25_topk,
        write_bm25_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a quick movement of the enemy will jeopardize five gunboats"),
            (3, "brown foxes are quick and dogs are lazy"),
            (4, "the five boxing wizards jump quickly"),
            (5, "lazy afternoons with a brown dog and a quick fox"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(100, "quick brown fox"), (101, "five wizards")],
        "query_id long, query_text string",
    )
    path = "file://" + str(tmp_path / "bmidx")
    write_bm25_index(docs, path, num_buckets=8)

    key = lambda df: sorted(
        (r.query_id, r.doc_id, round(r.score, 6), r.rank) for r in df.collect()
    )
    got = bm25_index_topk(queries, path, k=3)
    want = bm25_topk(docs, queries, k=3)
    assert key(got) == key(want)

    # partition pruning visible on the store scans
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    assert re.findall(r"PartitionFilters: \[[^\]]*bucket[^\]]*\]", plan), plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    # append: new docs scoreable, results equal in-memory over the union
    extra = spark.createDataFrame(
        [(6, "wizards of the quick brown variety"),
         (7, "an entirely unrelated document about gunboats")],
        "doc_id long, text string",
    )
    append_bm25_index(extra, path)
    got2 = bm25_index_topk(queries, path, k=3)
    want2 = bm25_topk(docs.unionByName(extra), queries, k=3)
    assert key(got2) == key(want2)
    assert {r.doc_id for r in got2.where("query_id = 101").collect()} >= {6}


def test_index_avgdl_matches_inmemory_with_empty_text_doc(spark, tmp_path):
    """An empty-but-non-NULL text tokenizes to one empty term: the
    postings drop it but the in-memory dl sum counts it — the index
    stats must use the SAME tokenizer sum, or every bm25_index_topk
    score diverges from the pinned bm25_topk ranking."""
    from gluestick_ts_spark.operators.search import (
        bm25_index_topk,
        bm25_topk,
        read_bm25_index_meta,
        write_bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, "spark engine"), (2, ""), (3, "engine room"), (4, None)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bmidx_empty")
    write_bm25_index(docs, path, num_buckets=4)
    meta = read_bm25_index_meta(spark, path)
    # in-memory stats: sum(dl)=2+1+2 (empty text has dl 1, NULL skipped),
    # n=4 — the index meta must agree exactly
    assert (meta["n_docs"], meta["sum_dl"]) == (4, 5)
    q = spark.createDataFrame([(1, "engine")], "query_id long, query_text string")
    mem = {(r.query_id, r.doc_id): (r.score, r.rank)
           for r in bm25_topk(docs, q, k=5).collect()}
    idx = {(r.query_id, r.doc_id): (r.score, r.rank)
           for r in bm25_index_topk(q, path, k=5).collect()}
    assert mem == idx and mem


def test_write_bm25_index_rejects_non_overwrite(spark, tmp_path):
    from gluestick_ts_spark.operators.search import write_bm25_index

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="append_bm25_index"):
        write_bm25_index(docs, str(tmp_path / "x"), mode="append")


def test_write_bm25_index_write_error_does_not_wait_for_stats(
    spark, tmp_path, monkeypatch
):
    """A failed postings write raises at once: it must not wait for the
    concurrent corpus-stats job, which at scale is a full tokenize pass
    (here it blocks until released)."""
    import threading
    import time

    from py4j.protocol import Py4JJavaError

    from gluestick_ts_spark.operators import search

    release = threading.Event()

    def blocked_stats(*_args, **_kwargs):
        release.wait(timeout=60)
        return 0, 0

    monkeypatch.setattr(search, "_corpus_stats", blocked_stats)
    # the index root is a regular FILE, so <root>/postings cannot be
    # created (permission bits would not stop a root user)
    root = tmp_path / "not_a_dir"
    root.write_text("")
    docs = spark.createDataFrame([(1, "a b"), (2, "b c")], "doc_id long, text string")
    t0 = time.time()
    try:
        with pytest.raises(Py4JJavaError, match="ParentNotDirectory"):
            search.write_bm25_index(docs, str(root), num_buckets=2)
        assert time.time() - t0 < 20
    finally:
        release.set()


_ZH_DOC = ("我们的朋友不在家里他们有很多事情和我们一起去看那个人的房子"
           "这是一个很好的地方大家都喜欢在这里住因为天气很好")
_ZH_OTHER = ("今天的天气不太好所以我们决定留在家里看书喝茶和朋友聊天"
             "直到晚上才出门散步一会儿然后回来吃饭休息准备明天的工作")


def test_bm25_cjk_route(spark):
    """Round 14: a zh query matches zh documents at the char-bigram
    grain ONLY under cjk_route — unrouted, an unsegmented document is
    one term and any non-verbatim query scores nothing. EN rankings
    are identical under both configs (the route branch only fires on
    CJK-script rows)."""
    docs = spark.createDataFrame(
        [
            (1, _ZH_DOC),
            (2, _ZH_OTHER),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "a quick movement of the enemy jeopardizes gunboats"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, _ZH_DOC[3:12]), (2, "quick fox")],
        "query_id long, query_text string",
    )
    routed = {
        (r.query_id, r.rank): r.doc_id
        for r in bm25_topk(docs, queries, k=4, cjk_route=True).collect()
    }
    assert routed[(1, 1)] == 1  # the zh source doc ranks first
    assert routed[(2, 1)] == 3  # EN ranking unchanged
    plain = {
        r.query_id: r.doc_id
        for r in bm25_topk(docs, queries, k=4).collect()
        if r.rank == 1
    }
    assert 1 not in plain  # zh query matches NOTHING unrouted
    assert plain[2] == 3
    # postings grain sanity: routed zh doc explodes to many bigram
    # terms, unrouted to one giant term
    n_routed = term_postings(docs, cjk_route=True).where("id = 1").count()
    n_plain = term_postings(docs).where("id = 1").count()
    assert n_plain == 1 and n_routed > 30


def test_bm25_index_cjk_grain_frozen(spark, tmp_path):
    """The index's term grain is frozen in meta: a routed index probes
    routed (zh query matches), appends keep the grain, and the probe
    equals the in-memory routed ranking."""
    from gluestick_ts_spark.operators.search import (
        append_bm25_index,
        bm25_index_topk,
        read_bm25_index_meta,
        write_bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, _ZH_DOC), (3, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(2, _ZH_OTHER)], "doc_id long, text string"
    )
    queries = spark.createDataFrame(
        [(1, _ZH_DOC[3:12]), (2, "quick fox")],
        "query_id long, query_text string",
    )
    path = str(tmp_path / "bm25cjk")
    write_bm25_index(docs, path, num_buckets=8, cjk_route=True)
    meta = read_bm25_index_meta(spark, path)
    assert meta["cjk_route"] is True and meta["cjk_n"] == 2
    append_bm25_index(extra, path)
    got = {
        (r.query_id, r.rank): r.doc_id
        for r in bm25_index_topk(queries, path, k=3).collect()
    }
    assert got[(1, 1)] == 1
    assert got[(2, 1)] == 3
    # probe == in-memory routed ranking over the full corpus
    mem = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_topk(
            docs.unionByName(extra), queries, k=3, cjk_route=True
        ).collect()
    }
    idx = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_index_topk(queries, path, k=3).collect()
    }
    assert mem == idx
    # grain ATTESTATION (round 15): a caller who believes the index has
    # a different grain is told loudly on EVERY entry point — the meta
    # is read and checked on append and probe alike, never just written
    with pytest.raises(ValueError, match="cjk_route"):
        append_bm25_index(extra, path, cjk_route=False)
    with pytest.raises(ValueError, match="cjk_n"):
        append_bm25_index(extra, path, cjk_route=True, cjk_n=3)
    with pytest.raises(ValueError, match="cjk_route"):
        bm25_index_topk(queries, path, k=3, cjk_route=False)
    with pytest.raises(ValueError, match="cjk_n"):
        bm25_index_topk(queries, path, k=3, cjk_route=True, cjk_n=5)
    # matching attestation is a no-op (frozen grain already governs)
    ok = bm25_index_topk(queries, path, k=3, cjk_route=True, cjk_n=2)
    assert {
        (r.query_id, r.rank): (r.doc_id, r.score) for r in ok.collect()
    } == idx
