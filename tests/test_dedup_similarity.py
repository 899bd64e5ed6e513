"""Dedup + similarity-search operator tests (extension ops)."""

import pytest
from pyspark.sql import functions as F

from gluestick_ts_spark.functions.vectors import (
    cosine_similarity_expr,
    dot_expr,
    norm_expr,
)
from gluestick_ts_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_expr,
    simhash_pairs,
)
from gluestick_ts_spark.operators.asof import asof_join
from gluestick_ts_spark.operators.similarity import ann_ivf_topk, ann_lsh_topk, cosine_topk

BASE = "the quick brown fox jumps over the lazy dog and runs far away home tonight"


@pytest.fixture()
def docs(spark):
    near = BASE.replace("lazy", "sleepy")  # one-token change => high jaccard
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),  # exact dup of 1 (normalized)
            (3, "The  QUICK brown fox jumps over the lazy dog and runs far away home tonight"),
            (4, near),  # near dup of 1
            (5, "completely different content about spark query engines and shuffles here"),
        ],
        "doc_id long, text string",
    )


@pytest.fixture()
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),  # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vector_exprs(spark):
    df = spark.createDataFrame([([1.0, 2.0], [2.0, 3.0])], "a array<float>, b array<float>")
    row = df.select(
        dot_expr("a", "b").alias("dot"),
        norm_expr("a").alias("na"),
        cosine_similarity_expr("a", "b").alias("cos"),
    ).first()
    assert row["dot"] == pytest.approx(8.0)
    assert row["na"] == pytest.approx(5**0.5)
    assert row["cos"] == pytest.approx(0.9922778767136677)


def test_dedup_exact(docs):
    out = dedup_exact(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    # docs 1/2/3 share a normalized fingerprint -> lowest id (1) survives
    assert ids == [1, 4, 5]


def test_minhash_signature_shape(docs):
    sigs = minhash_signatures(docs, num_hashes=32)
    row = sigs.first()
    assert len(row["signature"]) == 32
    # identical text -> identical signature
    by_id = {r["id"]: r["signature"] for r in sigs.collect()}
    assert by_id[1] == by_id[2] == by_id[3]


def test_minhash_lsh_finds_near_dups(docs):
    sigs = minhash_signatures(docs, num_hashes=64)
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(sigs, num_bands=16).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert (1, 4) in pairs  # near-dup collides in at least one band
    assert (1, 5) not in pairs


def test_ngram_jaccard_verification(docs):
    scored = ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in scored.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.5 <= got[(1, 4)] < 1.0
    assert (1, 5) not in got


def test_adjacent_jaccard_null_and_empty_text(spark, tmp_path):
    """ngram_jaccard_adjacent's null/empty contract: a pair with a NULL
    text has a NULL jaccard (its shingle array is NULL, and so is
    size(NULL) under ANSI mode), while empty text shingles to [""]:
    empty vs empty is 1.0 and empty vs non-empty is 0.0. The
    |A|+|B|-|A∩B| union gives the same answers as array_union would."""
    from gluestick_ts_spark.plans.queries import QUERIES

    rows = [
        (1, "the quick brown fox jumps"),
        (2, None),
        (3, ""),
        (4, ""),
        (5, "the quick brown fox"),
        (6, "the quick brown fox jumps"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in QUERIES["ngram_jaccard_adjacent"](spark, str(tmp_path))
        .where(F.col("part") == "adjacent")
        .collect()
    }
    assert got == {
        (1, 2): None,  # normal vs null
        (2, 3): None,  # null vs empty
        (3, 4): 1.0,
        (4, 5): 0.0,
        (5, 6): 0.666667,  # 2 of 3 distinct 3-shingles shared
    }


def test_dedup_minhash_end_to_end(docs):
    out = dedup_minhash(docs, threshold=0.5)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 5]


def test_simhash_properties(docs):
    h = {r["doc_id"]: r["h"] for r in docs.select("doc_id", simhash_expr("text").alias("h")).collect()}
    assert h[1] == h[2] == h[3]  # same tokens -> same simhash
    assert h[1] != h[5]
    ham = bin((h[1] ^ h[4]) & ((1 << 64) - 1)).count("1")
    assert ham <= 16  # near dup -> small hamming distance


def test_simhash_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) in pairs


_ZH = ("我们的朋友不在家里他们有很多事情和我们一起去看那个人的房子这是一个"
       "很好的地方大家都喜欢在这里住因为天气很好而且人们也很友善")


@pytest.fixture()
def cjk_docs(spark):
    # 1/2: a real-script zh near-dup pair (one char changed); 3: a
    # different zh doc; 4/5: the EN near-dup pair from `docs` — the
    # routed grain must change NOTHING for word-path documents
    near_zh = _ZH[:-1] + "好"
    other_zh = ("今天的天气不太好所以我们决定留在家里看书喝茶和朋友聊天"
                "直到晚上才出门散步一会儿然后回来吃饭休息准备明天的工作")
    return spark.createDataFrame(
        [
            (1, _ZH),
            (2, near_zh),
            (3, other_zh),
            (4, BASE),
            (5, BASE.replace("lazy", "sleepy")),
        ],
        "doc_id long, text string",
    )


def test_minhash_cjk_route_finds_real_script_near_dups(cjk_docs):
    """The round-14 recall fix: an unsegmented zh near-dup pair is ~1
    word-shingle per doc (signatures carry no similarity), so unrouted
    dedup keeps both; with cjk routing (char 5-grams) the pair is
    found and the higher id dropped — while the EN pair's outcome is
    IDENTICAL under both configs (routing is a per-doc branch)."""
    from gluestick_ts_spark.functions.text import (
        is_cjk_doc_expr,
        shingles_expr,
    )

    # grain sanity: unrouted zh doc is ONE shingle, routed ~len-4
    sizes = {
        r.doc_id: (r.un, r.rt)
        for r in cjk_docs.select(
            "doc_id",
            F.size(shingles_expr("text")).alias("un"),
            F.size(
                shingles_expr("text", cjk=is_cjk_doc_expr("text"))
            ).alias("rt"),
        ).collect()
    }
    assert sizes[1][0] == 1 and sizes[1][1] > 50
    assert sizes[4][0] == sizes[4][1] > 5  # EN: same grain either way

    unrouted = sorted(
        r.doc_id for r in dedup_minhash(cjk_docs, threshold=0.5).collect()
    )
    routed = sorted(
        r.doc_id
        for r in dedup_minhash(
            cjk_docs, threshold=0.5, cjk=is_cjk_doc_expr("text")
        ).collect()
    )
    assert unrouted == [1, 2, 3, 4]  # zh near-dup pair NOT detected
    assert routed == [1, 3, 4]  # char grain kills doc 2, keeps others


def test_simhash_cjk_route_pairs(cjk_docs):
    """Routed SimHash features (raw char 5-grams) give the zh pair a
    small Hamming distance; unrouted, each zh doc's fingerprint is the
    sign pattern of ONE token hash — no signal. EN behavior pinned
    unchanged, and the md5 family routes identically (the oracle
    path)."""
    from gluestick_ts_spark.functions.text import is_cjk_doc_expr

    cjk = is_cjk_doc_expr("text")
    for fam in ("xxhash64", "md5"):
        routed = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_pairs(
                cjk_docs, max_hamming=16, hash_family=fam, cjk=cjk
            ).collect()
        }
        assert (1, 2) in routed and routed[(1, 2)] <= 8
        assert (4, 5) in routed
        assert (1, 3) not in routed
    unrouted = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(cjk_docs, max_hamming=16).collect()
    }
    assert (1, 2) not in unrouted  # one-token fingerprints: no signal
    assert (4, 5) in unrouted


def test_cjk_plant_twins_and_driver_pins(spark, sf_dir):
    """The _cjk_dd_text planted-family twins produce BYTE-IDENTICAL
    text on both engines (md5 + translate are engine-portable), and
    the driver query kills exactly the planted higher-id member of
    every same-century pair at two scales — the count-visible planted
    positive for the routed shingle grain."""
    import os

    duckdb = pytest.importorskip("duckdb")
    from gluestick_ts_spark.plans.queries import (
        QUERIES,
        _cjk_dd_text_expr,
        _cjk_dd_text_sql,
    )

    ids = [0, 31, 131, 231, 331, 431, 4931]
    df = spark.createDataFrame(
        [(i, f"orig {i}") for i in ids], "doc_id long, text string"
    )
    a = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", _cjk_dd_text_expr(200, 31, 131).alias("t")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", [(i, f"orig {i}") for i in ids]
    )
    b = dict(
        con.execute(
            f"SELECT doc_id, {_cjk_dd_text_sql(200, 31, 131)} FROM documents"
        ).fetchall()
    )
    assert a == b
    assert a[0] == "orig 0"  # non-slot rows untouched
    # same century -> identical but for the one-char marker
    assert a[31][:-1] == a[131][:-1] and (a[31][-1], a[131][-1]) == ("甲", "乙")
    # different centuries -> different high-entropy tails
    assert a[231][:-1] != a[31][:-1]
    # driver pins: every planted same-century pair loses its higher id
    # (131 + 200k), at sf0.01 and — when present — sf0.1
    for sf, n_pairs in (("sf0.01", 2), ("sf0.1", 25)):
        path = os.path.join(os.path.dirname(sf_dir.rstrip("/")), sf)
        if not os.path.exists(os.path.join(path, "documents.parquet")):
            continue
        survivors = {
            r.doc_id
            for r in QUERIES["minhash_dedup_docs"](spark, path)
            .select("doc_id")
            .collect()
        }
        killed = {131 + 200 * k for k in range(n_pairs)}
        kept = {31 + 200 * k for k in range(n_pairs)}
        assert killed.isdisjoint(survivors)
        assert kept <= survivors


def test_width_folded_exact_dedup(spark):
    """A fullwidth re-typed duplicate collapses onto its halfwidth
    twin ONLY under width_fold=True, the Spark fingerprint equals the
    generated DuckDB twin in both modes, and non-fullwidth rows are
    untouched by the fold."""
    duckdb = pytest.importorskip("duckdb")
    from gluestick_ts_spark.functions.text import (
        fingerprint_expr,
        fingerprint_sql,
    )

    rows = [
        (1, "Hello  Width 42"),
        (2, "ＨＥＬＬＯ　ＷＩＤＴＨ　４２"),  # fullwidth + ideographic spaces
        (3, "something else entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fold in (False, True):
        a = {
            r.doc_id: r.fp
            for r in df.select(
                "doc_id", fingerprint_expr("text", fold).alias("fp")
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        b = dict(
            con.execute(
                f"SELECT doc_id, {fingerprint_sql('text', fold)} FROM t"
            ).fetchall()
        )
        assert a == b, fold
        assert (a[1] == a[2]) is fold
        assert a[1] != a[3]
    folded = dedup_exact(df, width_fold=True)
    assert sorted(r.doc_id for r in folded.collect()) == [1, 3]
    unfolded = dedup_exact(df)
    assert sorted(r.doc_id for r in unfolded.collect()) == [1, 2, 3]


def test_embedding_neardup(vecs):
    out = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(vecs, threshold=0.95).collect()}
    assert (1, 2) in out
    assert (1, 3) not in out


def test_cosine_topk_exact(vecs):
    out = cosine_topk(vecs, vecs.where(F.col("vec_id") == 1), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [2, 5]
    assert rows[0]["cosine"] > 0.99


def test_ann_lsh_recall_on_neardup(vecs):
    out = ann_lsh_topk(vecs, vecs.where(F.col("vec_id") == 1), k=2, n_planes=4, n_tables=8, dim=4)
    neighbors = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert 2 in neighbors  # the true near-dup must be found


def test_ann_ivf_runs(vecs):
    out = ann_ivf_topk(vecs, vecs.where(F.col("vec_id") == 1), k=2, n_centroids=3, n_probe=3)
    neighbors = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert 2 in neighbors


def test_minhash_band_clamp(docs):
    """num_bands > sig_len must not degenerate into an all-pairs cross
    product (empty band slices would hash every doc identically)."""
    sigs = minhash_signatures(docs, num_hashes=8)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(sigs, num_bands=64, sig_len=8).collect()
    }
    # dissimilar docs must not be forced together by empty-band buckets
    assert (1, 5) not in pairs and (4, 5) not in pairs
    assert (1, 2) in pairs  # identical docs still collide


def test_dedup_pipelines_leave_no_cached_rdds(spark, docs):
    """Cache-lifetime discipline: the banding/blocking pipelines must not
    accumulate persisted RDDs across calls in a long-lived session."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    sigs = minhash_signatures(docs, num_hashes=32)
    minhash_lsh_pairs(sigs, num_bands=8, sig_len=32).count()
    after = set(sc._jsc.getPersistentRDDs().keySet())
    assert after - before == set(), "LSH banding must not persist anything"

    # simhash_pairs / ngram_jaccard_pairs legitimately cache their
    # blocks/shingle relation during the call but must release it
    # before returning; only the (small) checkpointed pair output may
    # remain alive — at most ONE new entry each, not the big relation.
    simhash_pairs(docs, max_hamming=16).count()
    after2 = set(sc._jsc.getPersistentRDDs().keySet())
    assert len(after2 - after) <= 1, "simhash blocks cache leaked past the call"

    out = ngram_jaccard_pairs(docs, threshold=0.5)
    out.count()
    after3 = set(sc._jsc.getPersistentRDDs().keySet())
    assert len(after3 - after2) <= 1, "shingle cache leaked past the call"


def test_embedding_neardup_default_is_lsh(vecs):
    """The default call must not contain a cartesian/nested-loop join —
    the 100 TB path is what users hit without reading docstrings."""
    plan = embedding_neardup_pairs(vecs, threshold=0.95)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 10, "e3")],
        "uid long, ts long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 12, 300.0)],
        "uid long, ts long, price double",
    )
    out = asof_join(left, right, "uid", "uid", "ts", "ts")
    got = {(r["uid"], r["ts"]): r["price"] for r in out.collect()}
    assert got[(1, 10)] == 100.0
    assert got[(1, 20)] == 200.0
    assert got[(1, 5)] is None  # nothing at-or-before
    assert got[(2, 10)] is None


def test_asof_join_equal_ts_and_strict(spark):
    left = spark.createDataFrame([(1, 10, "e")], "uid long, ts long, ev string")
    right = spark.createDataFrame([(1, 10, 1.0)], "uid long, ts long, price double")
    non_strict = asof_join(left, right, "uid", "uid", "ts", "ts").first()
    assert non_strict["price"] == 1.0
    strict = asof_join(left, right, "uid", "uid", "ts", "ts", strict=True).first()
    assert strict["price"] is None


def test_asof_join_forward(spark):
    left = spark.createDataFrame([(1, 10, "e")], "uid long, ts long, ev string")
    right = spark.createDataFrame(
        [(1, 8, 1.0), (1, 12, 2.0), (1, 30, 3.0)], "uid long, ts long, price double"
    )
    out = asof_join(left, right, "uid", "uid", "ts", "ts", direction="forward").first()
    assert out["price"] == 2.0


def test_connected_min_labels_transitive_chain(spark):
    from gluestick_ts_spark.operators.dedup import connected_min_labels, dedup_clusters

    # chain 1-5-3 (3 never appears as the larger id's partner of 1
    # directly) + separate component 7-8
    pairs = spark.createDataFrame([(1, 5), (3, 5), (7, 8)], "id_a long, id_b long")
    labels = {r.id: r.label for r in connected_min_labels(pairs).collect()}
    assert labels == {1: 1, 5: 1, 3: 1, 7: 7, 8: 7}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 3, 5, 7, 8, 9)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in dedup_clusters(docs, pairs).collect())
    # one survivor per component (its min) + untouched 9
    assert kept == [1, 7, 9]


def test_ann_recall_floor(spark, sf_dir):
    """ANN quality gate: recall@5 vs exact cosine on the real test
    embeddings must clear a floor (LSH 0.5 with 4x12, IVF 0.8)."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import ann_ivf_topk, ann_lsh_topk, cosine_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=5).collect()}
    lsh = {(r.query_id, r.neighbor_id)
           for r in ann_lsh_topk(e, q, k=5, n_planes=4, n_tables=12, dim=64).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in ann_ivf_topk(e, q, k=5, n_centroids=16, n_probe=4).collect()}
    assert len(exact & lsh) / len(exact) >= 0.5
    assert len(exact & ivf) / len(exact) >= 0.8


def test_ann_recall_vs_exact_column(spark, sf_dir):
    """recall_at_k: exact-vs-itself is 1.0 everywhere; ANN recall is in
    [0, 1], constant per query, and matches the set-intersection value;
    storage stays flat (single-pass plan, no hidden persists)."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        ann_lsh_topk,
        ann_recall_vs_exact,
        cosine_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    exact = cosine_topk(e, q, k=5)
    self_rec = ann_recall_vs_exact(exact, cosine_topk(e, q, k=5), k=5)
    assert all(r.recall_at_k == 1.0 for r in self_rec.collect())

    approx = ann_lsh_topk(e, q, k=5, n_planes=4, n_tables=12, dim=64)
    out = ann_recall_vs_exact(approx, cosine_topk(e, q, k=5), k=5).collect()
    ex_sets: dict = {}
    for r in cosine_topk(e, q, k=5).collect():
        ex_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    ap_sets: dict = {}
    for r in out:
        ap_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in out:
        expect = len(ex_sets[r.query_id] & ap_sets[r.query_id]) / 5.0
        assert abs(r.recall_at_k - expect) < 1e-9
        assert 0.0 <= r.recall_at_k <= 1.0


def test_portable_hash_family_minhash(docs):
    """The md5 (engine-portable) hash family runs the SAME pipeline —
    identical-text docs still produce identical signatures, the planted
    near-dup still bands together and dedups, and the disjoint doc
    survives. (Exact value parity with DuckDB is pinned by the
    minhash_dedup_docs / dedup_clusters_docs oracles.)"""
    sigs = minhash_signatures(docs, hash_family="md5")
    by_id = {r["id"]: r["signature"] for r in sigs.collect()}
    assert by_id[1] == by_id[2] == by_id[3]
    # every slot is a universal-hash value: 0 <= v < 2^31-1
    assert all(0 <= v < (1 << 31) - 1 for v in by_id[1])
    out = dedup_minhash(docs, threshold=0.5, hash_family="md5")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 5]


def test_portable_hash_family_simhash_equals_bruteforce(docs):
    """60-bit portable SimHash: the banded pair path must EQUAL the
    quadratic hamming-<=-k definition (pigeonhole recall is 1.0), and
    every fingerprint must fit in 60 bits."""
    fps = {
        r["doc_id"]: r["h"]
        for r in docs.select(
            "doc_id", simhash_expr("text", 60, "md5").alias("h")
        ).collect()
    }
    assert all(0 <= h < (1 << 60) for h in fps.values())
    ids = sorted(fps)
    brute = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 16
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=16, hash_family="md5").collect()
    }
    assert banded == brute and (1, 2, 0) in banded


def test_hash_family_validation(docs):
    with pytest.raises(ValueError):
        minhash_signatures(docs, hash_family="sha1")
    with pytest.raises(ValueError):
        simhash_expr("text", 64, "md5")  # md5 family caps at 60 bits


def test_recall_guard_emits_alert_rows_on_breach(spark, sf_dir):
    """The driver's rows-only check records only row counts, so a
    recall collapse must CHANGE the count: _recall_guarded appends one
    alert row per breaching query and none on a healthy run."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        ann_lsh_topk,
        ann_recall_vs_exact,
        cosine_topk,
    )
    from gluestick_ts_spark.plans.queries import _recall_guarded

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    out = ann_recall_vs_exact(
        ann_lsh_topk(e, q, k=5, n_planes=4, n_tables=12, dim=64), cosine_topk(e, q, k=5), k=5
    )
    healthy = _recall_guarded(out, floor=0.4).collect()
    assert sum(1 for r in healthy if r.neighbor_id == -1) == 0
    assert all(r.recall_ok for r in healthy)
    # simulated collapse: an impossible floor must add one alert per query
    collapsed = _recall_guarded(out, floor=1.1).collect()
    alerts = [r for r in collapsed if r.neighbor_id == -1]
    assert len(alerts) == 8  # one per query
    assert len(collapsed) == len(healthy) + 8
    assert all(not r.recall_ok for r in collapsed)


def test_neardup_lsh_shuffles_ids_not_vectors(spark, vecs):
    """Scale guard: the LSH candidate join/dedup must move only
    (id, table, bucket) rows — no embedding column may appear in any
    hash-partitioning exchange key set or shuffle input projection."""
    from gluestick_ts_spark.operators.dedup import embedding_neardup_pairs

    out = embedding_neardup_pairs(vecs, use_lsh=True, threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for seg in plan.split("Exchange")[1:]:
        head = seg.split("\n")[0]
        if "hashpartitioning" in head:
            assert "__va" not in head and "__vb" not in head, head


def test_spread_parallelism_guard(spark, docs):
    """_spread: raises partition count for narrow inputs, identity for
    already-parallel inputs, and never changes operator results."""
    from gluestick_ts_spark.operators.dedup import _spread, minhash_signatures

    narrow = docs.coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    spread = _spread(narrow)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    wide = docs.repartition(spark.sparkContext.defaultParallelism + 4)
    assert _spread(wide) is wide

    a = {r.id: tuple(r.signature) for r in minhash_signatures(narrow).collect()}
    b = {r.id: tuple(r.signature) for r in minhash_signatures(wide).collect()}
    assert a == b


def test_ngram_contamination(spark):
    """Contamination screen: shared n-grams counted per corpus doc,
    zeros included, benchmark side broadcast."""
    from gluestick_ts_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corp = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),   # shares 'the quick brown fox jumps'... n=3 grams
            (2, "completely unrelated text content here"),
            (3, "quick brown fox"),                   # single partial/full-gram overlap
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_contamination(corp, bench, n=3).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1 shares 3-grams: 'the quick brown', 'quick brown fox', 'brown fox jumps'
    assert out[1].n_contaminated == 3 and out[1].contaminated
    assert out[2].n_contaminated == 0 and not out[2].contaminated
    assert out[3].n_contaminated == 1 and out[3].contaminated
    plan = ngram_contamination(corp, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark side must broadcast


def test_ngram_contamination_cjk_route(spark):
    """Round 14: a verbatim zh eval leak is invisible to the word
    grain (the whole document is ~1 word 13-gram) and caught by the
    routed char grain; EN contamination results are identical under
    both configs."""
    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.dedup import ngram_contamination

    cjk = is_cjk_doc_expr("text")
    bench = spark.createDataFrame(
        [(100, _ZH), (101, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corp = spark.createDataFrame(
        [
            # embeds a >13-char verbatim zh span from the benchmark
            (1, "前言" + _ZH[5:40] + "结语"),
            (2, "the quick brown fox jumps high above the fence today"),
            (3, "完全无关的中文内容在这里没有任何基准语料的片段重叠存在"),
        ],
        "doc_id long, text string",
    )
    routed = {
        r.doc_id: r.contaminated
        for r in ngram_contamination(corp, bench, n=13, cjk=cjk).collect()
    }
    plain = {
        r.doc_id: r.contaminated
        for r in ngram_contamination(corp, bench, n=13).collect()
    }
    assert routed[1] is True and plain[1] is False  # the leak needs routing
    assert routed[3] is False and plain[3] is False
    assert routed[2] == plain[2]  # EN path untouched by routing


def test_train_ivf_centroids(spark, sf_dir):
    """Lloyd's IVF training: unit centroids, stable cids, reusable via
    the centroids= param, and trained recall still clears the gate."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
        train_ivf_centroids,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_ivf_centroids(e, n_centroids=16, n_iter=2)
    assert len(cents) == 16
    for c in cents:
        norm = sum(x * x for x in c["cent"]) ** 0.5
        assert abs(norm - 1.0) < 1e-9

    q = e.where(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=5).collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(e, q, k=5, n_probe=4, centroids=cents).collect()
    }
    assert len(exact & got) / len(exact) >= 0.8
    # inline training path produces the same result as pre-trained reuse
    inline = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(
            e, q, k=5, n_centroids=16, n_probe=4, train_iters=2
        ).collect()
    }
    assert inline == got


def test_train_ivf_centroids_sampled(spark, sf_dir):
    """sample_fraction bounds the 100 TB training read: centroids
    trained on the deterministic half-corpus md5 sample still clear the
    planted-recall gate over the FULL corpus, stay unit-norm, and are
    reproducible (same sampled keys every call)."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
        train_ivf_centroids,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # deterministic=True: the sample is key-deterministic AND the fold
    # order is fixed, so the trained centroids are bit-reproducible
    cents = train_ivf_centroids(
        e, n_centroids=16, n_iter=2, sample_fraction=0.75, deterministic=True
    )
    cents2 = train_ivf_centroids(
        e, n_centroids=16, n_iter=2, sample_fraction=0.75, deterministic=True
    )
    assert cents == cents2
    assert len(cents) == 16
    for c in cents:
        assert abs(sum(x * x for x in c["cent"]) ** 0.5 - 1.0) < 1e-9

    q = e.where(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=5).collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(e, q, k=5, n_probe=6, centroids=cents).collect()
    }
    # measured 0.825 at frac=0.75/n_probe=6 (sampling costs recall at
    # FIXED n_probe — the knob that buys it back; floor leaves margin)
    assert len(exact & got) / len(exact) >= 0.6


def test_train_pq_codebooks_sampled(spark):
    """PQ training on a deterministic sample still retrieves planted
    near-duplicates at rank 1 via ADC over the FULL corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(120, 16).astype(float)
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = train_pq_codebooks(
        corpus, m=4, k=8, n_iter=2, sample_fraction=0.5
    )
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    # planted queries: tiny noise copies must find their source first
    qrows = [
        (1000 + i, [float(x + 0.01) for x in base[i]]) for i in range(5)
    ]
    q = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")
    top = pq_topk(corpus, q, books, k=1)
    got = {(r.query_id, r.neighbor_id) for r in top.collect()}
    assert got == {(1000 + i, i) for i in range(5)}


def test_binary_hamming_topk(spark, sf_dir):
    """Compressed-domain ANN: planted near-duplicates retrieve at
    rank 1 (strong signals survive binarization), recall vs exact
    clears the measured floor on the worst-case near-random test
    embeddings, and the pipeline is deterministic."""
    import numpy as np
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        binary_hamming_topk,
        cosine_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=5).collect()}
    got1 = binary_hamming_topk(e, q, k=5, dim=64).collect()
    got = {(r.query_id, r.neighbor_id) for r in got1}
    assert len(got) == 40
    # measured 0.775 at the default rerank_factor=16; floor with margin
    assert len(exact & got) / len(exact) >= 0.6
    # deterministic: same rows on re-run
    got2 = {(r.query_id, r.neighbor_id, r.hamming, r.cosine, r.rank)
            for r in binary_hamming_topk(e, q, k=5, dim=64).collect()}
    assert {(r.query_id, r.neighbor_id, r.hamming, r.cosine, r.rank)
            for r in got1} == got2

    # planted near-dups: noisy copies must retrieve their source at #1
    rng = np.random.RandomState(3)
    base = rng.randn(200, 16)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(1000 + i, [float(x + 0.02) for x in base[i]]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    top1 = binary_hamming_topk(corpus, probes, k=1, rerank_factor=4, dim=16)
    assert {(r.query_id, r.neighbor_id) for r in top1.collect()} == {
        (1000 + i, i) for i in range(6)
    }

    from pyspark.sql.utils import AnalysisException  # noqa: F401
    import pytest as _pytest

    with _pytest.raises(ValueError):
        binary_hamming_topk(e, q, n_bits=65, dim=64)
    # dim is REQUIRED: the earlier data-probe default launched a hidden
    # job at plan-build time
    with _pytest.raises(ValueError, match="dim is required"):
        binary_hamming_topk(e, q, k=5)

    # and construction must not launch ANY job (the retired first()
    # probe did) — pin via a job group: plan-build inside the group,
    # then assert the group never ran a job
    sc = spark.sparkContext
    sc.setJobGroup("bht-construct-probe", "plan build only")
    try:
        _plan_only = binary_hamming_topk(e, q, k=5, dim=64)
        _plan_only.schema  # analysis is fine; execution is not
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("bht-construct-probe") == []


def test_ann_lsh_topk_requires_dim_no_hidden_job(spark, sf_dir):
    """ann_lsh_topk shares binary_hamming_topk's contract: dim is
    REQUIRED (the retired corpus.first() probe launched a hidden job at
    plan-build time), and construction must not launch ANY job."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import ann_lsh_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8)
    with _pytest.raises(ValueError, match="dim is required"):
        ann_lsh_topk(e, q, k=5)

    sc = spark.sparkContext
    sc.setJobGroup("lsh-construct-probe", "plan build only")
    try:
        _plan_only = ann_lsh_topk(e, q, k=5, dim=64)
        _plan_only.schema  # analysis is fine; execution is not
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("lsh-construct-probe") == []


def test_semantic_contamination_flags_paraphrase(spark):
    """The embedding-space decontamination screen: a benchmark item
    whose near-identical paraphrase sits in the training corpus must
    flag, one with no close neighbor must not; output is one row per
    bench item with a deterministic argmax."""
    import numpy as np

    from gluestick_ts_spark.operators.similarity import semantic_contamination

    rng = np.random.RandomState(11)
    base = rng.randn(40, 16)
    corpus_rows = [
        (i, [float(x) for x in base[i]]) for i in range(40)
    ]
    # bench 1000 = paraphrase of corpus 7 (tiny perturbation);
    # bench 1001 = a fresh random direction (no leak)
    bench_rows = [
        (1000, [float(x + 0.01) for x in base[7]]),
        (1001, [float(x) for x in rng.randn(16)]),
    ]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    bench = spark.createDataFrame(bench_rows, "vec_id long, embedding array<double>")
    out = {r.bench_id: r for r in semantic_contamination(
        corpus, bench, threshold=0.95
    ).collect()}
    assert set(out) == {1000, 1001}
    assert out[1000].contaminated and out[1000].match_id == 7
    assert out[1000].max_cosine > 0.99
    assert not out[1001].contaminated


def test_semantic_contamination_expr_matches_distributed(spark, sf_dir):
    """The frozen-literal in-row twin must agree row-for-row with the
    distributed semantic_contamination over the same bench/corpus —
    same ROUND-6-before-argmax, same lowest-id ties — and work as a
    stateless streaming projection."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        semantic_contamination,
        semantic_contamination_expr,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench_df = e.where(F.col("vec_id") % 20 == 0)
    corpus = e.where(F.col("vec_id") % 20 != 0)
    bench = [
        {"id": r.vec_id, "vec": list(r.embedding)} for r in bench_df.collect()
    ]
    # NOTE the roles: the EXPR screens arriving corpus docs against a
    # frozen bench; the distributed op screens bench against corpus.
    # Equivalence holds by symmetry of the pair set when we swap:
    got_expr = {
        r.vec_id: (r.s.match_id, r.s.max_cosine, r.s.contaminated)
        for r in bench_df.select(
            "vec_id",
            semantic_contamination_expr(
                "embedding",
                [{"id": r.vec_id, "vec": list(r.embedding)}
                 for r in corpus.collect()],
                threshold=0.92,
            ).alias("s"),
        ).collect()
    }
    got_dist = {
        r.bench_id: (r.match_id, r.max_cosine, r.contaminated)
        for r in semantic_contamination(
            corpus, bench_df, threshold=0.92
        ).collect()
    }
    assert got_expr == got_dist

    # streaming: stateless projection over a memory-rate stream shape
    from gluestick_ts_spark.streaming.incremental import (
        stream_semantic_contamination,
    )

    out = stream_semantic_contamination(
        corpus, bench, threshold=0.92
    )  # batch DF through the same code path (pure projection)
    rows = {r.vec_id: r.sem_contaminated for r in out.collect()}
    assert len(rows) == corpus.count()
    # empty bench: NULLs + false, never an error
    empty = corpus.select(
        semantic_contamination_expr("embedding", []).alias("s")
    ).first()
    assert empty.s.match_id is None and empty.s.contaminated is False

    # NULL / zero vectors (cosine undefined everywhere): BOTH paths
    # emit the LOWEST id with NULL cosine and NULL verdict — and the
    # streaming drop mode must KEEP the unattributable row
    from gluestick_ts_spark.streaming.incremental import (
        stream_semantic_contamination as _ssc,
    )

    weird = spark.createDataFrame(
        [(900, [0.0] * 8), (901, None)],
        "vec_id long, embedding array<double>",
    )
    b8 = [{"id": 5, "vec": [1.0] * 8}, {"id": 3, "vec": [0.5] * 8}]
    ex = {
        r.vec_id: (r.s.match_id, r.s.max_cosine, r.s.contaminated)
        for r in weird.select(
            "vec_id", semantic_contamination_expr("embedding", b8).alias("s")
        ).collect()
    }
    assert ex[900] == (3, None, None)  # lowest bench id, NULL verdict
    bench8 = spark.createDataFrame(
        [(b["id"], b["vec"]) for b in b8], "vec_id long, embedding array<double>"
    )
    dist = {
        r.bench_id: (r.match_id, r.max_cosine, r.contaminated)
        for r in semantic_contamination(
            bench8, weird.where("vec_id = 900")
        ).collect()
    }
    # distributed roles swapped (zero-vector bench item vs real
    # corpus): identical NULL semantics to the expr
    assert dist == {900: (3, None, None)}

    kept = _ssc(weird, b8, drop_contaminated=True)
    assert kept.count() == 2  # NULL verdicts keep


def test_ivf_train_centroids_query_invariants(spark, sf_dir):
    """Driver-visible IVF build query: inverted-list sizes must account
    for EVERY corpus vector exactly once, and every cid must come from
    the trained centroid set."""
    from gluestick_ts_spark.plans.queries import QUERIES

    rows = QUERIES["ivf_train_centroids"](spark, sf_dir).collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r.list_size for r in rows) == n_vecs
    assert {r.cid for r in rows} <= set(range(16))
    assert all(r.list_size > 0 for r in rows)  # emitted lists are non-empty


def test_embedding_neardup_planted_pairs(spark, sf_dir):
    """The planted +0.05 near-duplicates must each pair with their
    source at cosine in [0.91, 0.95], and every planted pair must
    survive the 0.8 threshold — the query's hash-match checks real
    pair math, not an empty result."""
    from gluestick_ts_spark.plans.queries import QUERIES

    out = QUERIES["embedding_neardup"](spark, sf_dir).collect()
    n_base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < 300)
        .count()
    )
    planted = {
        (r.id_a, r.id_b): r.cosine for r in out if r.id_b == r.id_a + 100000
    }
    assert len(planted) == n_base  # every source found its planted dup
    # measured planted-cosine envelope: 0.9165-0.9525 across test SFs
    assert all(0.91 <= c <= 0.96 for c in planted.values()), (
        min(planted.values()),
        max(planted.values()),
    )


def test_signature_jaccard_estimator(spark, docs):
    """Signature agreement estimates true Jaccard: identical docs -> 1.0,
    unrelated docs -> near 0, near-dups in between."""
    from gluestick_ts_spark.operators.dedup import (
        minhash_signatures,
        signature_jaccard_expr,
    )

    sigs = {r.id: r.signature for r in minhash_signatures(docs, num_hashes=128).collect()}
    df = spark.createDataFrame(
        [(sigs[1], sigs[2]), (sigs[1], sigs[4]), (sigs[1], sigs[5])],
        "a array<long>, b array<long>",
    )
    est = [r.j for r in df.select(signature_jaccard_expr("a", "b").alias("j")).collect()]
    assert est[0] == 1.0          # exact dup: identical signatures
    assert 0.3 < est[1] <= 1.0    # near dup (one token changed)
    assert est[2] < 0.2           # unrelated content


def test_dedup_minhash_incremental(spark, docs):
    """Cross-store incremental dedup: batch docs near-identical to the
    stored corpus are dropped via signatures only; fresh docs survive
    and their signatures come back for the store."""
    from gluestick_ts_spark.operators.dedup import (
        dedup_minhash_incremental,
        minhash_signatures,
    )

    # store = docs 1-5's signatures (the accepted corpus)
    store = minhash_signatures(docs)
    batch = spark.createDataFrame(
        [
            (10, BASE),  # exact dup of stored doc 1 -> dropped
            (11, BASE.replace("lazy", "sleepy")),  # near dup of stored 1/4 -> dropped
            (12, "entirely new document about distributed joins and page cache behavior"),
            (13, "entirely new document about distributed joins and page cache behavior"),
            # 12/13 are batch-internal exact dups: one survives
        ],
        "doc_id long, text string",
    )
    survivors, sigs = dedup_minhash_incremental(batch, store, threshold=0.7)
    ids = {r.doc_id for r in survivors.collect()}
    assert ids == {12}
    sig_ids = {r.id for r in sigs.collect()}
    assert sig_ids == {12}
    # idempotent: appending survivors then re-running the batch drops all
    new_store = store.unionByName(sigs)
    again, _ = dedup_minhash_incremental(batch, new_store, threshold=0.7)
    assert again.count() == 0


def test_dedup_minhash_incremental_cjk_route(spark):
    """Round 14: the incremental path honors the routed shingle grain
    end to end — a zh near-dup of a stored zh doc is dropped via the
    signature estimate ONLY when BOTH the store and the batch were
    signed with the same cjk routing; unrouted, both sides carry the
    degenerate one-shingle signatures and the near-dup sails through.
    EN docs behave identically either way."""
    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.dedup import (
        dedup_minhash_incremental,
        minhash_signatures,
    )

    cjk = is_cjk_doc_expr("text")
    corpus = spark.createDataFrame(
        [(1, _ZH), (2, BASE)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, _ZH[:-1] + "好"),  # near dup of stored zh doc 1
            (11, BASE.replace("lazy", "sleepy")),  # near dup of stored 2
            (12, "a genuinely new document about page cache behavior here"),
        ],
        "doc_id long, text string",
    )
    routed_store = minhash_signatures(corpus, cjk=cjk)
    got, sigs = dedup_minhash_incremental(
        batch, routed_store, threshold=0.7, cjk=cjk
    )
    assert {r.doc_id for r in got.collect()} == {12}
    assert {r.id for r in sigs.collect()} == {12}
    # unrouted both sides: the zh near-dup is NOT detected (recall ~0)
    plain_store = minhash_signatures(corpus)
    got2, _ = dedup_minhash_incremental(batch, plain_store, threshold=0.7)
    assert {r.doc_id for r in got2.collect()} == {10, 12}


def test_dedup_minhash_incremental_batch_internal_neardups(spark, docs):
    """Batch-internal NEAR-duplicates (not exact copies) must be caught
    by the within-batch stage — regression for the positional-arg swap
    that ran stage 1 with shingle_n/num_bands exchanged, which silently
    missed near-dups inside a batch while still passing exact-dup
    tests."""
    from gluestick_ts_spark.operators.dedup import (
        dedup_minhash_incremental,
        minhash_signatures,
    )

    store = minhash_signatures(docs.where(F.col("doc_id") == 5))
    # long doc so ONE token changed keeps true trigram jaccard >= 0.9
    long_base = " ".join(f"token{i} filler{i} word{i}" for i in range(20))
    near = long_base.replace("filler7", "changed7")
    batch = spark.createDataFrame(
        [
            (30, long_base),
            (31, near),  # near dup of 30 (one token) — NOT exact
            (32, "a fresh unrelated document about columnar shuffle readers"),
        ],
        "doc_id long, text string",
    )
    survivors, sigs = dedup_minhash_incremental(batch, store, threshold=0.7)
    ids = {r.doc_id for r in survivors.collect()}
    assert ids == {30, 32}, ids  # 31 killed by WITHIN-batch fuzzy dedup
    assert {r.id for r in sigs.collect()} == {30, 32}
    # explicit non-default banding params must thread through unswapped
    survivors2, _ = dedup_minhash_incremental(
        batch, store, num_hashes=64, shingle_n=3, num_bands=8, threshold=0.7
    )
    assert {r.doc_id for r in survivors2.collect()} == {30, 32}


def test_spread_honors_root_repartition_only(spark, docs):
    """_spread: a Repartition node buried in a join subtree (e.g. the
    anti-join's losers side) must NOT be mistaken for the caller having
    partitioned the main input."""
    from gluestick_ts_spark.operators.dedup import _root_repartition

    main = docs  # narrow scan, no repartition on the root path
    losers = docs.select("doc_id").repartition("doc_id")
    joined = main.join(losers.hint("merge"), on="doc_id", how="left_anti")
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" in plan  # subtree node is there...
    assert _root_repartition(plan) is None  # ...but not on the root path
    # a genuine caller-side repartition IS honored
    plan2 = docs.repartition(4)._jdf.queryExecution().analyzed().toString()
    assert _root_repartition(plan2) is not None


def test_bucketed_signature_store_roundtrip_and_equivalence(spark, docs, tmp_path):
    """The bucketed on-disk store must produce EXACTLY the survivors of
    the in-memory incremental path (bucket is a pure function of
    band_hash, so pruning can't lose candidates), and append+rerun must
    be idempotent."""
    from gluestick_ts_spark.operators.dedup import (
        dedup_minhash_incremental,
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        read_signature_store_meta,
        write_signature_store,
    )

    store_sigs = minhash_signatures(docs)
    path = "file://" + str(tmp_path / "sigstore")
    write_signature_store(store_sigs, path, num_bands=16, num_buckets=8)
    meta = read_signature_store_meta(spark, path)
    assert (meta["sig_len"], meta["num_bands"], meta["num_buckets"]) == (64, 16, 8)
    assert any(f["name"] == "band_hash" for f in meta["schema"]["fields"])

    long_base = " ".join(f"token{i} filler{i} word{i}" for i in range(20))
    batch = spark.createDataFrame(
        [
            (10, BASE),                                  # exact dup of stored 1
            (11, long_base),                             # fresh
            (12, long_base.replace("filler3", "zzz3")),  # near dup of 11 (in batch)
            (13, "totally novel content on adaptive query execution"),
        ],
        "doc_id long, text string",
    )
    surv_mem, _ = dedup_minhash_incremental(batch, store_sigs, threshold=0.7)
    surv_bkt, sigs_bkt = dedup_minhash_incremental_bucketed(
        batch, path, threshold=0.7, append_survivors=True
    )
    assert {r.doc_id for r in surv_bkt.collect()} == {
        r.doc_id for r in surv_mem.collect()
    }
    # idempotent: survivors were appended, so re-running drops everything
    again, _ = dedup_minhash_incremental_bucketed(batch, path, threshold=0.7)
    assert again.count() == 0
    # mismatched signature width is refused, not silently mis-banded
    with pytest.raises(ValueError):
        dedup_minhash_incremental_bucketed(batch, path, num_hashes=128)


def test_bucketed_fingerprint_store_exact_incremental(spark, docs, tmp_path):
    """Exact-dedup half of the bucketed-store family: anti-join against
    a hash-bucketed fingerprint store, partition-pruned to the batch's
    fp buckets; equivalent to the in-memory path and append-idempotent."""
    from gluestick_ts_spark.functions.text import fingerprint_expr
    from gluestick_ts_spark.operators.dedup import (
        dedup_exact_incremental,
        dedup_exact_incremental_bucketed,
        write_fingerprint_store,
    )

    store_fps = docs.select(fingerprint_expr("text").alias("fp")).distinct()
    path = "file://" + str(tmp_path / "fpstore")
    write_fingerprint_store(store_fps, path, num_buckets=16)

    batch = spark.createDataFrame(
        [
            (20, BASE),  # normalized-exact dup of stored doc 1
            (21, "a genuinely new document about columnar readers"),
            (22, "a genuinely new document about columnar readers"),  # in-batch dup
            (23, "another novel doc on shuffle hash join fallbacks"),
        ],
        "doc_id long, text string",
    )
    mem, _ = dedup_exact_incremental(batch, store_fps)
    bkt, fps = dedup_exact_incremental_bucketed(batch, path, append_survivors=True)
    assert {r.doc_id for r in bkt.collect()} == {r.doc_id for r in mem.collect()} == {21, 23}
    assert "__gs_fp" not in bkt.columns and "__bucket" not in bkt.columns
    # pruning: the store scan carries a bucket partition filter
    bkt2, _ = dedup_exact_incremental_bucketed(batch, path)
    import re as _re

    plan = bkt2._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert any(
        "bucket" in p for p in _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    ), plan[:1500]
    # append made the rerun idempotent
    assert bkt2.count() == 0


def test_write_signature_store_empty_requires_sig_len(spark, docs, tmp_path):
    """Seeding an empty store without sig_len must fail loudly — a
    silently frozen wrong width would reject every future batch."""
    from gluestick_ts_spark.operators.dedup import (
        minhash_signatures,
        read_signature_store_meta,
        write_signature_store,
    )

    empty = minhash_signatures(docs.limit(0))
    path = "file://" + str(tmp_path / "emptystore")
    with pytest.raises(ValueError, match="sig_len"):
        write_signature_store(empty, path)
    write_signature_store(empty, path, sig_len=64)  # explicit width OK
    assert read_signature_store_meta(spark, path)["sig_len"] == 64


def test_hot_band_guard(spark, tmp_path):
    """Degenerate boilerplate bands (store-population-sized membership)
    can be skipped at candidate-join time: near-dups through normal
    bands still die, template matches survive (the documented recall
    tradeoff), and the sidecar only exists when asked for."""
    from gluestick_ts_spark.operators.dedup import (
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        write_signature_store,
    )

    template = " ".join(f"boiler{i} plate{i} text{i}" for i in range(15))
    unique = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(15))
    store_docs = spark.createDataFrame(
        [(i, template) for i in range(20)] + [(99, unique)],
        "doc_id long, text string",
    )
    path = "file://" + str(tmp_path / "hotstore")
    write_signature_store(
        minhash_signatures(store_docs), path, num_buckets=8, hot_band_min=10
    )
    hot = spark.read.parquet(path + "/hot_bands")
    assert hot.count() > 0  # the template's bands are hot
    assert hot.agg({"n_members": "min"}).first()[0] >= 10

    batch = spark.createDataFrame(
        [
            (200, template),                                   # boilerplate re-send
            (201, unique.replace("beta7", "delta7")),          # near-dup via normal bands
            (202, "a genuinely fresh document about codegen stages"),
        ],
        "doc_id long, text string",
    )
    # guard OFF: template re-send killed through its (hot) bands
    surv_off, _ = dedup_minhash_incremental_bucketed(batch, path, threshold=0.7)
    assert {r.doc_id for r in surv_off.collect()} == {202}
    # guard ON: hot bands skipped -> template re-send survives (the
    # tradeoff), normal-band near-dup still dies
    surv_on, _ = dedup_minhash_incremental_bucketed(
        batch, path, threshold=0.7, skip_hot_bands=True
    )
    assert {r.doc_id for r in surv_on.collect()} == {200, 202}

    # stores without the sidecar refuse the flag instead of silently
    # running unguarded
    path2 = "file://" + str(tmp_path / "plainstore")
    write_signature_store(minhash_signatures(store_docs), path2, num_buckets=8)
    with pytest.raises(ValueError, match="hot_band_min"):
        dedup_minhash_incremental_bucketed(batch, path2, skip_hot_bands=True)


def test_compact_signature_store(spark, docs, tmp_path):
    """Compaction collapses per-append small files to ONE part file per
    bucket dir while preserving every row — file-open count, not byte
    count, dominates the candidate scan after many ingest batches."""
    from gluestick_ts_spark.operators.dedup import (
        append_signature_store,
        compact_signature_store,
        minhash_signatures,
        write_signature_store,
    )

    path = "file://" + str(tmp_path / "cstore")
    sigs = minhash_signatures(docs)
    write_signature_store(sigs, path, num_bands=16, num_buckets=4)
    # three appends -> multiple part files per bucket
    for k in range(3):
        extra = spark.createDataFrame(
            [(100 + k, f"fresh doc number {k} about executor memory pages")],
            "doc_id long, text string",
        )
        append_signature_store(minhash_signatures(extra), path)

    before = spark.read.parquet(path + "/banded")
    rows_before = sorted((r.id, r.band, r.band_hash) for r in before.collect())
    files_before = {f for f in before.inputFiles()}
    assert len(files_before) > 4  # more files than buckets pre-compaction

    compact_signature_store(spark, path)
    after = spark.read.parquet(path + "/banded")
    assert sorted((r.id, r.band, r.band_hash) for r in after.collect()) == rows_before
    per_bucket: dict = {}
    for f in after.inputFiles():
        b = [seg for seg in f.split("/") if seg.startswith("bucket=")][0]
        per_bucket.setdefault(b, set()).add(f)
    assert per_bucket and all(len(v) == 1 for v in per_bucket.values()), {
        k: len(v) for k, v in per_bucket.items()
    }


def test_compact_fingerprint_store(spark, docs, tmp_path):
    """Fingerprint-store compaction: one part file per bucket after,
    membership semantics unchanged, and the harmless full-row
    duplicates a crash-window re-append leaves behind are reclaimed."""
    from gluestick_ts_spark.functions.text import fingerprint_expr
    from gluestick_ts_spark.operators.dedup import (
        append_fingerprint_store,
        compact_fingerprint_store,
        dedup_exact_incremental_bucketed,
        write_fingerprint_store,
    )

    path = "file://" + str(tmp_path / "cfpstore")
    store_fps = docs.select(fingerprint_expr("text").alias("fp")).distinct()
    write_fingerprint_store(store_fps, path, num_buckets=4)
    extra = spark.createDataFrame(
        [("deadbeef" * 4,), ("cafebabe" * 4,)], "fp string"
    )
    append_fingerprint_store(extra, path)
    append_fingerprint_store(extra, path)  # crash-window double append

    batch = spark.createDataFrame(
        [(20, BASE), (21, "a brand new doc about bucket pruning")],
        "doc_id long, text string",
    )
    before, _ = dedup_exact_incremental_bucketed(batch, path)
    before_ids = {r.doc_id for r in before.collect()}
    distinct_before = (
        spark.read.parquet(path + "/banded").select("fp").distinct().count()
    )
    files_before = set(spark.read.parquet(path + "/banded").inputFiles())
    assert len(files_before) > 4

    compact_fingerprint_store(spark, path)
    after_df = spark.read.parquet(path + "/banded")
    # full-row dups are gone; distinct fingerprints preserved
    assert after_df.count() == after_df.dropDuplicates().count()
    assert after_df.select("fp").distinct().count() == distinct_before
    per_bucket: dict = {}
    for f in after_df.inputFiles():
        b = [seg for seg in f.split("/") if seg.startswith("bucket=")][0]
        per_bucket.setdefault(b, set()).add(f)
    assert per_bucket and all(len(v) == 1 for v in per_bucket.values())
    after, _ = dedup_exact_incremental_bucketed(batch, path)
    assert {r.doc_id for r in after.collect()} == before_ids


def test_fingerprint_store_membership_and_batch_exclusion(spark, tmp_path):
    """The membership probe finds exactly the batch fps present in the
    store; exclude_batch_id hides the store rows a crash-replayed batch
    itself appended; stores without the provenance column refuse the
    flag instead of silently running non-idempotent."""
    from gluestick_ts_spark.operators.dedup import (
        append_fingerprint_store,
        fingerprint_store_membership,
        write_fingerprint_store,
    )

    path = "file://" + str(tmp_path / "mstore")
    write_fingerprint_store(
        spark.createDataFrame([], "fp string, batch_id long"),
        path,
        num_buckets=8,
    )
    hist = spark.createDataFrame(
        [("aa11", 7), ("bb22", 7)], "fp string, batch_id long"
    )
    append_fingerprint_store(hist, path)
    mine = spark.createDataFrame(
        [("cc33", 42), ("dd44", 42)], "fp string, batch_id long"
    )
    append_fingerprint_store(mine, path)

    probe = spark.createDataFrame(
        [("aa11",), ("cc33",), ("ee55",)], "fp string"
    )
    hits = {r.fp for r in fingerprint_store_membership(probe, path).collect()}
    assert hits == {"aa11", "cc33"}
    # replaying batch 42: its own append is invisible, history is not
    replay = {
        r.fp
        for r in fingerprint_store_membership(
            probe, path, exclude_batch_id=42
        ).collect()
    }
    assert replay == {"aa11"}

    bare = "file://" + str(tmp_path / "barestore")
    write_fingerprint_store(
        spark.createDataFrame([("aa11",)], "fp string"), bare, num_buckets=8
    )
    with pytest.raises(ValueError, match="batch_id"):
        fingerprint_store_membership(probe, bare, exclude_batch_id=1)


def test_dedup_exact_incremental(spark, docs):
    """Exact cross-store dedup: batch rows whose normalized fingerprint
    is already in the store are dropped via one anti-join; fresh rows
    survive with their fingerprints returned for the store."""
    from gluestick_ts_spark.functions.text import fingerprint_expr
    from gluestick_ts_spark.operators.dedup import dedup_exact_incremental

    store = docs.select(fingerprint_expr("text").alias("fp")).distinct()
    batch = spark.createDataFrame(
        [
            (20, BASE),  # normalized-exact dup of stored doc 1
            (21, "THE  quick BROWN fox jumps over the lazy dog and runs far away home tonight"),
            (22, "a genuinely new document"),
            (23, "a genuinely new document"),  # batch-internal dup of 22
        ],
        "doc_id long, text string",
    )
    survivors, fps = dedup_exact_incremental(batch, store)
    assert {r.doc_id for r in survivors.collect()} == {22}
    assert "__gs_fp" not in survivors.columns
    assert fps.count() == 1
    # append-and-rerun is idempotent
    again, _ = dedup_exact_incremental(batch, store.unionByName(fps))
    assert again.count() == 0


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing invariants (Schleimer et al. 2003): a shared substring
    of length >= k + w - 1 yields at least one IDENTICAL fingerprint in
    both documents; NULL and shorter-than-k text are total (empty
    array); output is sorted-distinct."""
    from gluestick_ts_spark.functions.text import winnow_fingerprints_expr

    shared = "zqxwvutsrqponmlk"  # 16 chars >= k + w - 1 = 8
    df = spark.createDataFrame(
        [
            (1, "left padding words " + shared + " right tail"),
            (2, shared + " entirely different continuation text here"),
            (3, "abcd"),  # < k chars -> empty
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: list(r.fps)
        for r in df.select(
            "doc_id", winnow_fingerprints_expr("text").alias("fps")
        ).collect()
    }
    assert set(rows[1]) & set(rows[2]), "shared substring must share a fingerprint"
    assert rows[3] == [] and rows[4] == []
    assert rows[1] == sorted(set(rows[1]))


def test_winnow_matches_duckdb_twin(spark):
    """The Spark expression and the DuckDB oracle fragment produce
    bit-identical fingerprint lists on real documents."""
    import duckdb

    from gluestick_ts_spark.functions.text import (
        winnow_fingerprints_expr,
        winnow_fps_sql,
    )

    pq = "/root/testdata/sf0.001/documents.parquet"
    sdf = (
        spark.read.parquet(pq)
        .select("doc_id", winnow_fingerprints_expr("text").alias("fps"))
        .orderBy("doc_id")
        .collect()
    )
    odf = duckdb.sql(
        f"SELECT doc_id, {winnow_fps_sql('text')} AS fps "
        f"FROM read_parquet('{pq}') ORDER BY doc_id"
    ).fetchall()
    assert len(sdf) == len(odf) > 0
    for s, o in zip(sdf, odf):
        assert s.doc_id == o[0] and list(s.fps) == list(o[1]), s.doc_id


def test_winnow_similarity_pairs(spark, docs):
    """MOSS-style pair detection: exact and near dups pair with high
    fingerprint-set jaccard; unrelated docs never pair at 0.5."""
    from gluestick_ts_spark.operators.dedup import winnow_similarity_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in winnow_similarity_pairs(docs, min_jaccard=0.5).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)  # normalized-exact dup
    # case folds away but the inner double-space changes a few char
    # k-grams: near-1, not exactly 1 (char-level fingerprints do not
    # collapse whitespace runs)
    assert pairs[(1, 3)] >= 0.9
    assert (1, 4) in pairs and pairs[(1, 4)] >= 0.5  # one-token edit
    assert not any(5 in p for p in pairs), "unrelated doc must not pair"


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def _pq_fixture_corpus(spark, n=200, dim=16, seed=7):
    import random as _r

    rng = _r.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        nrm = sum(x * x for x in v) ** 0.5 or 1.0
        rows.append((i, [x / nrm for x in v]))
    return rows


def test_pq_encode_shapes_and_self_codes(spark):
    """Codes have length m with values in [0, k); the k-means seed
    vectors (first k by id) encode to their own centroid index in every
    subspace at n_iter=0."""
    from gluestick_ts_spark.operators.similarity import pq_encode, train_pq_codebooks

    corpus = spark.createDataFrame(
        _pq_fixture_corpus(spark), "vec_id long, embedding array<float>"
    )
    books = train_pq_codebooks(corpus, m=4, k=8, n_iter=0)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
    got = {r.id: list(r.codes) for r in pq_encode(corpus, books).collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in got.values())
    for i in range(8):
        assert got[i] == [i, i, i, i], (i, got[i])


def test_pq_training_reduces_distortion(spark):
    """Lloyd's iterations must not increase total quantization
    distortion (sum of squared distances to each vector's
    reconstruction) vs the raw seed codebooks."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        _pq_books_lit,
        _sub_dist2,
        pq_encode,
        train_pq_codebooks,
    )

    corpus = spark.createDataFrame(
        _pq_fixture_corpus(spark), "vec_id long, embedding array<float>"
    )

    def distortion(books):
        m, sub = len(books), len(books[0][0])
        lit = _pq_books_lit(books)
        enc = pq_encode(corpus, books).join(
            corpus.select(F.col("vec_id").alias("id"), "embedding"), on="id"
        )
        dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        d = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + _sub_dist2(
                F.slice(dbl, j * sub + 1, sub),
                F.element_at(
                    F.element_at(lit, j + 1), F.element_at(F.col("codes"), j + 1) + 1
                ),
            ),
        )
        return enc.select(F.sum(d)).first()[0]

    seed_books = train_pq_codebooks(corpus, m=4, k=8, n_iter=0)
    trained = train_pq_codebooks(corpus, m=4, k=8, n_iter=3)
    d0, d1 = distortion(seed_books), distortion(trained)
    assert d1 <= d0 + 1e-9, (d0, d1)
    assert d1 < d0 * 0.9, f"training should cut distortion: {d0} -> {d1}"


def test_pq_topk_planted_recall(spark):
    """ADC retrieval finds planted near-duplicates: queries are noisy
    copies of corpus vectors, so the planted source must appear in the
    PQ top-5 for the vast majority of queries (random-vector exact
    neighbors are noise-ranked and NOT a meaningful PQ target — planted
    structure is)."""
    import random as _r

    from gluestick_ts_spark.operators.similarity import pq_topk, train_pq_codebooks

    base = _pq_fixture_corpus(spark, n=200, dim=16)
    rng = _r.Random(99)
    queries = []
    for qi in range(20):
        src = base[qi * 7][1]
        noisy = [x + rng.gauss(0, 0.05) for x in src]
        nrm = sum(x * x for x in noisy) ** 0.5 or 1.0
        queries.append((1000 + qi, [x / nrm for x in noisy]))
    corpus = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    books = train_pq_codebooks(corpus, m=4, k=16, n_iter=2)
    out = pq_topk(corpus, qdf, books, k=5)
    hits = 0
    per_q = {}
    for r in out.collect():
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qi in range(20):
        if (qi * 7) in per_q.get(1000 + qi, set()):
            hits += 1
    assert hits >= 16, f"planted recall too low: {hits}/20"


def test_pq_encode_is_map_only(spark):
    """The encode relation a 100 TB deployment persists must be
    map-only: zero exchanges in its plan."""
    from gluestick_ts_spark.operators.similarity import pq_encode, train_pq_codebooks

    corpus = spark.createDataFrame(
        _pq_fixture_corpus(spark), "vec_id long, embedding array<float>"
    )
    books = train_pq_codebooks(corpus, m=4, k=8, n_iter=0)
    plan = pq_encode(corpus, books)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_ann_ivfpq_planted_recall_and_consistency(spark):
    """IVF+PQ composition: planted near-dup queries still find their
    source through list pruning + ADC scoring; results are a subset of
    what full-scan pq_topk can see (pruning only removes candidates,
    and surviving pairs carry the identical ADC distance)."""
    import random as _r

    from gluestick_ts_spark.operators.similarity import (
        ann_ivfpq_topk,
        pq_topk,
        train_pq_codebooks,
    )

    base = _pq_fixture_corpus(spark, n=200, dim=16)
    rng = _r.Random(5)
    queries = []
    for qi in range(15):
        src = base[qi * 9][1]
        noisy = [x + rng.gauss(0, 0.05) for x in src]
        nrm = sum(x * x for x in noisy) ** 0.5 or 1.0
        queries.append((2000 + qi, [x / nrm for x in noisy]))
    corpus = spark.createDataFrame(base, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    books = train_pq_codebooks(corpus, m=4, k=16, n_iter=2)

    out = ann_ivfpq_topk(corpus, qdf, books, k=5, n_centroids=8, n_probe=4)
    per_q = {}
    dists = {}
    for r in out.collect():
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        dists[(r.query_id, r.neighbor_id)] = r.adc_dist
    hits = sum(1 for qi in range(15) if (qi * 9) in per_q.get(2000 + qi, set()))
    assert hits >= 11, f"ivfpq planted recall too low: {hits}/15"

    full = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in pq_topk(corpus, qdf, books, k=200).collect()
    }
    for pair, d in dists.items():
        assert pair in full and full[pair] == pytest.approx(d, abs=1e-6), pair


def test_line_dedup_removes_boilerplate_keeps_first(spark):
    """Corpus-wide duplicate lines vanish everywhere but their first
    (doc, position) occurrence; unique lines survive untouched; counts
    report per-doc removal mass."""
    from gluestick_ts_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nalpha body\ncookie banner"),
            (2, "cookie banner\nbeta body"),
            (3, "gamma body"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs).collect()}
    # doc 1 holds the first occurrence (position 0); its repeat at
    # position 2 and doc 2's copy are boilerplate
    assert got[1].text_dedup == "cookie banner\nalpha body"
    assert (got[1].n_lines, got[1].n_lines_kept) == (3, 2)
    assert got[2].text_dedup == "beta body"
    assert (got[2].n_lines, got[2].n_lines_kept) == (2, 1)
    assert got[3].text_dedup == "gamma body"
    assert 4 not in got  # NULL text carries no lines


def test_line_dedup_keep_first_false_and_min_count(spark):
    """keep_first=False drops every occurrence of a duplicate line;
    min_count raises the boilerplate threshold."""
    from gluestick_ts_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\nz"), (3, "x")],
        "doc_id long, text string",
    )
    none_kept = {r.doc_id: r for r in line_dedup(docs, keep_first=False).collect()}
    assert none_kept[1].text_dedup == "y"
    assert none_kept[2].text_dedup == "z"
    assert none_kept[3].text_dedup == ""
    assert none_kept[3].n_lines_kept == 0
    # min_count=4 > the 3 occurrences of "x": nothing is boilerplate
    lax = {r.doc_id: r for r in line_dedup(docs, min_count=4).collect()}
    assert lax[1].text_dedup == "x\ny"
    assert lax[3].text_dedup == "x"


def test_semantic_dedup_drops_planted_keeps_originals(spark):
    """A planted near-duplicate (same direction, slightly shifted)
    lands in its source's cluster and is dropped (higher id loses);
    the source and unrelated vectors survive; output is total."""
    import random as _r

    from gluestick_ts_spark.operators.similarity import semantic_dedup

    rng = _r.Random(11)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(16)]
        n = sum(x * x for x in v) ** 0.5
        rows.append((i, [x / n for x in v]))
    # plant near-dups of vectors 0..9 at ids 1000+
    for i in range(10):
        rows.append((1000 + i, [x + 0.02 for x in rows[i][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semantic_dedup(
        df, n_clusters=8, threshold=0.9).collect()}
    assert len(out) == 70  # total: one row per input
    dropped = {i for i, r in out.items() if not r.keep}
    # every planted dup must be dropped; no source may be (sources have
    # the lower id)
    assert {1000 + i for i in range(10)} <= dropped, dropped
    assert not any(i < 10 for i in dropped), dropped
    for i in range(10):
        assert out[1000 + i].max_dup_cosine >= 0.9
        # planted vector clusters with its source
        assert out[1000 + i].cid == out[i].cid


def test_semantic_store_incremental_dedup_and_pruning(spark, tmp_path):
    """The semantic cluster store: a batch dedups against ONLY its own
    clusters' store partitions (plan-asserted partition pruning), store
    rows always beat batch rows, within-batch lower-id wins, and
    appends extend the store so later batches see earlier acceptances."""
    import random as _r
    import re

    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.similarity import (
        append_semantic_store,
        semantic_dedup_incremental,
        write_semantic_store,
    )

    rng = _r.Random(23)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(16)]
        n = sum(x * x for x in v) ** 0.5
        rows.append((i, [x / n for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = "file://" + str(tmp_path / "semstore")
    write_semantic_store(corpus, path, n_clusters=8)

    # batch: near-dup of corpus vec 5, one fresh vector, one in-batch dup pair
    fresh = [x for x in rows[0][1][::-1]]
    batch_rows = [
        (1005, [x + 0.02 for x in rows[5][1]]),   # store near-dup
        (2000, fresh),                             # fresh
        (3000, [x + 0.01 for x in fresh]),         # in-batch near-dup of 2000
    ]
    batch = spark.createDataFrame(batch_rows, "vec_id long, embedding array<double>")
    verdict, new_assigned = semantic_dedup_incremental(batch, path, threshold=0.9)

    got = {r.vec_id: r for r in verdict.collect()}
    assert not got[1005].keep and got[1005].max_dup_cosine >= 0.9
    # 2000's only near-dup is 3000 (higher id): 2000 survives, 3000 dies
    assert got[2000].keep
    assert not got[3000].keep
    kept = {r.id for r in new_assigned.collect()}
    assert kept == {2000}

    # partition pruning: the store side of the candidate join must carry
    # a cid IN (...) partition filter covering at most the batch's cids
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = verdict._jdf.queryExecution().explainString(mode)
    pf = [p for p in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
          if "cid" in p]
    assert pf, plan[:2000]
    m = re.search(r"INSET ([\d, ]+)|IN \(([\d, ]*)\)", pf[0])
    assert m, pf[0]
    n_pruned = len((m.group(1) or m.group(2)).strip(", ").split(","))
    assert 0 < n_pruned <= 3, pf[0]

    # append the survivor; a re-send of it must now die against the store
    append_semantic_store(new_assigned, path)
    again = spark.createDataFrame(
        [(4000, fresh)], "vec_id long, embedding array<double>")
    v2, _ = semantic_dedup_incremental(again, path, threshold=0.9)
    r2 = v2.first()
    assert not r2.keep and r2.max_dup_cosine >= 0.99


def test_sentence_span_dedup_c4_semantics(spark):
    """The C4 grain: a duplicated three-sentence span keeps only its
    global first occurrence; short docs pass through whole; NULL text
    yields no row; counts report removal mass."""
    from gluestick_ts_spark.operators.dedup import sentence_span_dedup

    boiler = "Cookie notice applies. Terms of use apply. All rights reserved."
    docs = spark.createDataFrame(
        [
            (1, f"Alpha body one. Alpha body two. {boiler} Unique tail one."),
            (2, f"Beta body here. {boiler} Different ending text."),
            (3, "Too short. Only two."),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in sentence_span_dedup(docs).collect()}
    # doc 1 holds the first occurrence: everything survives
    assert (got[1].n_sents, got[1].n_sents_kept) == (6, 6)
    # doc 2's copy of the boilerplate span is removed in full
    assert got[2].text_dedup == "Beta body here Different ending text."
    assert (got[2].n_sents, got[2].n_sents_kept) == (5, 2)
    # < 3 sentences: no spans, nothing removable
    assert (got[3].n_sents, got[3].n_sents_kept) == (2, 2)
    assert 4 not in got
    # the broadcast opt-in is pure physical strategy: identical output
    hinted = {
        r.doc_id: r
        for r in sentence_span_dedup(docs, broadcast_stats=True).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in hinted.items()
    }


def test_exact_substring_dedup_lee2022_semantics(spark):
    """The ExactSubstr grain: a duplicated k-token window keeps only
    its global first occurrence; OVERLAPPING duplicated windows merge
    their removal sets (the whole duplicated span vanishes, not just
    disjoint windows); short docs pass through whole; NULL text yields
    no row; whitespace runs collapse in the rebuild."""
    from gluestick_ts_spark.operators.dedup import exact_substring_dedup

    boiler = "b1 b2 b3 b4 b5 b6"  # 6 tokens -> two overlapping 5-windows
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"other   words  {boiler} tail"),  # whitespace runs
            (3, "way too short"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in exact_substring_dedup(docs, k=5).collect()}
    # doc 1 holds the first occurrences: everything survives
    assert (got[1].n_tokens, got[1].n_tokens_kept) == (9, 9)
    # doc 2: both overlapping windows' tokens removed -> all 6 boiler
    # tokens gone, split on \s+ collapsed the runs
    assert got[2].text_dedup == "other words tail"
    assert (got[2].n_tokens, got[2].n_tokens_kept) == (9, 3)
    assert (got[3].n_tokens, got[3].n_tokens_kept) == (3, 3)
    assert 4 not in got
    # broadcast opt-in is pure physical strategy
    hinted = {
        r.doc_id: tuple(r)
        for r in exact_substring_dedup(
            docs, k=5, broadcast_stats=True
        ).collect()
    }
    assert hinted == {k: tuple(v) for k, v in got.items()}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        exact_substring_dedup(docs, k=1)


def test_exact_substring_dedup_cjk_route(spark):
    """Round 15: routed rows slide CHAR windows (cjk_k) — a zh doc
    sharing a long char span with an earlier doc loses the span and
    rebuilds separator-free, while at the word grain the same docs are
    single tokens (< k) and pass through whole (the recall-0 failure
    the routing closes). EN rows in the same corpus keep byte-identical
    word-grain behavior, routed or not."""
    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.dedup import exact_substring_dedup

    base = "春天来了公园里的花都开了很多人带着孩子来这里散步玩耍天气特别好"  # 31
    t1, t2 = "湖边唱歌跳舞的人们非常开心今晚", "山上看风景的游客拍了很多照片啊"
    en = "the quick brown fox jumps over the lazy dog again and again tonight my friend"
    docs = spark.createDataFrame(
        [(1, base + t1), (2, base + t2), (3, en), (4, en + " extra")],
        "doc_id long, text string",
    )
    cjk = is_cjk_doc_expr("text")
    got = {
        r.doc_id: r
        for r in exact_substring_dedup(docs, k=8, cjk=cjk, cjk_k=20).collect()
    }
    # doc 1 is the global first for every shared base window: untouched,
    # rebuilt WITHOUT separators (char grain)
    assert got[1].text_dedup == base + t1
    assert (got[1].n_tokens, got[1].n_tokens_kept) == (46, 46)
    # doc 2 loses the whole 31-char shared base (windows 0..11 union);
    # its unique tail survives flush
    assert got[2].text_dedup == t2
    assert (got[2].n_tokens, got[2].n_tokens_kept) == (46, 15)
    # EN rows: word grain exactly as the unrouted operator
    assert got[3].n_tokens_kept == 15
    assert got[4].text_dedup == "extra"
    # unrouted: the zh docs are 1 whitespace token each, shorter than
    # k, and pass through whole — recall 0 at this grain
    plain = {
        r.doc_id: r for r in exact_substring_dedup(docs, k=8).collect()
    }
    assert plain[2].text_dedup == base + t2
    assert (plain[2].n_tokens, plain[2].n_tokens_kept) == (1, 1)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cjk_k must be"):
        exact_substring_dedup(docs, k=8, cjk=cjk, cjk_k=1)


def test_exact_substring_cjk_partition_invariant(spark):
    """The routed grain's keep-global-first tie-break is (id, position)
    — a pure function of the data — so re-partitioning the corpus
    leaves every rebuilt text and count bit-identical (the standing
    invariance guard every grain with a cut or tie-break ships)."""
    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.dedup import exact_substring_dedup

    base = "春天来了公园里的花都开了很多人带着孩子来这里散步玩耍天气特别好"
    rows = [
        (i, base + "零一二三四五六七八九甲乙丙丁戊己"[i % 7:][:9] + str(i))
        for i in range(30)
    ] + [(100 + i, f"english document number {i} about spark partitions "
                   f"and shuffle behavior over time item {i % 5}")
         for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(frame):
        return {
            r.doc_id: (r.text_dedup, r.n_tokens, r.n_tokens_kept)
            for r in exact_substring_dedup(
                frame, k=8, cjk=is_cjk_doc_expr("text"), cjk_k=20
            ).collect()
        }

    a = run(df)
    assert a == run(df.repartition(7)) == run(df.repartition(1))
    # count-visible planted positive: exactly one zh doc keeps the
    # shared 31-char prefix (the global first), all others lose it
    full = [i for i in range(30) if a[i][2] == a[i][1]]
    assert len(full) == 1


def test_compact_semantic_store(spark, tmp_path):
    """Cluster-store compaction: one part file per cid dir after,
    dedup results identical before/after, crash-window duplicate rows
    reclaimed."""
    from gluestick_ts_spark.operators.similarity import (
        append_semantic_store,
        compact_semantic_store,
        semantic_dedup_incremental,
        write_semantic_store,
    )

    path = "file://" + str(tmp_path / "semstore")
    base = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i) / 10]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    write_semantic_store(base, path, n_clusters=4)
    extra = spark.createDataFrame(
        [(100, [9.0, 9.0, 9.0]), (101, [-9.0, 4.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    _, kept = semantic_dedup_incremental(extra, path, threshold=0.95)
    kept = kept.localCheckpoint(eager=True)
    append_semantic_store(kept, path)
    append_semantic_store(kept, path)  # crash-window double append

    batch = spark.createDataFrame(
        [(200, [9.0, 9.0, 9.0]), (201, [0.0, 0.1, 5.0])],
        "vec_id long, embedding array<double>",
    )
    before, _ = semantic_dedup_incremental(batch, path, threshold=0.99)
    before_rows = {(r.vec_id, r.keep) for r in before.collect()}
    files_before = set(spark.read.parquet(path + "/clusters").inputFiles())

    compact_semantic_store(spark, path)
    after_df = spark.read.parquet(path + "/clusters")
    assert after_df.count() == after_df.dropDuplicates().count()
    per_cid: dict = {}
    for f in after_df.inputFiles():
        c = [seg for seg in f.split("/") if seg.startswith("cid=")][0]
        per_cid.setdefault(c, set()).add(f)
    assert per_cid and all(len(v) == 1 for v in per_cid.values())
    assert len(after_df.inputFiles()) < len(files_before)
    after, _ = semantic_dedup_incremental(batch, path, threshold=0.99)
    assert {(r.vec_id, r.keep) for r in after.collect()} == before_rows


def test_append_signature_store_rejects_narrower_schema(spark, docs, tmp_path):
    """A signature store seeded with a batch_id provenance column must
    refuse an append lacking it — narrower rows would read back
    NULL-stamped, the silent-provenance-loss case the fingerprint and
    semantic appenders already reject."""
    from gluestick_ts_spark.operators.dedup import (
        append_signature_store,
        minhash_signatures,
        write_signature_store,
    )

    path = "file://" + str(tmp_path / "guardstore")
    sigs = minhash_signatures(docs).withColumn("batch_id", F.lit(0).cast("long"))
    write_signature_store(sigs, path, num_buckets=4)
    bare = minhash_signatures(
        spark.createDataFrame(
            [(900, "a fresh doc about shuffle partition sizing and spill")],
            "doc_id long, text string",
        )
    )
    with pytest.raises(ValueError, match="frozen store columns"):
        append_signature_store(bare, path)
    # a properly stamped append still lands, and reads back stamped
    append_signature_store(bare.withColumn("batch_id", F.lit(1).cast("long")), path)
    got = (
        spark.read.parquet(path + "/banded")
        .where("id = 900")
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert [r.batch_id for r in got] == [1]


def test_signature_store_frozen_signing_recipe(spark, docs, tmp_path):
    """Round 15: the store meta freezes the SIGNING RECIPE and every
    incremental/append entry point asserts the batch's recipe against
    it — a routed batch banding against an unrouted store (or a seed /
    shingle-grain drift) raises instead of silently producing
    meaningless collisions. Legacy metas (no ``signing`` key) are
    treated as unrouted: unrouted batches pass, routed batches raise."""
    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.dedup import (
        append_signature_store,
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        minhash_signing,
        read_signature_store_meta,
        write_signature_store,
    )

    cjk = is_cjk_doc_expr("text")
    corpus = spark.createDataFrame(
        [(1, _ZH), (2, BASE)], "doc_id long, text string"
    )
    routed = minhash_signing(cjk_routed=True)
    path = "file://" + str(tmp_path / "routedstore")
    write_signature_store(
        minhash_signatures(corpus, cjk=cjk), path, num_buckets=4,
        signing=routed,
    )
    assert read_signature_store_meta(spark, path)["signing"] == routed

    batch = spark.createDataFrame(
        [
            (10, _ZH[:-1] + "好"),  # near dup of stored zh doc 1
            (12, "a genuinely new document about page cache behavior"),
        ],
        "doc_id long, text string",
    )
    # matching recipe: the routed zh near-dup is caught via the store
    got, _ = dedup_minhash_incremental_bucketed(
        batch, path, threshold=0.7, cjk=cjk
    )
    assert {r.doc_id for r in got.collect()} == {12}
    # unrouted batch against the routed store: refused up front
    with pytest.raises(ValueError, match="signing recipe"):
        dedup_minhash_incremental_bucketed(batch, path, threshold=0.7)
    # seed drift is equally fatal (collisions would be garbage)
    with pytest.raises(ValueError, match="seed"):
        dedup_minhash_incremental_bucketed(
            batch, path, threshold=0.7, cjk=cjk, seed=7
        )
    # attested appends check too; unattested (signing=None) still land
    with pytest.raises(ValueError, match="signing recipe"):
        append_signature_store(
            minhash_signatures(batch), path, signing=minhash_signing()
        )
    # an UNROUTED store rejects cjk_routed batches but ignores the
    # unused cjk_shingle_n knob between two unrouted recipes
    plain = "file://" + str(tmp_path / "plainstore")
    write_signature_store(
        minhash_signatures(corpus), plain, num_buckets=4,
        signing=minhash_signing(cjk_shingle_n=9),
    )
    ok, _ = dedup_minhash_incremental_bucketed(batch, plain, threshold=0.7)
    assert ok.count() >= 1
    with pytest.raises(ValueError, match="signing recipe"):
        dedup_minhash_incremental_bucketed(batch, plain, threshold=0.7, cjk=cjk)
    # legacy meta (no signing key): unrouted passes, routed raises
    legacy = "file://" + str(tmp_path / "legacystore")
    write_signature_store(minhash_signatures(corpus), legacy, num_buckets=4)
    assert "signing" not in read_signature_store_meta(spark, legacy)
    ok2, _ = dedup_minhash_incremental_bucketed(batch, legacy, threshold=0.7)
    assert ok2.count() >= 1
    with pytest.raises(ValueError, match="legacy"):
        dedup_minhash_incremental_bucketed(
            batch, legacy, threshold=0.7, cjk=cjk
        )
    # malformed signing dicts are rejected at write time
    with pytest.raises(ValueError, match="unknown signing keys"):
        write_signature_store(
            minhash_signatures(corpus), plain, num_buckets=4,
            signing={"shingles": 3},
        )


def test_fingerprint_store_frozen_width_fold(spark, tmp_path):
    """Round 15: ``width_fold`` is frozen into the fingerprint store
    meta — folded and unfolded fingerprints are different keys, so a
    batch whose fold disagrees with the store raises. A folded store
    catches the fullwidth re-typed duplicate the fold exists for."""
    from gluestick_ts_spark.functions.text import fingerprint_expr
    from gluestick_ts_spark.operators.dedup import (
        append_fingerprint_store,
        dedup_exact_incremental_bucketed,
        read_signature_store_meta,
        write_fingerprint_store,
    )

    corpus = spark.createDataFrame(
        [(1, "hello world from the corpus")], "doc_id long, text string"
    )
    folded = "file://" + str(tmp_path / "foldedstore")
    write_fingerprint_store(
        corpus.select(fingerprint_expr("text", width_fold=True).alias("fp")),
        folded,
        num_buckets=8,
        width_fold=True,
    )
    assert read_signature_store_meta(spark, folded)["width_fold"] is True
    batch = spark.createDataFrame(
        [
            (10, "ｈｅｌｌｏ　ｗｏｒｌｄ ｆｒｏｍ ｔｈｅ ｃｏｒｐｕｓ"),
            (11, "a different document entirely"),
        ],
        "doc_id long, text string",
    )
    # matching fold: the fullwidth re-typing collapses onto stored 1
    got, _ = dedup_exact_incremental_bucketed(batch, folded, width_fold=True)
    assert {r.doc_id for r in got.collect()} == {11}
    # fold mismatch (either direction) is refused up front
    with pytest.raises(ValueError, match="width_fold"):
        dedup_exact_incremental_bucketed(batch, folded)
    plain = "file://" + str(tmp_path / "plainfpstore")
    write_fingerprint_store(
        corpus.select(fingerprint_expr("text").alias("fp")), plain,
        num_buckets=8,
    )
    with pytest.raises(ValueError, match="width_fold"):
        dedup_exact_incremental_bucketed(batch, plain, width_fold=True)
    # ... and the unfolded batch misses the fullwidth dup, by design
    got2, _ = dedup_exact_incremental_bucketed(batch, plain)
    assert {r.doc_id for r in got2.collect()} == {10, 11}
    # attested appends check the frozen fold as well
    with pytest.raises(ValueError, match="width_fold"):
        append_fingerprint_store(
            batch.select(fingerprint_expr("text").alias("fp")),
            folded,
            width_fold=False,
        )


def test_ivf_store_build_probe_append_compact(spark, tmp_path):
    """The persisted IVF index: probes equal the in-memory ann_ivf_topk
    with the same centroids, the probe scan is partition-pruned to the
    probed list dirs, appends become retrievable with the FROZEN
    quantizer, and compaction leaves one file per list with identical
    results."""
    import re

    from gluestick_ts_spark.operators.similarity import (
        ann_ivf_store_topk,
        append_ivf_store,
        compact_ivf_store,
        write_ivf_store,
    )

    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(1, 61)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id").isin([3, 17, 42]))
    path = "file://" + str(tmp_path / "ivfstore")
    write_ivf_store(corpus, path, n_centroids=6)

    from gluestick_ts_spark.operators.similarity import (
        ann_ivf_topk,
        read_ivf_store_meta,
    )

    meta = read_ivf_store_meta(spark, path)
    got = ann_ivf_store_topk(queries, path, k=4, n_probe=3)
    want = ann_ivf_topk(
        corpus, queries, k=4, n_probe=3, centroids=meta["centroids"]
    )
    key = lambda df: sorted(
        (r.query_id, r.neighbor_id, round(r.cosine, 9), r.rank)
        for r in df.collect()
    )
    assert key(got) == key(want)

    # partition pruning: the store scan carries a cid partition filter
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = got._jdf.queryExecution().explainString(mode)
    pf = re.findall(r"PartitionFilters: \[[^\]]*cid[^\]]*\]", plan)
    assert pf, plan[:2000]
    assert "CartesianProduct" not in plan
    # probe side broadcasts into the pruned store scan (AQE's formatted
    # output repeats plan sections, so assert presence, not count)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # append with frozen centroids: a vector identical to query 3's
    # must become its #1 neighbor
    v3 = corpus.where("vec_id = 3").first().embedding
    extra = spark.createDataFrame(
        [(999, list(v3))], "vec_id long, embedding array<float>"
    )
    append_ivf_store(extra, path)
    after = ann_ivf_store_topk(
        queries.where("vec_id = 3"), path, k=1, n_probe=3
    ).first()
    assert after.neighbor_id == 999 and after.cosine == pytest.approx(1.0)

    # compaction: one file per list dir, results identical
    before_rows = key(ann_ivf_store_topk(queries, path, k=4, n_probe=3))
    compact_ivf_store(spark, path)
    per_cid: dict = {}
    for f in spark.read.parquet(path + "/lists").inputFiles():
        cid = [seg for seg in f.split("/") if seg.startswith("cid=")][0]
        per_cid.setdefault(cid, set()).add(f)
    assert per_cid and all(len(v) == 1 for v in per_cid.values())
    assert key(ann_ivf_store_topk(queries, path, k=4, n_probe=3)) == before_rows


def test_ann_ivf_seed_path_accepts_string_ids(spark):
    """The deterministic seed quantizer must keep the id column's own
    type — string-keyed corpora are legal (the trained path already
    preserves raw ids)."""
    import gluestick_ts_spark.operators.similarity as sim

    corpus = spark.createDataFrame(
        [(f"doc_{i}", [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        "vec_id string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [("q0", [1.0, 0.0, 1.0])], "vec_id string, embedding array<double>"
    )
    out = sim.ann_ivf_topk(
        corpus, queries, k=3, n_centroids=4, n_probe=4, train_iters=0
    ).collect()
    assert len(out) == 3
    assert all(isinstance(r.neighbor_id, str) for r in out)


def test_hard_negatives_excludes_positives_before_topk(spark):
    """The anti-lookup runs BEFORE the top-k window: even when an
    anchor's positives are its nearest neighbors, the output still
    holds k true negatives ranked by similarity — never a shortened
    or positive-contaminated list."""
    from gluestick_ts_spark.operators.similarity import hard_negatives

    # anchor 0 at [1,0]; ids 1,2 nearly parallel (positives), ids
    # 3..6 progressively farther (the true negatives)
    import math

    rows = [(0, [1.0, 0.0])]
    rows += [(1, [0.999, 0.01]), (2, [0.998, 0.02])]
    for i, ang in zip(range(3, 7), (0.1, 0.2, 0.3, 0.4)):
        rows.append((i, [math.cos(ang), math.sin(ang)]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = e.where("vec_id = 0")
    pos = spark.createDataFrame(
        [(0, 1), (0, 2)], "anchor_id long, positive_id long"
    )
    out = hard_negatives(e, anchors, pos, k=3).collect()
    assert [r.negative_id for r in sorted(out, key=lambda r: r.rank)] == [3, 4, 5]
    assert all(r.anchor_id == 0 for r in out)
    # cosines are similarity-ordered and positives/self are absent
    got = [r.cosine for r in sorted(out, key=lambda r: r.rank)]
    assert got == sorted(got, reverse=True)
    assert {r.negative_id for r in out}.isdisjoint({0, 1, 2})

    # without the positive pairs, the near-parallel items win: the
    # exclusion is what made the negatives "hard but true"
    base = hard_negatives(
        e, anchors, pos.where("anchor_id < 0"), k=3
    ).collect()
    assert [r.negative_id for r in sorted(base, key=lambda r: r.rank)] == [1, 2, 3]


def test_hard_negatives_attr_mode_and_validation(spark):
    """positive_attr mode: same-attribute items are positives via an
    in-row inequality on the broadcast anchors (nothing corpus-sized
    materialized); NULL attributes form their own positive group; at
    least one positive form is required."""
    import pytest

    from gluestick_ts_spark.operators.similarity import hard_negatives

    e = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "a"),
            (1, [0.99, 0.01], "a"),     # same label: positive
            (2, [0.98, 0.02], "b"),     # other label: hard negative
            (3, [0.0, 1.0], "b"),
            (4, [0.97, 0.03], None),    # null label vs 'a': negative
        ],
        "vec_id long, embedding array<double>, label string",
    )
    out = hard_negatives(
        e, e.where("vec_id = 0"), k=2, positive_attr=("label", "label")
    ).collect()
    assert [r.negative_id for r in sorted(out, key=lambda r: r.rank)] == [2, 4]

    # a NULL-labeled anchor treats NULL-labeled items as positives
    out2 = hard_negatives(
        e, e.where("vec_id = 4"), k=4, positive_attr=("label", "label")
    ).collect()
    assert {r.negative_id for r in out2} == {0, 1, 2, 3}

    # both forms compose: attr excludes label-a, pairs also exclude 2
    pairs = spark.createDataFrame(
        [(0, 2)], "anchor_id long, positive_id long"
    )
    out3 = hard_negatives(
        e, e.where("vec_id = 0"), positives=pairs, k=2,
        positive_attr=("label", "label"),
    ).collect()
    assert [r.negative_id for r in sorted(out3, key=lambda r: r.rank)] == [4, 3]

    with pytest.raises(ValueError, match="positive"):
        hard_negatives(e, e.where("vec_id = 0"), k=2)


def test_ivf_deterministic_training_partition_invariant(spark, sf_dir):
    """deterministic=True must produce BIT-identical centroids across
    partitionings (the property the ivf_train_centroids oracle rests
    on), and stay within float noise of the default streaming-avg
    path."""
    from gluestick_ts_spark.operators.similarity import train_ivf_centroids

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = train_ivf_centroids(e, n_centroids=8, n_iter=2, deterministic=True)
    b = train_ivf_centroids(
        e.repartition(13), n_centroids=8, n_iter=2, deterministic=True
    )
    assert a == b  # bit-identical, not just close
    c = train_ivf_centroids(e, n_centroids=8, n_iter=2)
    for ca, cc in zip(a, c):
        assert ca["cid"] == cc["cid"]
        assert all(abs(x - y) < 1e-9 for x, y in zip(ca["cent"], cc["cent"]))


def test_pq_deterministic_training_partition_invariant(spark, sf_dir):
    """train_pq_codebooks(deterministic=True) must produce BIT-identical
    codebooks across partitionings (the property the ann_ivf_topk
    oracle's unrolled ivfpq leg rests on), and stay within float noise
    of the default streaming-avg path."""
    from gluestick_ts_spark.operators.similarity import train_pq_codebooks

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = train_pq_codebooks(e, m=8, k=8, n_iter=1, deterministic=True)
    b = train_pq_codebooks(
        e.repartition(13), m=8, k=8, n_iter=1, deterministic=True
    )
    assert a == b  # bit-identical, not just close
    c = train_pq_codebooks(e, m=8, k=8, n_iter=1)
    for ja, jc in zip(a, c):
        for ca, cc in zip(ja, jc):
            assert all(abs(x - y) < 1e-9 for x, y in zip(ca, cc))


def test_sentence_span_dedup_cjk_split(spark):
    """CJK boundary routing (round 13): fullwidth terminators split
    real zh prose into sentences so a duplicated 3-sentence span is
    actually scrubbed; under the default ASCII pattern the same doc is
    ONE sentence and dedup is vacuous — the gap the opt-in pattern
    closes. DuckDB twin check on the rebuilt text."""
    import duckdb
    from pyspark.sql import functions as F

    from gluestick_ts_spark.operators.dedup import (
        CJK_SENTENCE_SPLIT_RE,
        sentence_span_dedup,
    )

    span = "我们去公园。天气很好。大家都很高兴。"
    a = "第一句话很普通。" + span + "结尾也不同。"
    b = "开头完全不同。" + span + "最后一句话。"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")

    routed = {
        r.doc_id: (r.text_dedup, r.n_sents, r.n_sents_kept)
        for r in sentence_span_dedup(
            df, sentence_split_re=CJK_SENTENCE_SPLIT_RE
        ).collect()
    }
    # 5 sentences per doc; the first doc keeps everything, the second
    # loses the duplicated 3-sentence span
    assert routed[1] == ("第一句话很普通 我们去公园 天气很好 大家都很高兴 结尾也不同", 5, 5)
    assert routed[2] == ("开头完全不同 最后一句话", 5, 2)
    # default ASCII pattern: one giant sentence per doc, nothing to span
    plain = {
        r.doc_id: (r.n_sents, r.n_sents_kept)
        for r in sentence_span_dedup(df).collect()
    }
    assert plain == {1: (1, 1), 2: (1, 1)}
    # DuckDB twin over the same pattern re-derives the rebuilt text
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(1, a), (2, b)])
    q = f"""
    WITH sa AS (SELECT doc_id, list_filter(
        regexp_split_to_array(text, '{CJK_SENTENCE_SPLIT_RE}'),
        x -> trim(x) <> '') AS A FROM t),
    sp AS (SELECT doc_id, i - 1 AS s0,
        md5(array_to_string(A[i:i+2], chr(1))) AS k
        FROM sa, UNNEST(range(1, greatest(len(A) - 2, 0) + 1)) AS u(i)),
    spw AS (SELECT doc_id, s0,
        COUNT(*) OVER (PARTITION BY k) AS nk,
        row_number() OVER (PARTITION BY k ORDER BY doc_id, s0) AS rn FROM sp),
    removed AS (SELECT DISTINCT doc_id, s0 + d AS sidx
        FROM spw, UNNEST(range(0, 3)) AS r(d) WHERE nk >= 2 AND rn > 1),
    sent AS (SELECT doc_id, i - 1 AS sidx, A[i] AS sent
        FROM sa, UNNEST(range(1, len(A) + 1)) AS u(i))
    SELECT s.doc_id,
      COALESCE(string_agg(s.sent, ' ' ORDER BY s.sidx)
               FILTER (WHERE r.doc_id IS NULL), '') AS td
    FROM sent s LEFT JOIN removed r
      ON s.doc_id = r.doc_id AND s.sidx = r.sidx
    GROUP BY s.doc_id
    """
    duck = dict(con.execute(q).fetchall())
    assert duck == {1: routed[1][0], 2: routed[2][0]}


def test_stamp_signing_migrates_legacy_stores(spark, tmp_path, caplog):
    """Round 16 (ADVICE): a store legitimately built ROUTED before the
    recipe freeze existed hard-failed on upgrade with a rebuild-shaped
    error, though only the meta record was missing. stamp_signing
    attests the real recipe into an existing store_meta.json (bucketed)
    or flat_signing.json (flat) without re-banding; a CONFLICTING stamp
    refuses; and unattested appends to frozen stores now log a
    bypass warning (VERDICT #4)."""
    import json as _json
    import logging as _logging

    from gluestick_ts_spark.functions.text import is_cjk_doc_expr
    from gluestick_ts_spark.operators.dedup import (
        append_signature_store,
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        minhash_signing,
        read_signature_store_meta,
        stamp_signing,
        write_signature_store,
    )

    cjk = is_cjk_doc_expr("text")
    corpus = spark.createDataFrame(
        [(1, _ZH), (2, BASE)], "doc_id long, text string"
    )
    # legacy layout: signatures WERE routed, but the meta has no recipe
    path = "file://" + str(tmp_path / "legacyrouted")
    write_signature_store(
        minhash_signatures(corpus, cjk=cjk), path, num_buckets=4
    )
    meta = read_signature_store_meta(spark, path)
    assert "signing" not in meta or meta["signing"] is None

    batch = spark.createDataFrame(
        [(10, _ZH[:-1] + "好")], "doc_id long, text string"
    )
    # pre-stamp: the routed batch is refused, remedy names the helper
    with pytest.raises(ValueError, match="stamp_signing"):
        dedup_minhash_incremental_bucketed(batch, path, threshold=0.7, cjk=cjk)

    routed = minhash_signing(cjk_routed=True)
    stamp_signing(spark, path, routed)
    assert read_signature_store_meta(spark, path)["signing"] == routed
    # idempotent re-stamp; conflicting stamp refuses
    stamp_signing(spark, path, routed)
    with pytest.raises(ValueError, match="differing"):
        stamp_signing(spark, path, minhash_signing(seed=7))
    # post-stamp: the routed pipeline resumes and catches the near-dup
    got, _ = dedup_minhash_incremental_bucketed(
        batch, path, threshold=0.7, cjk=cjk
    )
    assert {r.doc_id for r in got.collect()} == set()

    # unattested append against the now-frozen store: lands, but warns
    with caplog.at_level(_logging.WARNING, "gluestick_ts_spark.operators.dedup"):
        append_signature_store(minhash_signatures(batch, cjk=cjk), path)
    assert any("no attestation" in r.message for r in caplog.records)

    # flat streaming-store layout: stamp writes the sidecar
    flat = tmp_path / "flatstore"
    flat.mkdir()
    stamp_signing(spark, "file://" + str(flat), routed)
    assert _json.load(open(flat / "flat_signing.json")) == routed
    stamp_signing(spark, "file://" + str(flat), routed)  # idempotent
    with pytest.raises(ValueError, match="differing"):
        stamp_signing(spark, "file://" + str(flat), minhash_signing())


def test_stamp_width_fold_and_unattested_append_warning(
    spark, tmp_path, caplog
):
    """Round 16: the fingerprint-store twin — stamp_width_fold attests
    a legacy store's fold recipe without re-bucketing (flip of an
    explicit freeze refuses), and an unattested append to a frozen
    store logs the bypass warning."""
    import logging as _logging

    from gluestick_ts_spark.operators.dedup import (
        append_fingerprint_store,
        fingerprint_expr,
        read_signature_store_meta,
        stamp_width_fold,
        write_fingerprint_store,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "ＡＢＣ fullwidth doc"), (2, "plain doc")],
        "doc_id long, text string",
    )
    fps = docs.select(fingerprint_expr("text", width_fold=True).alias("fp"))
    path = "file://" + str(tmp_path / "fpstore")
    write_fingerprint_store(fps, path, num_buckets=4)
    # write_fingerprint_store freezes width_fold=False by default —
    # simulate a true legacy meta by dropping the key
    import json as _json

    meta_file = tmp_path / "fpstore" / "store_meta.json"
    meta = _json.load(open(meta_file))
    del meta["width_fold"]
    open(meta_file, "w").write(_json.dumps(meta))
    crc = tmp_path / "fpstore" / ".store_meta.json.crc"
    if crc.exists():  # hadoop LocalFS checksum of the pre-edit bytes
        crc.unlink()

    stamp_width_fold(spark, path, True)
    assert read_signature_store_meta(spark, path)["width_fold"] is True
    stamp_width_fold(spark, path, True)  # idempotent
    with pytest.raises(ValueError, match="incomparable"):
        stamp_width_fold(spark, path, False)

    with caplog.at_level(_logging.WARNING, "gluestick_ts_spark.operators.dedup"):
        append_fingerprint_store(
            docs.select(
                fingerprint_expr("text", width_fold=True).alias("fp")
            ),
            path,
        )
    assert any("no attestation" in r.message for r in caplog.records)


def test_recover_store_data_heals_crashed_bucketed_compaction(
    spark, tmp_path
):
    """Round 16: the bucketed-store twin of recover_flat_store — a
    _compact_store_data swap that died between its renames parks the
    data dir in .pre-compact; the incremental entry points (and the
    compactor itself) now heal it on next touch instead of raising on
    the missing path."""
    import os

    from gluestick_ts_spark.operators.dedup import (
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        write_signature_store,
    )

    corpus = spark.createDataFrame(
        [(1, BASE), (2, "completely different content about spark engines")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bstore")
    write_signature_store(minhash_signatures(corpus), path, num_buckets=4)
    os.rename(path + "/banded", path + "/banded.pre-compact")

    batch = spark.createDataFrame(
        [(10, BASE.replace("lazy", "sleepy"))], "doc_id long, text string"
    )
    got, _ = dedup_minhash_incremental_bucketed(batch, path, threshold=0.7)
    assert {r.doc_id for r in got.collect()} == set()  # dup caught
    assert os.path.isdir(path + "/banded")  # healed
