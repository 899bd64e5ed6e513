"""The streaming stores' replay protocol (``streaming/incremental.py``
``_BatchStamper`` + ``_each_batch``) is coded once, and the stores no
other test crashes mid-compaction keep every earlier row when the next
read finds their data dir parked in ``.pre-compact``."""

import ast
import os
import pathlib

from pyspark.sql import functions as F

SRC = (
    pathlib.Path(__file__).resolve().parent.parent
    / "gluestick_ts_spark"
    / "streaming"
    / "incremental.py"
)


def _calls(tree, names):
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) in names
    ]


def test_replay_protocol_is_coded_once():
    src = SRC.read_text(encoding="utf-8")
    assert src.count("foreachBatch(") == 1
    assert src.count(".isEmpty()") == 1
    tree = ast.parse(src)
    (stamper,) = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "_BatchStamper"
    ]
    inside = range(stamper.lineno, stamper.end_lineno + 1)
    protocol = {
        "heal_dir",
        "recover_flat_store",
        "_exclude_batch_filter",
        "already_appended",
        "mark_appended",
    }
    calls = _calls(tree, protocol)
    assert {getattr(c.func, "id", None) for c in calls} >= {
        "heal_dir", "_exclude_batch_filter"
    }
    assert [c.lineno for c in calls if c.lineno not in inside] == []
    # the .done marker is named in one place
    assert [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and ".done" in n.value
        and n.lineno not in inside
        and n.lineno > tree.body[0].end_lineno  # past the module docstring
    ] == []


def test_stream_domain_caps_survives_crashed_compaction(spark, tmp_path):
    """A capped domain gets no new budget after the count store was
    parked mid-compaction; the park is healed and no count is lost."""
    from gluestick_ts_spark.streaming.incremental import stream_domain_caps

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    schema = "doc_id long, url string"
    emitted: set = set()
    os.makedirs(store)

    def run():
        stream_domain_caps(
            spark.readStream.schema(schema).parquet(src), store,
            lambda df, b: emitted.update(r.doc_id for r in df.collect()),
            cap=2, checkpoint_dir=str(tmp_path / "ck"),
        ).trigger(availableNow=True).start().awaitTermination(180)

    spark.createDataFrame(
        [(1, "http://a.org/p"), (2, "http://a.org/q")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert emitted == {1, 2}

    data = f"{store}/domains.parquet"
    os.rename(data, data + ".pre-compact")
    emitted.clear()
    spark.createDataFrame(
        [(3, "http://a.org/r"), (4, "http://b.org/s")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert emitted == {4}  # a.org's budget is still spent
    assert not os.path.exists(data + ".pre-compact")
    totals = {
        r.domain: r.total
        for r in spark.read.parquet(data)
        .groupBy("domain")
        .agg(F.sum("cnt").alias("total"))
        .collect()
    }
    assert totals == {"a.org": 2, "b.org": 1}


def _unit_vectors(n, dim, seed):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        rows.append((i, [x / norm for x in v]))
    return rows


def test_semantic_dedup_incremental_survives_crashed_compaction(
    spark, tmp_path
):
    """A stored vector's near-duplicate is still rejected when the next
    read finds ``clusters/`` parked; every stored row comes back."""
    from gluestick_ts_spark.operators.similarity import (
        semantic_dedup_incremental,
        write_semantic_store,
    )

    rows = _unit_vectors(8, 4, seed=3)
    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "sem")
    write_semantic_store(spark.createDataFrame(rows, schema), path, n_clusters=2)
    os.rename(path + "/clusters", path + "/clusters.pre-compact")

    batch = spark.createDataFrame(
        [(100, [x + 0.01 for x in rows[5][1]])], schema
    )
    verdict, _ = semantic_dedup_incremental(batch, path, threshold=0.9)
    (row,) = verdict.collect()
    assert row.keep is False and row.max_dup_cosine >= 0.9
    assert not os.path.exists(path + "/clusters.pre-compact")
    stored = {r.id for r in spark.read.parquet(path + "/clusters").collect()}
    assert stored == set(range(8))


def test_ann_ivf_store_topk_survives_crashed_compaction(spark, tmp_path):
    """Earlier neighbours are still found when the probe finds
    ``lists/`` parked mid-compaction."""
    from gluestick_ts_spark.operators.similarity import (
        ann_ivf_store_topk,
        write_ivf_store,
    )

    rows = _unit_vectors(12, 4, seed=5)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.where(F.col("vec_id").isin([2, 7]))
    path = str(tmp_path / "ivf")
    write_ivf_store(corpus, path, n_centroids=3)

    def top(df):
        return sorted((r.query_id, r.neighbor_id, r.rank) for r in df.collect())

    want = top(ann_ivf_store_topk(queries, path, k=3, n_probe=3))
    assert len(want) == 6
    os.rename(path + "/lists", path + "/lists.pre-compact")
    assert top(ann_ivf_store_topk(queries, path, k=3, n_probe=3)) == want
    assert not os.path.exists(path + "/lists.pre-compact")
