"""Structured Streaming variants of the engine's incremental semantics.

The reference is batch-incremental only (snapshot upsert,
``etl-utils.ts:258-355``); these are the streaming-native equivalents
(SURVEY §2.2 Streaming row), built on public Structured Streaming APIs.
Three shapes:

- Streaming DataFrames the caller sinks: ``stream_dedup``
  (watermarked ``dropDuplicates``), ``stream_windowed_counts``,
  ``stream_sessionize`` (``applyInPandasWithState``),
  ``stream_session_window_counts``, ``stream_corpus_profile``,
  ``stream_expectations``, ``stream_drift``, and the stateless frozen-
  model projections ``stream_semantic_contamination`` and
  ``stream_dsir_filter`` (with ``frozen_logprob_expr``).
- foreachBatch writers that replay by construction:
  ``stream_snapshot_records`` and ``stream_scd2`` (the batch merge is
  idempotent) and ``stream_rollup`` (a replay overwrites its own delta
  directory).
- foreachBatch screens over a durable store, which follow the replay
  protocol below: ``stream_dedup_incremental``, ``stream_media_dedup``,
  ``stream_url_dedup``, ``stream_domain_caps``,
  ``stream_curation_filter`` and ``stream_semantic_dedup``.

Every writer is ``_each_batch``: empty micro-batches are skipped, the
rest run in update mode, checkpointed when ``checkpoint_dir`` is given.

THE REPLAY PROTOCOL (``_BatchStamper``). Each micro-batch gets a stamp
scoped to its query lineage. The store is read healed (a compaction
that died mid-swap is restored, never read as empty) and WITHOUT the
rows carrying this batch's stamp; the results are pinned
(``localCheckpoint``) so nothing recomputes against the mutated store;
``emit(df, batch_id)`` runs; then the stamped rows are appended once,
behind a ``<store_dir>/batches/<scope>-<batch>.done`` marker written
after the append. A crash anywhere in emit → append → marker →
checkpoint commit replays the batch against exactly the store the first
attempt saw, so the same rows are re-emitted (at-least-once emit — give
the sink an idempotent-by-batch_id write, the standard foreachBatch
contract) and the store neither loses nor double-counts them. A crash
between append and marker re-appends once: harmless for presence
stores and reclaimed by compaction; the additive domain-count store
collapses it on read.

Stores live on any Spark-readable filesystem (file:/, hdfs:/, s3a:/):
existence goes through the Hadoop FileSystem API, never ``os.path``.
foreachBatch serializes micro-batches and each parquet append commits
through the output committer, so the read-then-append cycle is safe
for ONE writer stream per store; fan unioned sources into one stream
instead of sharing a store.
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.snapshot import snapshot_records

__all__ = [
    "stream_snapshot_records",
    "stream_dedup",
    "stream_windowed_counts",
    "stream_sessionize",
    "stream_dedup_incremental",
    "stream_url_dedup",
    "stream_domain_caps",
    "stream_media_dedup",
    "stream_semantic_contamination",
    "stream_corpus_profile",
    "stream_curation_filter",
    "frozen_logprob_expr",
    "stream_rollup",
    "stream_semantic_dedup",
    "stream_scd2",
    "stream_session_window_counts",
    "stream_expectations",
    "stream_drift",
    "stream_dsir_filter",
]


def stream_snapshot_records(
    stream_df: DataFrame,
    stream: str,
    snapshot_dir: str,
    pk: str | list[str] = "id",
    checkpoint_dir: str | None = None,
    **snapshot_kwargs: Any,
) -> DataStreamWriter:
    """Continuously upsert a stream into the persisted snapshot.

    Each micro-batch runs the batch ``snapshot_records`` merge (union +
    window keep-last + atomic swap), so batch and streaming state are
    byte-identical for the same inputs. Caller starts the returned
    writer (``.start()``/``.trigger(availableNow=True)``).
    """
    return _each_batch(
        stream_df,
        lambda batch_df, _: snapshot_records(
            batch_df, stream, snapshot_dir, pk=pk, **snapshot_kwargs
        ),
        checkpoint_dir,
    )


def _each_batch(
    stream_df: DataFrame, process, checkpoint_dir: str | None
) -> DataStreamWriter:
    """The writer every foreachBatch stream here returns: ``process
    (batch_df, batch_id)`` runs on each non-empty micro-batch, in
    update mode, checkpointed to ``checkpoint_dir`` when one is given."""

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            process(batch_df, batch_id)

    writer = stream_df.writeStream.foreachBatch(_run).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def _stamped(df: DataFrame, stamp: int) -> DataFrame:
    """``df`` with a batch stamp (``_BatchStamper.stamp``) as its
    ``batch_id`` column — the shape every store append takes."""
    return df.withColumn("batch_id", F.lit(int(stamp)).cast("long"))


class _BatchStamper:
    """The store half of the replay protocol (module docstring): the
    batch stamp, the store read that excludes it, and the append that
    runs once per batch behind its ``.done`` marker.

    A raw foreachBatch ``batch_id`` is only unique within ONE query
    lineage — a later query with a fresh checkpoint restarts at 0, and
    treating its batch 0 as a replay of some earlier query's batch 0
    would both mis-exclude history and wrongly skip the append. The
    stable ``scope`` is the streaming query id Spark persists in the
    checkpoint's ``metadata`` file (identical across restarts from
    that checkpoint — exactly the lineage whose batches CAN replay);
    with no checkpoint there is no replay, so a fresh uuid per call
    just guarantees uniqueness. The scope is resolved lazily on the
    first batch — the checkpoint metadata exists once the query runs.
    """

    def __init__(self, checkpoint_dir: str | None):
        self._ckpt = checkpoint_dir
        self._scope: str | None = None

    def scope(self, spark) -> str:
        if self._scope is None:
            if self._ckpt:
                import json as _json

                from ..sources.fs import join_uri, read_text_file

                self._scope = str(
                    _json.loads(
                        read_text_file(spark, join_uri(self._ckpt, "metadata"))
                    )["id"]
                )
            else:
                import uuid

                self._scope = uuid.uuid4().hex
        return self._scope

    def stamp(self, spark, batch_id: int) -> int:
        """The signed-64 ``batch_id`` column value stored next to the
        rows this micro-batch appends."""
        import hashlib

        key = f"{self.scope(spark)}/{int(batch_id)}"
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

    def read(self, spark, path: str, batch_id: int) -> DataFrame | None:
        """The flat store at ``path`` as this micro-batch must see it,
        or None when there is no store. A missing path is healed first
        (``sources/fs.heal_dir``): a compaction that died mid-swap parks
        the rows in ``.pre-compact``, and "missing" read as "empty"
        would re-accept every key seen before. Rows carrying this
        batch's own stamp are excluded — on a replay they are this
        batch's earlier append, not history. A store written before
        the stamp column existed is read whole (it cannot tell a
        replay); the ``batch_id`` column is kept."""
        from ..operators.dedup import _exclude_batch_filter
        from ..sources.fs import hadoop_path_exists, heal_dir

        if not (hadoop_path_exists(spark, path) or heal_dir(spark, path)):
            return None
        store = spark.read.parquet(path)
        if "batch_id" in store.columns:
            store = _exclude_batch_filter(
                store, store.schema, self.stamp(spark, batch_id)
            )
        return store

    def commit(self, spark, store_dir: str, batch_id: int, append) -> None:
        """Run ``append(stamp)`` unless this micro-batch's append already
        committed, then write its marker. The marker is written AFTER
        the append, so a crash between the two re-appends on replay — a
        harmless duplicate (reclaimed at compaction, collapsed by the
        count store's ``(key, batch_id)`` read), never a lost or
        double-counted verdict."""
        from ..sources.fs import hadoop_path_exists, join_uri, write_text_file

        marker = join_uri(
            store_dir, "batches", f"{self.scope(spark)}-{int(batch_id)}.done"
        )
        if not hadoop_path_exists(spark, marker):
            append(self.stamp(spark, batch_id))
            write_text_file(spark, marker, "done")


def stream_dedup_incremental(
    stream_df: DataFrame,
    store_dir: str,
    emit,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    checkpoint_dir: str | None = None,
    bucketed: bool = False,
    num_buckets: int = 64,
    **minhash_kwargs: Any,
) -> DataStreamWriter:
    """Streaming fuzzy dedup against a durable signature store: each
    micro-batch is deduped with ``dedup_minhash_incremental`` (batch-
    internal exact-Jaccard + cross-store signature-estimate), the
    survivors are handed to ``emit(survivors_df, batch_id)``, and their
    signatures are appended to ``<store_dir>/signatures.parquet`` so
    later batches — and later restarts — never re-accept a duplicate.

    The store grows by exactly the accepted rows (~0.5 KB each at 64
    hashes); corpus text is never re-read. Caller starts the returned
    writer. Replay and store contracts: the module docstring.

    Round 15: BOTH layouts freeze the SIGNING RECIPE (shingle grain,
    seed, num_hashes, hash family, cjk routing — ``minhash_signing``)
    at first batch — the bucketed store in its ``store_meta.json``,
    the flat store in a ``flat_signing.json`` sidecar — and assert it
    every batch, so a stream restarted under a different recipe fails
    loudly instead of silently banding incomparable signatures.
    Stores seeded before round 15 carry no frozen recipe and cannot
    detect the drift.

    ``bucketed=True`` keeps the store in the band-hash-bucketed layout
    (``write_signature_store``): each micro-batch's candidate join then
    partition-prunes the store scan to the batch's own buckets — the
    100 TB configuration, where the store itself is large and a full
    re-shuffle per batch is the dominant cost. The flat
    ``signatures.parquet`` layout remains the default for small stores.
    """
    from ..operators.dedup import (
        append_signature_store,
        dedup_minhash_incremental,
        dedup_minhash_incremental_bucketed,
        minhash_signatures,
        minhash_signing,
        write_signature_store,
    )
    from ..sources.fs import (
        hadoop_path_exists,
        join_uri,
        read_text_file,
        write_text_file,
    )
    import json

    sig_path = join_uri(store_dir, "signatures.parquet")
    meta_path = join_uri(store_dir, "store_meta.json")
    stamper = _BatchStamper(checkpoint_dir)

    def _process_bucketed(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stamp = stamper.stamp(spark, batch_id)
        num_hashes = minhash_kwargs.get("num_hashes", 64)
        cjk = minhash_kwargs.get("cjk")
        cjk_shingle_n = minhash_kwargs.get("cjk_shingle_n", 5)
        signing = minhash_signing(
            num_hashes=num_hashes,
            shingle_n=minhash_kwargs.get("shingle_n", 3),
            seed=minhash_kwargs.get("seed", 42),
            hash_family="xxhash64",
            cjk_routed=cjk is not None,
            cjk_shingle_n=cjk_shingle_n,
        )
        if not hadoop_path_exists(spark, meta_path):
            # first batch: freeze the banding params, the SIGNING
            # RECIPE, and the batch_id provenance column into an empty
            # store — a restart under a different shingle grain then
            # fails loudly instead of banding incomparable signatures
            write_signature_store(
                minhash_signatures(
                    batch_df.limit(0), id_col, text_col, num_hashes
                ).withColumn("batch_id", F.lit(-1).cast("long")),
                store_dir,
                num_bands=minhash_kwargs.get("num_bands", 16),
                num_buckets=num_buckets,
                sig_len=num_hashes,
                signing=signing,
            )
        survivors, sigs = dedup_minhash_incremental_bucketed(
            batch_df,
            store_dir,
            id_col,
            text_col,
            num_hashes=num_hashes,
            shingle_n=minhash_kwargs.get("shingle_n", 3),
            threshold=threshold,
            seed=minhash_kwargs.get("seed", 42),
            exclude_batch_id=stamp,
            cjk=cjk,
            cjk_shingle_n=cjk_shingle_n,
        )
        survivors = survivors.localCheckpoint(eager=True)
        sigs = sigs.localCheckpoint(eager=True)
        emit(survivors, batch_id)
        stamper.commit(
            spark,
            store_dir,
            batch_id,
            lambda stamp: append_signature_store(
                _stamped(sigs, stamp),
                store_dir,
                signing=signing,
            ),
        )

    def _signing_from_kwargs():
        return minhash_signing(
            num_hashes=minhash_kwargs.get("num_hashes", 64),
            shingle_n=minhash_kwargs.get("shingle_n", 3),
            seed=minhash_kwargs.get("seed", 42),
            hash_family="xxhash64",
            cjk_routed=minhash_kwargs.get("cjk") is not None,
            cjk_shingle_n=minhash_kwargs.get("cjk_shingle_n", 5),
        )

    def _check_flat_signing(spark) -> dict:
        # the FLAT store's twin of the bucketed meta contract (round
        # 15): the signing recipe is frozen into a sidecar on the
        # first batch and asserted on every later one, so a stream
        # restarted under a different shingle grain/seed/routing fails
        # loudly instead of silently banding incomparable signatures.
        # Stores seeded before round 15 carry no sidecar and cannot
        # detect the drift (documented migration hazard).
        from ..operators.dedup import _check_signing

        signing = _signing_from_kwargs()
        flat_meta = join_uri(store_dir, "flat_signing.json")
        if hadoop_path_exists(spark, flat_meta):
            frozen = json.loads(read_text_file(spark, flat_meta))
            _check_signing(
                {"signing": frozen}, signing, "stream_dedup_incremental"
            )
        else:
            write_text_file(spark, flat_meta, json.dumps(signing))
        return signing

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = stamper.read(spark, sig_path, batch_id)
        _check_flat_signing(spark)
        if store is None:
            store = minhash_signatures(batch_df.limit(0), id_col, text_col)
        else:
            store = store.drop("batch_id")
        survivors, sigs = dedup_minhash_incremental(
            batch_df, store, id_col, text_col, threshold=threshold, **minhash_kwargs
        )
        survivors = survivors.localCheckpoint(eager=True)
        sigs = sigs.localCheckpoint(eager=True)
        emit(survivors, batch_id)
        stamper.commit(
            spark,
            store_dir,
            batch_id,
            lambda stamp: _stamped(sigs, stamp)
            .write.mode("append")
            .parquet(sig_path),
        )

    return _each_batch(
        stream_df, _process_bucketed if bucketed else _process, checkpoint_dir
    )


def stream_semantic_contamination(
    stream_df: DataFrame,
    bench: list[dict],
    vec_col: str = "embedding",
    threshold: float = 0.95,
    drop_contaminated: bool = False,
    prefix: str = "sem_",
) -> DataFrame:
    """Streaming twin of ``semantic_contamination``: every arriving
    embedding is argmax-scored against a FROZEN benchmark embedding
    list (an offline artifact embedded as one constant-folded literal
    — the ``stream_dsir_filter`` deployment pattern), appending
    ``<prefix>match_id / <prefix>max_cosine / <prefix>contaminated``.

    Pure STATELESS projection: no watermark, no state store, no
    foreachBatch, no shuffle — Structured Streaming's fastest path,
    and replay trivially re-emits identical rows. Eval sets are small
    by construction; the literal costs |bench| x dim doubles per plan,
    not per row. ``drop_contaminated=True`` filters leaks instead of
    annotating them. Returns the transformed streaming DataFrame — the
    caller picks the sink/trigger."""
    from ..operators.similarity import semantic_contamination_expr

    scored = stream_df.withColumn(
        "__sem", semantic_contamination_expr(F.col(vec_col), bench, threshold)
    )
    out = scored.select(
        "*",
        F.col("__sem.match_id").alias(f"{prefix}match_id"),
        F.col("__sem.max_cosine").alias(f"{prefix}max_cosine"),
        F.col("__sem.contaminated").alias(f"{prefix}contaminated"),
    ).drop("__sem")
    if drop_contaminated:
        # NULL verdicts (NULL/zero embeddings — cosine undefined) KEEP:
        # a row that can't be attributed must not silently vanish
        out = out.where(
            ~F.coalesce(F.col(f"{prefix}contaminated"), F.lit(False))
        )
    return out


def stream_media_dedup(
    stream_df: DataFrame,
    store_dir: str,
    emit,
    id_col: str = "doc_id",
    binary_col: str = "content",
    hash_col: str = "dhash",
    max_hamming: int = 6,
    checkpoint_dir: str | None = None,
    hash_kind: str = "dhash",
    hash_size: int = 8,
    vhash_sample: str | None = None,
    vhash_n_frames: int | None = None,
) -> DataStreamWriter:
    """Streaming perceptual media dedup against a durable hash store
    (``<store_dir>/hashes.parquet`` — ~16 bytes per accepted item,
    payloads never re-read): each micro-batch is hashed in-batch
    (``image_dhash`` — pass a pre-hashed stream by using an existing
    ``hash_col``), cluster-deduped within the batch, banded-screened
    against the store (``media_dedup_incremental``), survivors handed
    to ``emit(survivors_df, batch_id)``, and their hashes appended.

    Replay protocol: the module docstring. NULL-hash rows
    (non-media/undecodable) always pass through and are never stored.

    Round 16: the store freezes its SIGNING RECIPE (``media_signing``
    — hash kind, grid size, and for video the frame-sampling policy)
    into a ``media_signing.json`` sidecar on the first batch and
    asserts it every batch, closing the one durable store the
    round-15 frozen-recipe sweep missed: a stream resumed under a
    different vhash sampling mode ("even" vs "first" — 17-38 bits
    apart on the repo's own trim fixtures) or a different hash family
    would otherwise silently Hamming-compare incomparable 64-bit
    codes and accept every duplicate. Pre-hashed streams DECLARE their
    recipe through ``hash_kind``/``hash_size``/``vhash_*``; legacy
    stores (no sidecar) are treated as the dhash default, and a store
    legitimately built under another recipe is migrated with
    ``stamp_media_signing`` (attestation only — no re-hash).
    ``max_hamming`` is a QUERY KNOB, not part of code comparability:
    it is recorded in the sidecar for provenance and a drifted resume
    logs a warning (the acceptance radius changed — earlier batches
    admitted under the old radius stay admitted) but does not raise."""
    import json
    import logging

    from ..operators.imagehash import (
        MEDIA_SIGNING_SIDECAR,
        check_media_signing,
        image_dhash,
        media_dedup_incremental,
        media_signing,
    )
    from ..sources.fs import (
        hadoop_path_exists,
        join_uri,
        read_text_file,
        write_text_file,
    )

    declared = media_signing(hash_kind, hash_size, vhash_sample, vhash_n_frames)
    hash_path = join_uri(store_dir, "hashes.parquet")
    sidecar_path = join_uri(store_dir, MEDIA_SIGNING_SIDECAR)
    stamper = _BatchStamper(checkpoint_dir)

    def _check_store_signing(spark) -> None:
        if hadoop_path_exists(spark, sidecar_path):
            meta = json.loads(read_text_file(spark, sidecar_path))
            check_media_signing(
                meta.get("signing"), declared, "stream_media_dedup"
            )
            if meta.get("max_hamming") != max_hamming:
                logging.getLogger(__name__).warning(
                    "stream_media_dedup: max_hamming=%s differs from the "
                    "store's recorded %s — the acceptance radius changed; "
                    "items admitted under the old radius stay admitted "
                    "(query knob, not a comparability breach)",
                    max_hamming,
                    meta.get("max_hamming"),
                )
        elif hadoop_path_exists(spark, hash_path):
            # legacy store seeded before the sidecar existed: dhash
            # default is the only recipe the pre-sidecar code produced
            check_media_signing(None, declared, "stream_media_dedup")
        else:
            write_text_file(
                spark,
                sidecar_path,
                json.dumps({"signing": declared, "max_hamming": max_hamming}),
            )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the read heals a crashed compaction, so it MUST run before the
        # signing check: in that crash window a legacy store would
        # otherwise look like a FRESH one and a drifted recipe would
        # self-attest, bypassing the legacy guard
        store = stamper.read(spark, hash_path, batch_id)
        _check_store_signing(spark)
        if store is None:
            store = spark.createDataFrame([], "id long, hash long")
        else:
            store = store.drop("batch_id")
        if hash_col in batch_df.columns:
            hashed = batch_df
        else:
            if hash_kind not in ("dhash", "ahash"):
                raise ValueError(
                    f"stream_media_dedup: the in-batch hasher computes "
                    f"dhash/ahash only; a {hash_kind!r} stream must arrive "
                    f"pre-hashed (carry {hash_col!r})"
                )
            hashed = image_dhash(
                batch_df, binary_col, hash_col, hash_size=hash_size,
                kind=hash_kind,
            )
        survivors, keys = media_dedup_incremental(
            hashed, store, id_col, hash_col, max_hamming
        )
        survivors = survivors.localCheckpoint(eager=True)
        keys = keys.localCheckpoint(eager=True)
        emit(survivors, batch_id)
        stamper.commit(
            spark,
            store_dir,
            batch_id,
            lambda stamp: _stamped(keys, stamp)
            .write.mode("append")
            .parquet(hash_path),
        )

    return _each_batch(stream_df, _process, checkpoint_dir)


def stream_url_dedup(
    stream_df: DataFrame,
    store_dir: str,
    emit,
    url_col: str = "url",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
) -> DataStreamWriter:
    """Streaming re-crawl prune (the weburl family's streaming twin):
    each micro-batch is keep-first-deduped by normalized URL within the
    batch, anti-joined against the durable normalized-URL store
    (``<store_dir>/urls.parquet``), the survivors are handed to
    ``emit(survivors_df, batch_id)``, and their keys append so later
    batches — and later restarts — never re-accept a re-crawl.

    Replay protocol: the module docstring. Keys are ~a URL each — the
    store stays tiny relative to page payloads, which never enter the
    join at all.
    """
    from ..operators.weburl import url_dedup_incremental
    from ..sources.fs import join_uri

    url_path = join_uri(store_dir, "urls.parquet")
    stamper = _BatchStamper(checkpoint_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = stamper.read(spark, url_path, batch_id)
        if store is None:
            store = spark.createDataFrame([], "url_norm string")
        else:
            store = store.drop("batch_id")
        survivors, keys = url_dedup_incremental(
            batch_df, store, url_col, id_col
        )
        survivors = survivors.localCheckpoint(eager=True)
        keys = keys.localCheckpoint(eager=True)
        emit(survivors, batch_id)
        stamper.commit(
            spark,
            store_dir,
            batch_id,
            lambda stamp: _stamped(keys, stamp)
            .write.mode("append")
            .parquet(url_path),
        )

    return _each_batch(stream_df, _process, checkpoint_dir)


def stream_domain_caps(
    stream_df: DataFrame,
    store_dir: str,
    emit,
    url_col: str = "url",
    id_col: str = "doc_id",
    cap: int = 1000,
    seed: int | str = 1,
    checkpoint_dir: str | None = None,
) -> DataStreamWriter:
    """Streaming per-domain politeness caps — ``domain_cap_flag``'s
    continuous-crawl twin: the budget is enforced ACROSS micro-batches
    through a durable per-domain ACCEPTED-count store
    (``<store_dir>/domains.parquet``, the rollup-delta pattern:
    additive ``(domain, cnt, batch_id)`` rows, one row per domain per
    batch). Each batch ranks its rows per eTLD+1 domain in seeded
    deterministic md5 order, keeps a row iff ``stored_count +
    in-batch rank <= cap``, hands survivors to ``emit(survivors_df,
    batch_id)``, and appends the survivors' per-domain counts.

    Replay protocol: the module docstring, with ONE deliberate
    difference from the presence stores: counts are ADDITIVE, so a
    crash-window duplicate append must not double-count — the store
    read dedups by ``(domain, batch_id)`` BEFORE summing (a replayed
    append writes byte-identical rows, which collapse). Maintenance: ``compact_count_store`` — NOT
    ``compact_flat_store``, whose presence-dedup would corrupt sums.

    NULL-domain rows (no URL) and ''-domain rows (malformed/non-URL
    strings — ``registered_domain_expr`` returns '' for them) always
    pass and are never stored — the cap is a per-registrant budget,
    not a bucket for the unknown. One
    short-key window per batch + one domain-keyed store aggregate;
    document text never enters either. 100 TB/day shape: the store
    grows one row per ACTIVE domain per batch and compacts to one row
    per domain — never corpus-sized."""
    from ..functions.sampling import epoch_shuffle_expr
    from ..operators.weburl import with_registered_domain
    from ..sources.fs import join_uri

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    dom_path = join_uri(store_dir, "domains.parquet")
    stamper = _BatchStamper(checkpoint_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = stamper.read(spark, dom_path, batch_id)
        if store is None:
            counts = spark.createDataFrame([], "domain string, __prior long")
        else:
            counts = (
                store.dropDuplicates(["domain", "batch_id"])
                .groupBy("domain")
                .agg(F.sum("cnt").alias("__prior"))
            )
        keyed = with_registered_domain(batch_df, url_col, "__dom")
        order_key = epoch_shuffle_expr(id_col, seed)
        w = Window.partitionBy("__dom").orderBy(order_key.asc())
        ranked = keyed.withColumn("__rank", F.row_number().over(w)).join(
            counts.withColumnRenamed("domain", "__dom"), on="__dom", how="left"
        )
        survivors = ranked.where(
            F.col("__dom").isNull()
            | (F.col("__dom") == "")
            | (F.col("__rank") + F.coalesce(F.col("__prior"), F.lit(0)) <= cap)
        )
        survivors = survivors.localCheckpoint(eager=True)
        deltas = (
            survivors.where(F.col("__dom").isNotNull() & (F.col("__dom") != ""))
            .groupBy(F.col("__dom").alias("domain"))
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        emit(survivors.drop("__dom", "__rank", "__prior"), batch_id)
        stamper.commit(
            spark,
            store_dir,
            batch_id,
            lambda stamp: _stamped(deltas, stamp)
            .write.mode("append")
            .parquet(dom_path),
        )

    return _each_batch(stream_df, _process, checkpoint_dir)


def stream_dedup(
    stream_df: DataFrame,
    keys: list[str],
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state: rows whose event time
    is older than the watermark are no longer tracked (late duplicates
    beyond it pass through — the documented tradeoff that keeps state
    finite at 100 TB/day)."""
    return stream_df.withWatermark(event_time_col, watermark).dropDuplicates(
        keys + [event_time_col]
    )


def stream_windowed_counts(
    stream_df: DataFrame,
    event_time_col: str,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts with late-data handling via watermark."""
    groups = [F.window(F.col(event_time_col), window_duration)] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        stream_df.withWatermark(event_time_col, watermark)
        .groupBy(*groups)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(c) for c in (group_cols or [])],
            "cnt",
        )
    )


def stream_sessionize(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Custom stateful streaming operator: session aggregation with an
    inactivity gap, built on ``applyInPandasWithState``.

    Emits one row per CLOSED session ``(user, session_start,
    session_end, n_events)``. A session closes when a later event for
    the same user arrives more than ``gap_seconds`` after the session's
    last event, or when the event-time watermark passes the session's
    timeout (state times out -> trailing session flushes). State per
    user is three longs — bounded regardless of stream volume; the
    shuffle key is the user, so session state never crosses executors.

    This is the streaming-native analogue of the batch
    ``sessionize_events`` query (lag + running-sum session ids).
    """
    import pandas as pd  # local import: only the executor needs it

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("session_start", T.TimestampType(), True),
            T.StructField("session_end", T.TimestampType(), True),
            T.StructField("n_events", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType(), True),
            T.StructField("end_us", T.LongType(), True),
            T.StructField("cnt", T.LongType(), True),
        ]
    )
    gap_us = gap_seconds * 1_000_000

    def _emit(key, sessions):
        return pd.DataFrame(
            {
                "user_id": [key] * len(sessions),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                "n_events": [c for _, _, c in sessions],
            }
        )

    def _fn(key, pdf_iter, state):
        user = key[0]
        if state.hasTimedOut:
            s, e, c = state.get
            state.remove()
            yield _emit(user, [(s, e, c)])
            return
        if state.exists:
            s, e, c = state.get
        else:
            s = e = None
            c = 0
        times: list[int] = []
        for pdf in pdf_iter:
            col = pd.to_datetime(pdf[ts_col])
            times.extend(int(v.value) // 1000 for v in col)  # ns -> us
        times.sort()
        closed = []
        for t in times:
            if s is None:
                s = e = t
                c = 1
            elif t - e > gap_us:
                closed.append((s, e, c))
                s = e = t
                c = 1
            else:
                e = t
                c += 1
        if s is not None:
            state.update((s, e, c))
            # event-time timeout: fires once the watermark passes
            # session_end + gap (ms epoch).
            state.setTimeoutTimestamp(e // 1000 + gap_seconds * 1000)
        if closed:
            yield _emit(user, closed)

    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            _fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def stream_corpus_profile(
    stream_df: DataFrame,
    event_time_col: str,
    text_col: str = "text",
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming data-quality monitor: the ``corpus_profile``
    dataset-card aggregate per event-time window (and optional slice
    columns) — volumes, mean quality score, Gopher pass rate, and an
    APPROXIMATE exact-dup rate — so an ingest pipeline watches its
    quality drift live instead of re-profiling batches after the fact.

    Same one-pass shape as the batch profile (map-only quality/
    fingerprint projection + one windowed aggregation, watermark-
    bounded state). The only semantic delta vs batch: distinct
    fingerprints use ``approx_count_distinct`` (exact COUNT DISTINCT
    is unsupported in streaming aggregations), so ``exact_dup_rate``
    carries HLL error (~2%) — documented, and acceptable for a
    monitoring signal.
    """
    from ..functions.text import (
        fingerprint_expr,
        gopher_quality_flags,
        quality_score_expr,
        word_count_expr,
    )

    pre = stream_df.withWatermark(event_time_col, watermark).select(
        F.col(event_time_col),
        *[F.col(c) for c in (group_cols or [])],
        word_count_expr(text_col).cast("long").alias("__tok"),
        quality_score_expr(text_col).alias("__q"),
        gopher_quality_flags(text_col).getField("passes").cast("int").alias("__gp"),
        fingerprint_expr(text_col).alias("__fp"),
    )
    groups = [F.window(F.col(event_time_col), window_duration)] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        pre.groupBy(*groups)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__tok").alias("n_tokens"),
            F.round(F.avg("__q"), 4).alias("quality_mean"),
            F.round(F.avg("__gp"), 4).alias("gopher_pass_rate"),
            F.round(
                1.0
                - F.approx_count_distinct("__fp").cast("double") / F.count("*"),
                4,
            ).alias("approx_dup_rate"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(c) for c in (group_cols or [])],
            "n_docs",
            "n_tokens",
            "quality_mean",
            "gopher_pass_rate",
            "approx_dup_rate",
        )
    )


def frozen_logprob_expr(
    text_col: str, model: dict[str, float], floor: float
):
    """Mean token log-probability under a FROZEN unigram model — the
    streaming complement to ``unigram_logprob_scores`` (whose model IS
    the corpus and therefore can't be computed inside a micro-batch).
    Train offline (token -> ln(count/N)), freeze, and apply map-only:
    the model enters the plan as one ``from_json`` map literal that
    Catalyst constant-folds, OOV tokens take the ``floor``. Bounded
    model sizes only (a 100k-token vocab is a few MB of literal; ship
    larger models as a broadcast-joined table instead)."""
    import json as _json

    model_lit = F.from_json(
        F.lit(_json.dumps({k: float(v) for k, v in model.items()})),
        "map<string,double>",
    )
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    lps = F.transform(
        toks, lambda t: F.coalesce(F.element_at(model_lit, t), F.lit(float(floor)))
    )
    total = F.aggregate(lps, F.lit(0.0), lambda acc, x: acc + x)
    return total / F.greatest(F.size(toks), F.lit(1)).cast("double")


def stream_curation_filter(
    stream_df: DataFrame,
    store_dir: str,
    emit,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.5,
    logprob_model: dict[str, float] | None = None,
    logprob_floor: float = -20.0,
    logprob_min: float | None = None,
    checkpoint_dir: str | None = None,
    num_buckets: int = 256,
    license_screen: bool = False,
    url_col: str | None = None,
    blocklist=(),
    robots=(),
    clf_model: dict | None = None,
    clf_min_prob: float = 0.5,
    cjk_route: bool = True,
    blocked_terms: tuple[str, ...] = (),
    blocked_terms_max_frac: float = 0.0,
    domain_ranks=None,
) -> DataStreamWriter:
    """Streaming curation: every micro-batch gets the per-document
    verdict a batch pipeline computes (``curation_pipeline_docs``
    shape) — Gopher rules, heuristic quality, optional FROZEN
    unigram-LM logprob — plus exact dedup both within the batch
    (keep-first) and against a durable cross-batch fingerprint store.
    ``emit(verdict_df, batch_id)`` receives EVERY row with ``keep``
    and first-failing ``drop_reason`` ('duplicate' | 'license' (when
    ``license_screen=True``) | 'gopher' | 'quality' | 'logprob' |
    NULL), so the drop-rate monitor and the survivor sink read one
    frame; fingerprints of kept rows are then appended to the store.

    ``license_screen=True`` (round 11) adds the batch pipeline's
    license/copyright stage at the same priority (after 'duplicate',
    before 'gopher'): the output gains ``has_copyright`` /
    ``rights_reserved`` / ``license_name`` / ``license_ok`` columns
    and a 'license' drop reason (drop rights-reserved marks and
    copyright notices with no recognized license family). Map-only
    in-row regex — no new state, no new shuffle.

    ``url_col`` + ``blocklist`` (round 11) add the batch pipeline's
    URL-BLOCKLIST screen at the same TOP priority it has there
    (operators/weburl.py domain_blocklist_flag — eTLD+1-grain, tuple
    -> in-row NOT-isin, DataFrame -> per-batch broadcast join): the
    output gains ``blocklist_ok`` and a 'blocked' first-failing drop
    reason. Stateless — no new state, replay re-derives identical
    verdicts. ``robots`` (a (host, robots_text) list or DataFrame,
    with ``url_col``) likewise adds the ROBOTS-COMPLIANCE screen
    (operators/weburl.py robots_filter) right behind it — the batch
    pipeline's priority — as ``robots_ok`` + a 'robots' drop reason;
    local lists compile to the in-row when-chain, equally stateless.

    ``clf_model`` (round 12) adds the TRAINED quality classifier
    (operators/classifier.py — pass ``train_logreg_hashed``'s return
    dict) as a FROZEN-model stage, the standard deployment shape:
    train offline on a batch sample, apply per micro-batch. Output
    gains ``clf_score`` (micro-unit LONG), ``clf_prob``, and
    ``clf_ok`` (``clf_prob >= clf_min_prob``), with a 'classifier'
    first-failing drop reason between 'quality' and 'logprob' (it
    REFINES the heuristic quality family). Pure in-row integer
    arithmetic — stateless, no new shuffle, replay-identical.

    ``blocked_terms`` (round 13) adds the C4-style bad-words CONTENT
    screen (``functions/text.py blocked_terms_flags_expr`` — the list
    is caller policy, e.g. the public LDNOOBW lists): output gains
    ``terms_ok`` plus ``term_hit_frac``, with a 'blocked_terms'
    first-failing drop reason right after the dup stage (content
    policy outranks quality heuristics, matching where real pipelines
    put it). Map-only, stateless, replay-identical.

    ``cjk_route=True`` (round 13) gives the streaming gopher stage the
    batch pipeline's script-aware CJK routing: each document's
    language is identified in-row (``lang_id_expr`` — emitted as a
    ``lang`` column for drop-rate monitoring), and CJK-routed rows
    score the CHAR-GRAIN Gopher rules (``gopher_cjk_toks_sql`` tokens
    + routed mean-length/alpha/stop-char rules) instead of the word
    rules that structurally fail on unsegmented prose. Map-only and
    stateless like the rest of the stage — replay-identical, and the
    verdict equals the batch routed-gopher verdict for the same text
    (pinned in tests). Default ON since round 14, matching the batch
    pipeline's now-routed gopher stage (stream and batch must agree
    by default); a stream checkpointed under the round-13 default
    should pass ``cjk_route=False`` explicitly to keep byte-identical
    verdicts across the upgrade (the flag only changes verdicts for
    CJK-script documents, and adds the ``lang`` monitoring column).
    Round 15: the flag is FROZEN into the store's meta at seeding
    (``curation_cjk_route``) and asserted every batch, so a resumed
    stream whose flag drifted from the store's raises instead of
    silently changing verdicts; stores seeded before round 15 carry
    no frozen flag and cannot detect the mismatch.

    ``domain_ranks`` (round 15, requires ``url_col``) adds the batch
    pipeline's domain-authority ANNOTATE stage: a FROZEN offline rank
    artifact — a ``[(domain, rank), ...]`` list or a (node, rank)
    DataFrame, e.g. ``operators/linkgraph.py pagerank`` output or
    Common Crawl's published domain ranks — broadcast-joins onto each
    document through its URL's eTLD+1 (``attach_domain_rank``), adding
    a ``domain_rank`` column (unranked domains 0.0). Annotate-only,
    like the batch stage: verdicts are unchanged; the prior feeds
    downstream sampling weights / classifier features. Stateless and
    map-side — replay-identical, no new shuffle, the standard
    frozen-model deployment shape (the clf_model/stream_dsir pattern).
    Round 16: the snapshot's IDENTITY (row count + order-independent
    xxhash64 checksum on the 1e-9 rank grid) is stamped into the
    store meta at seeding (``domain_rank_sig``); a resume under a
    different snapshot logs a warning — annotate-only, so a swapped
    rank artifact (next month's crawl) proceeds, but the break in
    annotation comparability is visible instead of silent.

    The store is the BUCKETED fingerprint layout
    (``write_fingerprint_store``: parquet partitioned by
    ``pmod(xxhash64(fp), num_buckets)``), and the dedup stage is a
    membership probe (``fingerprint_store_membership``): the store
    scan is partition-pruned to the batch's own buckets and the BATCH
    side is broadcast into a semi-join — the store itself is never
    broadcast and never shuffled, so per-batch cost stays ∝ batch +
    matching buckets even when the store holds billions of accepted
    fingerprints. Run ``compact_fingerprint_store`` periodically to
    fold per-append part files.

    Replay protocol: the module docstring (the membership probe is
    the stamp-excluding store read).
    """
    from ..functions.text import (
        fingerprint_expr,
        gopher_quality_flags,
        license_flags_expr,
        quality_score_expr,
    )
    from ..operators.dedup import (
        append_fingerprint_store,
        fingerprint_store_membership,
        read_signature_store_meta,
        write_fingerprint_store,
    )
    from ..sources.fs import hadoop_path_exists, join_uri

    meta_path = join_uri(store_dir, "store_meta.json")
    stamper = _BatchStamper(checkpoint_dir)
    if domain_ranks is not None and not url_col:
        raise ValueError(
            "stream_curation_filter: domain_ranks requires url_col — the "
            "rank joins through the document URL's eTLD+1"
        )

    def _rank_sig(spark) -> dict | None:
        # round 16 (VERDICT #7): the rank snapshot's identity — row
        # count + order-independent bit_xor of xxhash64(node, micro-
        # rank on the 1e-9 integer grid the pagerank oracle uses).
        # One tiny aggregation at stream construction (the rank table
        # is broadcast-sized by contract); no driver-side collect of
        # the rows themselves.
        if domain_ranks is None:
            return None
        ranks_df = (
            domain_ranks
            if isinstance(domain_ranks, DataFrame)
            else spark.createDataFrame(
                list(domain_ranks), "node string, rank double"
            )
        )
        row = (
            ranks_df.select(
                F.xxhash64(
                    F.col("node"),
                    F.round(F.col("rank") * F.lit(1e9)).cast("long"),
                ).alias("h")
            )
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(h)").alias("x"),
            )
            .collect()[0]
        )
        return {"rows": int(row.n), "checksum": int(row.x or 0)}

    rank_sig_box: list = []  # computed lazily on the first batch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stamp = stamper.stamp(spark, batch_id)
        if not rank_sig_box:
            rank_sig_box.append(_rank_sig(spark))
        if not hadoop_path_exists(spark, meta_path):
            legacy = join_uri(store_dir, "fingerprints.parquet")
            if hadoop_path_exists(spark, legacy):
                # pre-bucketed-layout store: silently seeding a fresh
                # empty store would re-admit every previously accepted
                # document as a non-duplicate
                raise ValueError(
                    f"{store_dir} holds a legacy flat fingerprint store "
                    "(fingerprints.parquet, no store_meta.json); migrate "
                    "it first: write_fingerprint_store(spark.read.parquet"
                    "(legacy).select('fp', F.lit(-1).alias('batch_id')), "
                    "store_dir)"
                )
            # first batch: freeze the bucket count, the batch_id
            # provenance column, and the stream's ROUTING CONFIG into
            # an empty store — a resume under a different cjk_route
            # then fails loudly instead of silently changing verdicts
            # (the round-14 default flip's upgrade hazard)
            write_fingerprint_store(
                spark.createDataFrame([], "fp string, batch_id long"),
                store_dir,
                num_buckets=num_buckets,
                extra_meta={
                    "curation_cjk_route": bool(cjk_route),
                    # round 16: rank-snapshot PROVENANCE (row count +
                    # checksum). Unlike cjk_route this is annotate-only
                    # (verdicts never depend on it), so drift WARNS
                    # instead of raising — swapping in next month's
                    # crawl ranks is legitimate ops, but it should be
                    # visible, not silent.
                    "domain_rank_sig": rank_sig_box[0],
                },
            )
        meta_now = read_signature_store_meta(spark, store_dir)
        if "domain_rank_sig" in meta_now:
            frozen_sig = meta_now["domain_rank_sig"]
            if frozen_sig != rank_sig_box[0]:
                logging.getLogger(__name__).warning(
                    "stream_curation_filter: the domain_ranks snapshot "
                    "differs from the one this store was seeded with "
                    "(seed %s vs current %s) — domain_rank annotations "
                    "are no longer comparable across the stream's "
                    "history. Annotate-only, so proceeding.",
                    frozen_sig,
                    rank_sig_box[0],
                )
        frozen_route = meta_now.get("curation_cjk_route")
        if frozen_route is not None and bool(frozen_route) != bool(cjk_route):
            # legacy stores (seeded before round 15) carry no key and
            # cannot detect a mismatch — documented migration hazard
            raise ValueError(
                "stream_curation_filter: this store was seeded with "
                f"cjk_route={bool(frozen_route)} but the stream resumed "
                f"with cjk_route={bool(cjk_route)} — the flag changes "
                "verdicts for CJK documents, so a silent flip would "
                "corrupt the stream's keep/drop continuity. Pass the "
                "frozen value (or seed a new store) instead."
            )
        lp_ok: object
        if logprob_model is not None and logprob_min is not None:
            lp_ok = (
                frozen_logprob_expr(text_col, logprob_model, logprob_floor)
                >= F.lit(float(logprob_min))
            )
        else:
            lp_ok = F.lit(True)
        lic_cols = []
        if license_screen:
            _lic = license_flags_expr(text_col)
            lic_cols = [
                _lic.getField(f).alias(f)
                for f in (
                    "has_copyright",
                    "rights_reserved",
                    "license_name",
                    "license_ok",
                )
            ]
        clf_cols = []
        if clf_model is not None:
            from ..operators.classifier import (
                DEFAULT_LEN_FLAGS,
                logreg_score_micro_expr,
            )

            clf_cols = [
                logreg_score_micro_expr(
                    text_col,
                    clf_model["weights_micro"],
                    clf_model["bias_micro"],
                    dim=clf_model.get("dim", 64),
                    len_flags=tuple(
                        clf_model.get("len_flags", DEFAULT_LEN_FLAGS)
                    ),
                ).alias("clf_score")
            ]
        if cjk_route:
            from ..functions.text import (
                CJK_LANGS,
                gopher_cjk_toks_sql,
                gopher_rules_sql,
                lang_id_expr,
            )

            cjk_sql = (
                "`__lang` IN ("
                + ", ".join(f"'{l}'" for l in CJK_LANGS)
                + ")"
            )
            rt_sql = (
                f"CASE WHEN {cjk_sql} THEN {gopher_cjk_toks_sql(text_col)} "
                f"ELSE split(lower(trim(`{text_col}`)), '\\\\s+') END"
            )
            # lang and the routed token array staged ONCE in lower
            # selects (the SPARK-36718 pattern the batch query uses)
            staged = batch_df.select(
                "*", lang_id_expr(text_col).alias("__lang")
            ).select("*", F.expr(rt_sql).alias("__rt"))
            gopher_ok = F.expr(
                " AND ".join(
                    gopher_rules_sql(
                        text_col, toks_sql="__rt", cjk_sql=cjk_sql
                    ).values()
                )
            )
            lang_cols = [F.col("__lang").alias("lang")]
        else:
            staged = batch_df
            gopher_ok = gopher_quality_flags(text_col).getField("passes")
            lang_cols = []
        bt_cols = []
        if blocked_terms:
            from ..functions.text import blocked_terms_flags_expr

            _bt = blocked_terms_flags_expr(
                text_col, tuple(blocked_terms), blocked_terms_max_frac
            )
            bt_cols = [
                (~_bt.getField("blocked")).alias("terms_ok"),
                _bt.getField("hit_frac").alias("term_hit_frac"),
            ]
        # quality routes with the gopher stage (round 14): the staged
        # __lang exists exactly when cjk_route is on, and the batch
        # pipeline's quality stage routes by the same predicate
        q_expr = (
            quality_score_expr(
                text_col,
                cjk=F.col("__lang").isin(*CJK_LANGS) if cjk_route else None,
            )
            if cjk_route
            else quality_score_expr(text_col)
        )
        enriched = staged.select(
            F.col(id_col),
            F.col(text_col),
            *([F.col(url_col)] if url_col else []),
            *lang_cols,
            fingerprint_expr(text_col).alias("__fp"),
            gopher_ok.alias("gopher_ok"),
            (q_expr >= float(quality_min)).alias("quality_ok"),
            lp_ok.alias("lp_ok"),
            *lic_cols,
            *clf_cols,
            *bt_cols,
        )
        if clf_model is not None:
            from ..operators.classifier import logreg_prob_expr

            # the GATE uses the UNROUNDED sigmoid: comparing the
            # 6-dp-rounded display column would let score -1/-2 (prob
            # 0.4999995+ -> rounds to 0.500000) pass at the default
            # threshold, disagreeing with the batch decision boundary
            # clf_score >= 0 for the same frozen model
            raw_prob = F.lit(1.0) / (
                F.lit(1.0)
                + F.exp(-(F.col("clf_score").cast("double") / F.lit(1e6)))
            )
            enriched = enriched.withColumn(
                "clf_prob", logreg_prob_expr(F.col("clf_score"))
            ).withColumn(
                "clf_ok", raw_prob >= F.lit(float(clf_min_prob))
            )
        if url_col:
            from ..operators.weburl import domain_blocklist_flag, robots_filter

            enriched = domain_blocklist_flag(enriched, url_col, blocklist)
            if robots is not None and (
                not isinstance(robots, (list, tuple)) or len(robots)
            ):
                enriched = robots_filter(enriched, robots, url_col)
            else:
                enriched = enriched.withColumn("robots_ok", F.lit(True))
            if domain_ranks is not None:
                from ..operators.linkgraph import attach_domain_rank

                ranks_df = (
                    domain_ranks
                    if isinstance(domain_ranks, DataFrame)
                    else spark.createDataFrame(
                        list(domain_ranks), "node string, rank double"
                    )
                )
                enriched = attach_domain_rank(enriched, ranks_df, url_col)
        w = Window.partitionBy("__fp").orderBy(F.col(id_col))
        first_in_batch = F.row_number().over(w) == 1
        # membership probe: batch-side broadcast semi-join against the
        # bucket-pruned store — bounded by the batch, not the store
        hits = fingerprint_store_membership(
            enriched.select(F.col("__fp").alias("fp")),
            store_dir,
            exclude_batch_id=stamp,
        ).select(F.col("fp").alias("__fp"), F.lit(True).alias("__in_store"))
        verdict = (
            enriched.withColumn("__first", first_in_batch)
            .join(F.broadcast(hits), on="__fp", how="left")
            .withColumn(
                "dup_ok",
                F.col("__first") & F.col("__in_store").isNull(),
            )
        )
        lic_gate = F.col("license_ok") if license_screen else F.lit(True)
        bl_gate = F.col("blocklist_ok") if url_col else F.lit(True)
        rb_gate = F.col("robots_ok") if url_col else F.lit(True)
        clf_gate = F.col("clf_ok") if clf_model is not None else F.lit(True)
        bt_gate = F.col("terms_ok") if blocked_terms else F.lit(True)
        keep = (
            bl_gate
            & rb_gate
            & F.col("dup_ok")
            & bt_gate
            & lic_gate
            & F.col("gopher_ok")
            & F.col("quality_ok")
            & clf_gate
            & F.col("lp_ok")
        )
        # blocklist then robots outrank everything — batch priority
        if url_col:
            reason = (
                F.when(~F.col("blocklist_ok"), "blocked")
                .when(~F.col("robots_ok"), "robots")
                .when(~F.col("dup_ok"), "duplicate")
            )
        else:
            reason = F.when(~F.col("dup_ok"), "duplicate")
        if blocked_terms:
            # content policy outranks the quality heuristics
            reason = reason.when(~F.col("terms_ok"), "blocked_terms")
        if license_screen:
            reason = reason.when(~F.col("license_ok"), "license")
        reason = reason.when(~F.col("gopher_ok"), "gopher").when(
            ~F.col("quality_ok"), "quality"
        )
        if clf_model is not None:
            # the trained model refines the heuristic quality family:
            # its verdict slots right behind 'quality'
            reason = reason.when(~F.col("clf_ok"), "classifier")
        reason = reason.when(~F.col("lp_ok"), "logprob")
        out = verdict.select(
            id_col,
            text_col,
            *([url_col, "blocklist_ok", "robots_ok"] if url_col else []),
            *(["lang"] if cjk_route else []),
            *(["terms_ok", "term_hit_frac"] if blocked_terms else []),
            "dup_ok",
            *(
                ["has_copyright", "rights_reserved", "license_name", "license_ok"]
                if license_screen
                else []
            ),
            "gopher_ok",
            "quality_ok",
            *(
                ["clf_score", "clf_prob", "clf_ok"]
                if clf_model is not None
                else []
            ),
            "lp_ok",
            *(["domain_rank"] if domain_ranks is not None else []),
            keep.alias("keep"),
            reason.alias("drop_reason"),
            F.col("__fp"),
        ).localCheckpoint(eager=True)
        emit(out.drop("__fp"), batch_id)
        stamper.commit(
            spark,
            store_dir,
            batch_id,
            lambda stamp: append_fingerprint_store(
                _stamped(
                    out.where(F.col("keep")).select(F.col("__fp").alias("fp")),
                    stamp,
                ),
                store_dir,
            ),
        )

    return _each_batch(stream_df, _process, checkpoint_dir)


def stream_rollup(
    stream_df: DataFrame,
    path: str,
    ts_col: str,
    keys: list[str],
    value_cols: list[str],
    bucket: str = "1 hour",
    checkpoint_dir: str | None = None,
    compact_every: int | None = 32,
    distinct_cols: list[str] | None = None,
    quantile_cols: list[str] | None = None,
    intersect_cols: list[str] | None = None,
) -> DataStreamWriter:
    """Continuously-maintained materialized rollup over the
    DELTA-SNAPSHOT store (``write_rollup_delta``/``compact_rollup``):
    every micro-batch writes its partial aggregate to its OWN
    (query-scope, batch) delta directory — cost ∝ batch — and readers
    (``read_rollup``) see base snapshot + unfolded deltas
    re-aggregated, means derived from exact DECIMAL sums at any point.

    REPLAY SAFETY is structural here, not a caveat: a crash-replayed
    micro-batch OVERWRITES the same delta directory instead of
    re-adding into shared state (idempotent by path — additive stores
    can't use the exclusion protocol the dedup stores use, because a
    replay must replace its contribution, not hide it). Every
    ``compact_every`` batches the deltas fold into a new immutable
    base snapshot behind an atomic pointer write, bounding the
    read-side merge fan-in. foreachBatch serializes writes, so one
    stream owns a store (single-writer contract); caller starts the
    returned writer.
    """
    from ..operators.rollup import compact_rollup, write_rollup_delta

    stamper = _BatchStamper(checkpoint_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        write_rollup_delta(
            batch_df,
            path,
            ts_col,
            keys,
            value_cols,
            scope=stamper.scope(spark),
            batch_no=batch_id,
            bucket=bucket,
            distinct_cols=distinct_cols,
            quantile_cols=quantile_cols,
            intersect_cols=intersect_cols,
        )
        if compact_every and batch_id % compact_every == compact_every - 1:
            compact_rollup(spark, path)

    return _each_batch(stream_df, _process, checkpoint_dir)


def stream_semantic_dedup(
    stream_df: DataFrame,
    store_dir: str,
    emit,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_clusters: int = 16,
    checkpoint_dir: str | None = None,
) -> DataStreamWriter:
    """Streaming SemDeDup against the durable cluster store: each
    micro-batch is assigned with the store's frozen quantizer, deduped
    against ONLY its own clusters' store partitions
    (``semantic_dedup_incremental``) plus within-batch, the TOTAL
    verdict (keep + strongest-dup cosine) is handed to
    ``emit(verdict_df, batch_id)``, and the kept vectors are appended
    to the store so later batches — and restarts — never re-accept a
    semantic duplicate. The first batch seeds the store and freezes
    its own first-``n_clusters`` vectors as the quantizer.

    Replay and store contracts: the module docstring.
    """
    from ..operators.similarity import (
        append_semantic_store,
        semantic_dedup_incremental,
        write_semantic_store,
    )
    from ..sources.fs import hadoop_path_exists, join_uri

    meta_path = join_uri(store_dir, "store_meta.json")
    stamper = _BatchStamper(checkpoint_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stamp = stamper.stamp(spark, batch_id)
        if not hadoop_path_exists(spark, meta_path):
            # seed: freeze the quantizer on an EMPTY store, then run the
            # batch through the normal incremental path so within-batch
            # duplicates are still caught on the very first batch
            write_semantic_store(
                batch_df.limit(0),
                store_dir,
                id_col,
                vec_col,
                centroids=[
                    {"cid": int(r["cid"]), "cent": [float(x) for x in r["cent"]]}
                    for r in batch_df.orderBy(F.col(id_col))
                    .limit(n_clusters)
                    .select(
                        F.col(id_col).alias("cid"), F.col(vec_col).alias("cent")
                    )
                    .collect()
                ],
                with_batch_col=True,
            )
        verdict, kept = semantic_dedup_incremental(
            batch_df, store_dir, id_col, vec_col, threshold,
            exclude_batch_id=stamp,
        )
        verdict = verdict.localCheckpoint(eager=True)
        kept = kept.localCheckpoint(eager=True)
        emit(verdict, batch_id)
        stamper.commit(
            spark,
            store_dir,
            batch_id,
            lambda stamp: append_semantic_store(_stamped(kept, stamp), store_dir),
        )

    return _each_batch(stream_df, _process, checkpoint_dir)


def stream_scd2(
    stream_df: DataFrame,
    stream: str,
    snapshot_dir: str,
    pk: str | list[str] = "id",
    eff_ts: str = "ts",
    track_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
    partitioned: bool = False,
    n_buckets: int | None = None,
) -> DataStreamWriter:
    """Continuously-maintained SCD Type 2 history: every micro-batch
    runs the batch ``scd2_upsert`` merge, so streaming and batch
    history stores are identical for the same inputs (the
    ``stream_snapshot_records`` pattern for the history-preserving
    store). Replay safety comes from the merge ALGEBRA, not a marker
    protocol: re-applying a batch collapses onto the versions it
    already created (consecutive same-hash versions are dropped), so
    an at-least-once replay leaves the store byte-identical.
    ``partitioned=True`` uses the bucket-partitioned store layout
    (``scd2_upsert_partitioned``) so each micro-batch rewrites only
    the buckets its keys hash to — the long-running-stream default at
    scale, where the flat layout's full-store swap grows with history.
    With ``n_buckets=None`` a NEW partitioned store is created with 64
    buckets, NOT the batch-operator's seed-batch auto-size: a stream's
    first micro-batch is tiny by nature, and freezing ~1 bucket from
    it would permanently reduce the partitioned layout to a worse
    flat store (the count is frozen at creation; pass ``n_buckets``
    sized for the stream's target history when 64 is wrong).
    foreachBatch serializes merges — single writer stream per store.
    Caller starts the returned writer.
    """
    from ..operators.scd2 import scd2_upsert
    from ..operators.scd2_partitioned import scd2_upsert_partitioned

    _STREAM_DEFAULT_BUCKETS = 64

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if partitioned:
            from ..operators.scd2_partitioned import _store_path
            from ..sources.fs import hadoop_path_exists

            # the streaming default applies ONLY at store creation: an
            # existing store's frozen count is its law, and passing a
            # conflicting explicit count would (correctly) be refused
            nb = n_buckets
            if nb is None and not hadoop_path_exists(
                batch_df.sparkSession, _store_path(stream, snapshot_dir)
            ):
                nb = _STREAM_DEFAULT_BUCKETS
            scd2_upsert_partitioned(
                batch_df, stream, snapshot_dir, pk=pk, eff_ts=eff_ts,
                track_cols=track_cols, n_buckets=nb,
            )
        else:
            scd2_upsert(
                batch_df, stream, snapshot_dir, pk=pk, eff_ts=eff_ts,
                track_cols=track_cols,
            )

    return _each_batch(stream_df, _process, checkpoint_dir)


def stream_session_window_counts(
    stream_df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based session aggregation via Spark's NATIVE
    ``session_window`` — the built-in complement to the custom
    ``stream_sessionize`` (``applyInPandasWithState``). Use this when
    per-session aggregates (bounds + counts) are all you need: state
    management, merging of adjacent micro-batch fragments, and
    watermark eviction are the engine's own, with no Python boundary.
    Reach for ``stream_sessionize`` only when the per-session logic
    outgrows SQL aggregates (custom emission timing, per-event
    payloads). Works identically on batch DataFrames (the watermark is
    a no-op there), which is how the equivalence test pins the two
    implementations against each other."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_expectations(
    stream_df: DataFrame,
    event_time_col: str,
    constraints: list,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming twin of ``check_expectations``
    (``operators/expectations.py``): the same declarative constraints,
    reported per event-time window (and optional slice columns) so an
    ingest pipeline watches constraint violations live instead of
    gating batches after the fact.

    Same one-pass shape as batch: every row-level constraint is a
    conditional count inside ONE watermark-bounded windowed
    aggregation, then the 1-row-per-window summary unpivots to one row
    per (window, constraint) — ``(window_start, window_end,
    *group_cols, constraint, violations, total, passed)``. The only
    semantic delta vs batch: ``expect_unique`` violations use
    ``approx_count_distinct`` (exact COUNT DISTINCT is unsupported in
    streaming aggregations), so its count carries HLL error (~2%) and
    can even go slightly negative-then-clamped on tiny windows —
    documented, and acceptable for a monitoring signal; the batch gate
    remains the exact arbiter before a merge.
    """
    from ..operators.expectations import _constraint_aggs, _stack_report

    keys = list(group_cols or [])
    names, aggs = _constraint_aggs(
        constraints, "stream_expectations", F.approx_count_distinct
    )
    agged = (
        stream_df.withWatermark(event_time_col, watermark)
        .groupBy(
            F.window(F.col(event_time_col), window_duration),
            *[F.col(c) for c in keys],
        )
        .agg(*aggs)
    )
    return agged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[F.col(c) for c in keys],
        _stack_report(names),
        F.col("__total").alias("total"),
    ).select(
        "window_start",
        "window_end",
        *keys,
        "constraint",
        "violations",
        "total",
        (F.col("violations") == 0).alias("passed"),
    )


def stream_drift(
    stream_df: DataFrame,
    event_time_col: str,
    col: str,
    ref: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    max_categories: int = 1000,
) -> DataFrame:
    """Streaming twin of ``distribution_drift``
    (``operators/drift.py``): per event-time window, the categorical
    PSI of ``col`` against a REFERENCE corpus — the live "is the
    incoming mix still the mix we tuned for" monitor.

    The frozen-baseline recipe, streaming-shaped: the reference
    histogram is computed ONCE (one batch aggregate, collected —
    bounded by ``max_categories``, refused beyond it) and frozen into
    the plan as literals; each window then needs only ONE streaming
    aggregation (a conditional count per reference category + total),
    and the PSI is in-row arithmetic over that single row — no second
    streaming aggregation, no stream-static join, so it runs in any
    output mode. Categories absent from the reference pool into a
    ``<OTHER>`` bucket (epsilon-smoothed, so brand-new values surface
    as drift instead of vanishing). NULL is its own category, as in
    batch. Output: ``(window_start, window_end, n, psi,
    top_drift_bucket)`` — ``top_drift_bucket`` names the category
    contributing most PSI, the first thing an operator asks.
    """
    from ..operators.drift import _EPS

    bucket = F.coalesce(F.col(col).cast("string"), F.lit("<NULL>"))
    rows = (
        ref.select(bucket.alias("b")).groupBy("b").count()
        .orderBy("b").collect()
    )
    if len(rows) > max_categories:
        raise ValueError(
            f"stream_drift: reference has {len(rows)} categories of "
            f"{col!r} (max_categories={max_categories}) — a histogram "
            "that wide should be hashed or topped-K first"
        )
    if not rows:
        raise ValueError("stream_drift: reference side has no rows")
    total_ref = sum(r["count"] for r in rows)
    cats = [r["b"] for r in rows]
    p_ref = {r["b"]: max(r["count"] / total_ref, _EPS) for r in rows}

    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.count(F.when(bucket == F.lit(c), F.lit(1))).alias(f"__b{i}")
        for i, c in enumerate(cats)
    ]
    agged = (
        stream_df.withWatermark(event_time_col, watermark)
        .groupBy(F.window(F.col(event_time_col), window_duration))
        .agg(*aggs)
    )
    known = sum((F.col(f"__b{i}") for i in range(len(cats))), F.lit(0))
    terms = []
    for i, c in enumerate(cats):
        p_cur = F.greatest(F.col(f"__b{i}") / F.col("__n"), F.lit(_EPS))
        terms.append(
            ((p_cur - F.lit(p_ref[c])) * F.log(p_cur / F.lit(p_ref[c])))
            .alias("__t")
        )
    p_other = F.greatest(
        (F.col("__n") - known) / F.col("__n"), F.lit(_EPS)
    )
    terms.append(
        ((p_other - F.lit(_EPS)) * F.log(p_other / F.lit(_EPS))).alias("__t")
    )
    psi = sum(terms[1:], terms[0])
    labels = [*cats, "<OTHER>"]
    top = F.array(
        *[
            F.struct(t.alias("c"), F.lit(lbl).alias("b"))
            for t, lbl in zip(terms, labels)
        ]
    )
    return agged.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col("__n").alias("n"),
        F.round(psi, 6).alias("psi"),
        F.array_max(top)["b"].alias("top_drift_bucket"),
    )


def stream_dsir_filter(
    stream_df: DataFrame,
    raw_hist: list[int],
    target_hist: list[int],
    text_col: str = "text",
    smoothing: float = 1.0,
    min_logw: float | None = None,
    logw_col: str = "dsir_logw",
) -> DataFrame:
    """Streaming twin of DSIR data selection (``operators/dsir.py``):
    score every arriving document's importance log-weight against
    FROZEN offline histograms and optionally drop rows below a frozen
    threshold.

    The histograms are offline artifacts (``gram_bucket_histograms``
    over the reference corpora) embedded as constant-folded integer
    literals — exactly the ``frozen_logprob_expr`` deployment pattern —
    so this is a pure STATELESS streaming projection: no watermark, no
    state store, no foreachBatch, no shuffle; Structured Streaming's
    fastest path, and replay trivially re-emits identical rows. The
    Gumbel top-k half of batch DSIR needs a global view, so the
    streaming deployment swaps it for a threshold calibrated offline
    (e.g. the batch run's k-th selection key or a target quantile of
    the log-weight distribution), which is how an offline-fit selector
    normally ships. Returns the transformed streaming DataFrame — the
    caller picks the sink/trigger."""
    from ..operators.dsir import dsir_logweight_expr

    out = stream_df.withColumn(
        logw_col,
        dsir_logweight_expr(F.col(text_col), raw_hist, target_hist, smoothing),
    )
    if min_logw is not None:
        out = out.where(F.col(logw_col) >= F.lit(float(min_logw)))
    return out
