"""Property-based tests (SURVEY §5.4): schema-inference round-trips,
templating invariants, and snapshot-upsert algebra (idempotence,
PK uniqueness, last-write-wins)."""

from __future__ import annotations

import os
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from gluestick_ts_spark.catalog import json_schema_to_struct_type
from gluestick_ts_spark.functions.text import LANG_MARKERS, STOPWORDS_EN
from gluestick_ts_spark.functions.templating import format_str_safely
from gluestick_ts_spark.operators.snapshot import snapshot_records
from gluestick_ts_spark.sinks.singer import spark_type_to_singer_schema, to_singer_schema

# -- StructType <-> Singer JSON Schema round trip ---------------------------

_names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_"),
    min_size=1,
    max_size=12,
).filter(lambda s: not s[0].isdigit())

# Canonical types only: the Singer mapping collapses Int*->integer->Long
# and Float->number->Double, so the fixed-point space is this set.
_scalars = st.sampled_from(
    [T.LongType(), T.DoubleType(), T.BooleanType(), T.StringType(), T.TimestampType()]
)


def _types(depth: int = 2):
    if depth == 0:
        return _scalars
    inner = _types(depth - 1)
    return st.one_of(
        _scalars,
        inner.map(lambda t: T.ArrayType(t, True)),
        st.dictionaries(_names, inner, min_size=1, max_size=3).map(
            lambda d: T.StructType(
                [T.StructField(k, v, True) for k, v in d.items()]
            )
        ),
    )


_struct_types = st.dictionaries(_names, _types(), min_size=1, max_size=5).map(
    lambda d: T.StructType([T.StructField(k, v, True) for k, v in d.items()])
)


@given(_struct_types)
def test_schema_round_trip(struct: T.StructType) -> None:
    """StructType -> Singer JSON Schema -> StructType is the identity
    on the canonical type space."""
    singer = spark_type_to_singer_schema(struct)
    back = json_schema_to_struct_type(singer)
    assert back == struct


_json_values = st.recursive(
    st.one_of(st.booleans(), st.integers(), st.floats(allow_nan=False), st.text(max_size=8)),
    lambda children: st.one_of(
        st.lists(children, min_size=1, max_size=3),
        st.dictionaries(_names, children, min_size=1, max_size=3),
    ),
    max_leaves=8,
)


@given(_json_values)
def test_to_singer_schema_total(value) -> None:
    """to_singer_schema terminates on arbitrary JSON values and always
    yields a ["<type>", "null"] schema."""
    schema = to_singer_schema(value)
    assert isinstance(schema["type"], list) and schema["type"][-1] == "null"


# -- formatStrSafely (etl-utils.ts:161-175) ---------------------------------

_keys = st.text(alphabet="abcdefgh", min_size=1, max_size=5)


@given(st.dictionaries(_keys, st.text(min_size=1, max_size=8), max_size=4), _keys)
def test_format_str_safely_props(variables: dict, unknown: str) -> None:
    """Known truthy keys substitute; unknown keys keep the literal
    {placeholder} (never throws — unlike str.format)."""
    template = "".join(f"x{{{k}}}" for k in variables) + f"y{{{unknown}}}"
    out = format_str_safely(template, variables)
    for k, v in variables.items():
        assert v in out
    if unknown not in variables:
        assert f"{{{unknown}}}" in out


@given(st.text(max_size=30))
def test_format_str_safely_no_vars_identity(template: str) -> None:
    assert format_str_safely(template, {}) == template


# -- snapshot upsert algebra ------------------------------------------------

_records = st.lists(
    st.tuples(st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=99)),
    min_size=1,
    max_size=12,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_records, _records)
def test_snapshot_upsert_algebra(spark, tmp_path_factory, old_rows, new_rows) -> None:
    """After upsert: PKs unique; every batch PK carries the batch's
    LAST value (last-write-wins); re-upserting the same batch is a
    no-op (idempotence)."""
    d = tmp_path_factory.mktemp("snap")
    old = spark.createDataFrame(old_rows, "id long, v long")
    new = spark.createDataFrame(new_rows, "id long, v long")

    snapshot_records(old, "s", str(d), pk="id", overwrite=True)
    merged = snapshot_records(new, "s", str(d), pk="id")
    rows = {r.id: r.v for r in merged.collect()}

    assert merged.count() == len(rows), "PKs must be unique after upsert"
    last_by_id = {}
    for i, v in new_rows:
        last_by_id[i] = v
    for i, v in last_by_id.items():
        assert rows[i] == v, "batch must beat snapshot (last-write-wins)"
    for i, v in old_rows:
        if i not in last_by_id:
            assert i in rows, "snapshot-only keys survive"

    again = snapshot_records(new, "s", str(d), pk="id")
    rows2 = {r.id: r.v for r in again.collect()}
    assert rows2 == rows, "idempotence: re-applying the batch changes nothing"


def test_snapshot_csv_mode_round_trip(spark, tmp_path) -> None:
    """use_csv snapshots persist and merge like parquet ones."""
    d = str(tmp_path)
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    snapshot_records(a, "s", d, pk="id", use_csv=True, overwrite=True)
    merged = snapshot_records(b, "s", d, pk="id", use_csv=True)
    got = {r.id: r.v for r in merged.collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert os.path.exists(os.path.join(d, "s.snapshot.csv"))


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.data(),
)
@settings(max_examples=40, deadline=None)
def test_bmp_encode_decode_roundtrip(width, height, data) -> None:
    """BMP codec totality: encode->decode is the identity on pixels for
    any dimensions (incl. stride-padding widths) and any pixel values;
    resize to any target yields a decodable BMP of those dimensions."""
    from gluestick_ts_spark.operators.media_codecs import (
        bmp_decode,
        bmp_encode,
        bmp_resize,
    )

    px = st.tuples(
        st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
    )
    pixels = data.draw(
        st.lists(px, min_size=width * height, max_size=width * height)
    )
    payload = bmp_encode(width, height, pixels)
    w, h, got = bmp_decode(payload)
    assert (w, h, got) == (width, height, pixels)

    tw = data.draw(st.integers(min_value=1, max_value=8))
    th = data.draw(st.integers(min_value=1, max_value=8))
    rw, rh, rpx = bmp_decode(bmp_resize(payload, tw, th))
    assert (rw, rh) == (tw, th)
    assert set(rpx) <= set(pixels)  # nearest-neighbor only samples


@given(
    st.integers(min_value=1, max_value=400),
    st.sampled_from([1, 2, 4]),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=40, deadline=None)
def test_wav_frames_partition_samples(n_samples, sampwidth, n_frames) -> None:
    """WAV frame sampling: frames are valid WAVs that PARTITION the
    original sample stream (no loss, no duplication) for any PCM width."""
    import io
    import struct as _struct
    import wave as _wave

    from gluestick_ts_spark.operators.media_codecs import wav_decode, wav_frames

    fmt = {1: "B", 2: "h", 4: "i"}[sampwidth]
    lim = 120 if sampwidth == 1 else 30000
    vals = [(i * 37) % lim for i in range(n_samples)]
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(sampwidth)
        w.setframerate(8000)
        w.writeframes(_struct.pack(f"<{n_samples}{fmt}", *vals))
    payload = buf.getvalue()

    _, _, _, all_samples = wav_decode(payload)
    frames = wav_frames(payload, n_frames)
    assert len(frames) == min(n_frames, n_samples)
    rejoined: list[float] = []
    for fr in frames:
        _, _, _, s = wav_decode(fr)
        rejoined.extend(s)
    assert rejoined == all_samples


# -- winnowing fingerprint guarantee ----------------------------------------

_wtext = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=24
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_wtext, _wtext, _wtext)
def test_winnow_shared_substring_guarantee(spark, left, mid, right) -> None:
    """The winnowing theorem (Schleimer et al. 2003) as a property: any
    shared substring of length >= k + w - 1 (= 8 at the defaults)
    places at least one IDENTICAL fingerprint in both documents,
    regardless of what surrounds it; and fingerprints are a pure
    function of the text (padding-position independence is exactly what
    the guarantee buys)."""
    from gluestick_ts_spark.functions.text import winnow_fingerprints_expr

    shared = "zqxjkvbwmpfy"  # 12 lowercase chars, >= k + w - 1
    doc_a = left + shared + mid
    doc_b = mid + shared + right
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_a)], "doc_id long, text string"
    )
    fps = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", winnow_fingerprints_expr("text").alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], (doc_a, doc_b)
    assert fps[1] == fps[3], "fingerprints must be deterministic in the text"


# --- SCD2 history invariants over random batch sequences ---------------

_scd2_batches = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),          # key
            st.sampled_from(["a", "b", "c"]),               # attribute
        ),
        min_size=1,
        max_size=3,
        unique_by=lambda t: t[0],                           # one row per key
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_scd2_batches)
def test_scd2_history_invariants(spark, tmp_path_factory, batches):
    """For ANY batch sequence (monotone effective times): per key,
    exactly one open version; intervals chain exactly (each valid_to
    equals the successor's valid_from — no gaps, no overlaps);
    consecutive versions always differ; and the final open version
    equals the key's last distinct value."""
    from gluestick_ts_spark.operators.scd2 import scd2_upsert
    from gluestick_ts_spark.operators.scd2_partitioned import (
        scd2_upsert_partitioned,
    )

    d = str(tmp_path_factory.mktemp("scd2prop"))
    dp = str(tmp_path_factory.mktemp("scd2prop_part"))
    last_hist = None
    last_part = None
    for i, batch in enumerate(batches):
        ts = f"2024-01-{i + 1:02d} 00:00:00"
        b = spark.createDataFrame(
            [(k, v, ts) for k, v in batch], "id long, city string, ts string"
        )
        last_hist = scd2_upsert(b, "s", d, pk="id", eff_ts="ts")
        last_part = scd2_upsert_partitioned(
            b, "s", dp, pk="id", eff_ts="ts", n_buckets=4
        )

    # the bucket-partitioned layout is row-identical to the flat store
    # for ANY batch sequence (shared merge algebra, pruned-but-
    # sufficient history slice)
    def _key(r):
        return (r.id, r.city, str(r.valid_from), str(r.valid_to), r.is_current)

    assert sorted(map(_key, last_part.collect())) == sorted(
        map(_key, last_hist.collect())
    )

    rows = last_hist.collect()
    per_key: dict = {}
    for r in rows:
        per_key.setdefault(r.id, []).append(r)
    # expected final value per key: last batch that touched it
    expected_final: dict = {}
    for batch in batches:
        for k, v in batch:
            expected_final[k] = v
    for k, versions in per_key.items():
        versions.sort(key=lambda r: str(r.valid_from))
        opens = [r for r in versions if r.is_current]
        assert len(opens) == 1
        assert opens[0] is versions[-1]
        assert opens[0].valid_to is None
        assert opens[0].city == expected_final[k]
        for prev, nxt in zip(versions, versions[1:]):
            assert prev.valid_to == nxt.valid_from  # chained intervals
            assert prev.city != nxt.city            # versions only on change


@settings(max_examples=40, deadline=None)
@given(
    width=st.integers(1, 14),
    height=st.integers(1, 14),
    data=st.data(),
)
def test_gif_encode_decode_lossless(width, height, data) -> None:
    """GIF is a palette format: encode -> decode round-trips EXACTLY
    for any <=256-color image — including single-pixel, odd-dimension,
    and full-random-palette cases hypothesis invents."""
    from gluestick_ts_spark.operators.media_codecs import gif_decode, gif_encode

    n_colors = data.draw(st.integers(1, 16))
    colors = data.draw(
        st.lists(
            st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)),
            min_size=n_colors, max_size=n_colors,
        )
    )
    px = [
        colors[data.draw(st.integers(0, n_colors - 1))]
        for _ in range(width * height)
    ]
    assert gif_decode(gif_encode(width, height, px)) == (width, height, px)


@settings(max_examples=25, deadline=None)
@given(
    width=st.integers(1, 18),
    height=st.integers(1, 18),
    seed=st.integers(0, 2**31),
    sub=st.sampled_from(["444", "420"]),
    rst=st.integers(0, 3),
)
def test_jpeg_roundtrip_bounded_error(width, height, seed, sub, rst) -> None:
    """JPEG is lossy but BOUNDED: for arbitrary (even noise) images the
    decode must return the exact dimensions, every sample in [0, 255],
    and a worst-case per-channel error bounded by the quantization
    envelope; decode is deterministic (pure function of the bytes)."""
    import random

    from gluestick_ts_spark.operators.media_codecs import jpeg_decode, jpeg_encode

    rng = random.Random(seed)
    px = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(width * height)
    ]
    enc = jpeg_encode(width, height, px, subsampling=sub, restart_interval=rst)
    out = jpeg_decode(enc)
    assert out[:2] == (width, height)
    dec = out[2]
    assert len(dec) == width * height
    assert all(0 <= v <= 255 for p in dec for v in p)
    # noise is the worst case; the mean error stays inside the quant +
    # subsampling + YCbCr-gamut envelope. 4:4:4 carries only the quant
    # + gamut term (measured <= 11.5 over a 400-seed sweep of every
    # size class — 64 is a wide margin). 4:2:0 additionally replaces
    # each pixel's chroma by its 2x2-block mean, and on saturated
    # noise the worst per-pixel chroma deviation approaches half the
    # clamped chroma range (~112): measured 97.0 for a 1x2 image
    # (two opposite-corner colors averaged to gray chroma), 82.3 at
    # 2x2, decaying toward the 4:4:4 envelope as block means
    # concentrate (53.1 at 8x8, 48.7 at 18x18). The old uniform <64
    # bound was below the codec-independent 4:2:0 floor for tiny
    # images — this is inherent to chroma subsampling (real JPEG
    # behaves the same), not decoder error; dims/range/determinism
    # asserts above stay unconditional.
    mae = sum(
        abs(a - b) for pa, pb in zip(px, dec) for a, b in zip(pa, pb)
    ) / (3 * len(px))
    assert mae < (64 if sub == "444" else 112), (mae, sub)
    assert jpeg_decode(enc) == out  # deterministic


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_psl_registered_domain_invariants(data) -> None:
    """For ANY host assembled from random labels over the snapshot's
    rule shapes, the PSL resolution must satisfy the structural
    invariants: the registered domain is a dot-suffix of the host (or
    the host itself), is never '', never deeper than the host, and —
    when a known public suffix matches — is exactly one label longer
    than that suffix. Checked driver-side via the SQL twin semantics
    (the Spark expression is pinned equal to it in test_weburl)."""
    from gluestick_ts_spark.operators.psl import PSL_SNAPSHOT

    label = st.text(alphabet="abcxyz123", min_size=1, max_size=6)
    n = data.draw(st.integers(1, 4))
    labels = [data.draw(label) for _ in range(n)]
    suffix = data.draw(
        st.sampled_from(
            [None]
            + sorted(PSL_SNAPSHOT.suffixes_2)[:40]
            + sorted(PSL_SNAPSHOT.suffixes_3)[:20]
            + [f"x.{w}" for w in sorted(PSL_SNAPSHOT.wildcard_tlds)]
        )
    )
    host = ".".join(labels) + (f".{suffix}" if suffix else "")

    # pure-Python restatement of the documented resolution order
    t = PSL_SNAPSHOT
    parts = host.split(".")
    lastk = lambda k: ".".join(parts[-k:]) if len(parts) >= k else ""  # noqa: E731
    if lastk(2) in t.exceptions:
        reg = lastk(2)
    elif lastk(3) in t.suffixes_3 or lastk(2) in t.wildcard_2:
        reg = lastk(4) or host
    elif lastk(2) in t.suffixes_2 or lastk(1) in t.wildcard_tlds:
        reg = lastk(3) or host
    else:
        reg = lastk(2) or host

    assert reg
    assert host == reg or host.endswith("." + reg)
    if suffix and reg != host:
        # one label deeper than the matched suffix (longest-match rule)
        assert reg.endswith("." + suffix) or suffix.startswith("x.")
        if reg.endswith("." + suffix):
            assert reg.count(".") == suffix.count(".") + 1


# -- staged text rules over random token soups ------------------------------

_soup_words = sorted(
    {w for ws in LANG_MARKERS.values() for w in ws} | set(STOPWORDS_EN)
) + ["zzz", "The", "LA", "..."]
_soup = st.lists(
    st.tuples(
        st.sampled_from(_soup_words), st.sampled_from([" ", "  ", "\t", "\n"])
    ),
    max_size=14,
).map(lambda ps: "".join(w + sep for w, sep in ps))


def _py_lang_id(text: str) -> str:
    """Pure-Python restatement of the word-path lang-ID contract:
    argmax marker overlap over the space-segmented languages in
    declaration order, earlier language on ties, 'und' at zero."""
    toks = re.split(r"\s+", text.strip().lower())
    best = (0.0, 1, "und")
    for i, lang in enumerate(LANG_MARKERS):
        hits = sum(t in LANG_MARKERS[lang] for t in toks)
        best = max(best, (hits / max(len(toks), 1), -i, lang))
    return best[2]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_soup, min_size=1, max_size=24))
def test_staged_text_rules_on_token_soups(spark, texts) -> None:
    """On random soups of marker words and stopwords, the staged
    renderings (one token array per row) equal the inline-derived ones
    for lang-ID, every language score and the quality score — and
    lang-ID equals a pure-Python restatement."""
    from pyspark.sql import functions as F

    from gluestick_ts_spark.functions.text import (
        DEFAULT_LANGS,
        lang_id_sql,
        lang_score_sql,
        quality_score_expr,
        tokens_sql,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    df = df.select("id", "t", F.expr(tokens_sql("t")).alias("tk"))
    pairs = {
        "lang": (lang_id_sql("t"), lang_id_sql("t", toks_sql="tk")),
        **{
            f"score_{l}": (lang_score_sql("t", l), lang_score_sql("t", l, "tk"))
            for l in DEFAULT_LANGS
        },
    }
    cols = [F.expr(u).alias(f"u_{k}") for k, (u, _) in pairs.items()]
    cols += [F.expr(s).alias(f"s_{k}") for k, (_, s) in pairs.items()]
    cols += [
        quality_score_expr("t").alias("u_q"),
        quality_score_expr("t", toks=F.col("tk")).alias("s_q"),
    ]
    for r in df.select("id", *cols).collect():
        for k in [*pairs, "q"]:
            assert r[f"u_{k}"] == r[f"s_{k}"], (texts[r.id], k)
        assert r["s_lang"] == _py_lang_id(texts[r.id]), texts[r.id]
