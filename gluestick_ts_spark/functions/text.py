"""Text-analysis column expressions for training-data pipelines.

These are scale-extension operators (not in the reference, which has no
text processing — SURVEY §2.2 "Extensions"): tokenization, quality
scoring, language-ID heuristics, token counting, fingerprinting and
shingling over the ``documents`` table.

Everything here is a pure Column expression built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, zero
Python in the row path. Each has a deliberately SQL-expressible
definition so the DuckDB oracle can replicate it bit-for-bit.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens_expr",
    "word_count_expr",
    "char_count_expr",
    "punct_ratio_expr",
    "stopword_ratio_expr",
    "quality_score_expr",
    "token_count_expr",
    "fingerprint_expr",
    "winnow_fingerprints_expr",
    "winnow_fps_sql",
    "lang_score_expr",
    "lang_id_expr",
    "lang_score_sql",
    "lang_id_sql",
    "lang_id_duck_sql",
    "DEFAULT_LANGS",
    "CJK_LANGS",
    "CJK_CLASS",
    "CJK_STOP_CHARS",
    "shingles_expr",
    "raw_shingles_expr",
    "cjk_char_tokens_expr",
    "cjk_dict_tokens_expr",
    "cjk_dict_tokens_join",
    "is_cjk_doc_expr",
    "repetition_ratio_expr",
    "repetition_profile_sql",
    "gopher_quality_flags",
    "gopher_rules_sql",
    "gopher_lines_sql",
    "gopher_grams_sql",
    "tokens_sql",
    "gopher_rules_duck_sql",
    "gopher_cjk_toks_sql",
    "gopher_cjk_toks_duck_sql",
    "c4_line_rules_expr",
    "C4_TERMINAL_RE",
    "C4_CJK_TERMINAL_RE",
    "license_flags_expr",
    "blocked_terms_flags_expr",
    "normalize_width_expr",
    "normalize_width_sql",
    "fingerprint_sql",
    "blocked_terms_sql",
    "license_flags_sql",
    "main_text_expr",
    "block_classes_expr",
    "justext_sql",
    "stopwords_for_lang_expr",
    "stopwords_for_lang_sql",
    "STOPWORDS_BY_LANG",
    "redact_pii_expr",
    "chunk_tokens",
    "hashed_tf_expr",
    "strip_html_expr",
    "HTML_ENTITIES",
    "self_dedup_lines_expr",
    "PII_PATTERNS",
    "STOPWORDS_EN",
    "LANG_MARKERS",
    "TOKEN_REGEX",
]

# A small, fixed English stopword list — part of the operator contract
# (mirrored verbatim in the oracle SQL).
STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
)

# Per-language stoplists for the language-ROUTED jusText density gate
# (round 12): the extractor's stopword-share floor measures "is this
# prose", and prose in German has no English function words — an
# EN-only list under-classifies every non-English document as `short`,
# biasing curation against exactly the documents a multilingual
# sampler upweights. Same 18-word scale as STOPWORDS_EN (real jusText
# lists are ~10x larger — the documented undercount applies per
# language). WORD stoplists only: unsegmented CJK scripts never route
# here — they take the char-grain density gate (round 13, see
# ``main_text_expr``'s ``cjk`` parameter), because a whitespace-token
# stoplist is structurally meaningless for text without spaces.
STOPWORDS_BY_LANG: dict[str, tuple[str, ...]] = {
    "en": STOPWORDS_EN,
    "de": (
        "der", "die", "das", "und", "ist", "nicht", "ein", "eine",
        "mit", "von", "zu", "den", "dem", "im", "auf", "sich", "auch",
        "aber",
    ),
    "fr": (
        "le", "la", "les", "et", "est", "un", "une", "des", "que",
        "pour", "dans", "qui", "sur", "pas", "plus", "par", "avec",
        "son",
    ),
    "es": (
        "el", "la", "los", "las", "y", "es", "un", "una", "que",
        "por", "en", "no", "se", "del", "con", "para", "su", "al",
    ),
}

# Per-language marker words for the n-gram/stopword language-ID
# heuristic — SPACE-SEGMENTED languages only. Scores are overlap
# fractions; deterministic tie-break by declaration order. CJK
# languages are identified by SCRIPT (codepoint-class counts, below),
# never by word markers: real Chinese/Japanese prose has no spaces, so
# `tokens_expr` yields one giant pseudo-token per clause and every
# word-marker score is identically zero (the round-12 pinyin zh table
# only matched this repo's transliterated synth corpus — replaced).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
}

# ---------------------------------------------------------------------
# Script-aware CJK handling (round 13). Public Unicode block ranges,
# embedded as LITERAL characters so the SAME class string compiles in
# Java regex (Spark) and RE2 (DuckDB) — both accept literal-codepoint
# ranges inside a class. Engine agreement on counts holds for ANY
# input, astral planes included: Spark's `length` is
# UTF8String.numChars() — CODEPOINTS, not UTF-16 units — and DuckDB's
# `length` is codepoints too (verified cross-engine on astral input;
# tests/test_text.py::test_nonspace_count_codepoints_cross_engine),
# so the nonspace denominators below cannot drift on emoji.
# ---------------------------------------------------------------------
_HAN_CLASS = "㐀-䶿一-鿿"  # CJK Unified Ideographs + Ext-A
_KANA_CLASS = "぀-ゟ゠-ヿ"  # hiragana + katakana
_HANGUL_CLASS = "ᄀ-ᇿ가-힯"  # jamo + syllables
CJK_CLASS = _HAN_CLASS + _KANA_CLASS + _HANGUL_CLASS
CJK_LANGS = ("zh", "ja", "ko")

# routing thresholds, integer-exact (hash-stable across engines):
# a document routes CJK when >= 3/10 of its non-space characters are
# CJK-script codepoints; within CJK it is `ko` when hangul is at
# least half the CJK mass, else `ja` when kana is >= 1/10 of it
# (Japanese prose is 30-70% kana; Chinese has none), else `zh`.
_CJK_DOC_TENTHS = 3
_KO_HANGUL_HALVES = 1  # 2 * hangul >= 1 * cjk
_JA_KANA_TENTHS = 1  # 10 * kana >= 1 * cjk

# High-frequency CJK function CHARACTERS (the char-grain analog of the
# word stoplists): zh particles/copulas, ja kana particles, ko
# particle syllables. Used by the routed Gopher stopword rule — CJK
# tokens are single chars under the char-grain tokenizer, so char
# membership is the right grain.
CJK_STOP_CHARS: tuple[str, ...] = (
    "的", "了", "是", "在", "我", "有", "和", "不", "这", "也",
    "の", "に", "は", "を", "た", "が", "で", "て", "と", "し",
    "이", "다", "의", "가", "에", "는", "로", "을", "를", "고",
)

# BPE-ish token regex: word runs OR single non-space symbols. Java and
# RE2 agree on this pattern for ASCII input.
TOKEN_REGEX = r"\w+|[^\w\s]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------
# Staging contract for the per-document rules below.
#
# The higher-order functions (``filter``, ``aggregate``, ``zip_with``,
# ``transform``) are ``CodegenFallback`` in Spark 4.1: they evaluate on
# the interpreted path, where whole-stage codegen's subexpression
# elimination cannot reach their arguments. A rule that filters an
# inline ``split(lower(trim(text)), '\\s+')`` therefore re-tokenizes
# the document once per rule, and once per reference inside a rule.
# Code that evaluates several rules per row can stage the derived
# arrays ONCE and pass them in (curation does; on text_stats and
# lang_scores it measured no gain, so they keep the inline forms):
#
# - ``toks_sql`` (``lang_score_sql``, ``lang_id_sql``,
#   ``gopher_rules_sql``) / ``toks`` (``quality_score_expr``): the
#   token array, ``tokens_sql`` of the text;
# - ``lines_sql`` / ``grams_sql`` (``gopher_rules_sql``): the line
#   array ``gopher_lines_sql`` and ``gopher_grams_sql`` of the tokens;
# - ``lowered`` (``license_flags_expr``): ``lower`` of the text.
#
# Staged columns are Project layers: select the array under its own
# name in a lower ``select`` and reference it by name (SPARK-36718:
# Catalyst keeps a non-cheap projection that is referenced more than
# once un-inlined, so it is computed once per row). Let-bindings
# (``_let``, ``transform(array(x), ...)[0]``) are NOT staged columns:
# they wrap the reader in one more interpreted lambda, which measured
# slower for the quality score (see ``quality_score_expr``).
# ---------------------------------------------------------------------


def tokens_sql(col: str) -> str:
    """Spark-SQL form of :func:`tokens_expr` over the named column —
    the one tokenizer the staged rules share."""
    return f"split(lower(trim(`{col}`)), '\\\\s+')"


def _let(value, fn):
    """Let-bind ``value`` through a single-element-array ``transform``
    so ``fn`` reads a MATERIALIZED lambda parameter: higher-order
    functions evaluate interpreted (no codegen subexpression
    elimination), so a plain column reference inside a lambda
    re-evaluates its whole subtree per element — binding the value as
    a lambda parameter evaluates it once. Shared by the winnowing,
    blocked-terms, and jusText pipelines (one definition, no drift)."""
    return F.get(F.transform(F.array(value), fn), 0)

def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokens of lowercased, trimmed text."""
    return F.split(F.lower(F.trim(_col(text))), r"\s+")


def word_count_expr(text: Column | str) -> Column:
    return F.size(tokens_expr(text))


def char_count_expr(text: Column | str) -> Column:
    return F.length(_col(text))


def punct_ratio_expr(text: Column | str) -> Column:
    """Fraction of characters that are neither word chars nor spaces."""
    t = _col(text)
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return (punct.cast("double") / F.greatest(F.length(t), F.lit(1)).cast("double"))


def stopword_ratio_expr(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    toks = tokens_expr(text)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score_expr(
    text: Column | str, cjk: Column | None = None, toks: Column | None = None
) -> Column:
    """Composite [0,1] quality heuristic: rewards mid-length docs and
    a sane stopword ratio, penalizes punctuation soup. The exact
    formula is the contract (oracle replicates it):

    ``0.4*min(words/100,1) + 0.4*min(stop_ratio*5,1) + 0.2*(1-min(punct_ratio*10,1))``

    ``cjk`` (round 14, typically ``is_cjk_doc_expr``) routes the
    formula to the CHAR grain for CJK-script rows — the SAME weights
    and caps over char tokens (:func:`cjk_char_tokens_expr`) with the
    ``CJK_STOP_CHARS`` density standing in for the stopword ratio:
    unsegmented prose is one whitespace token, so the word-grain score
    pins every real CJK document at the length floor with a zero
    stopword term (a structural fail, not a quality signal). The
    punctuation term is char-based already and stays shared.

    ``toks`` optionally substitutes a STAGED token array (the staging
    contract above) for the re-split text: ``tokens_expr(text)`` on
    rows where ``cjk`` is false or absent, ``cjk_char_tokens_expr(text)``
    where it holds — the routed array gopher's ``toks_sql`` takes when
    routed by the same predicate."""
    # Round 16 (optimization): LEFT IN THE r15 FORM on purpose. Two
    # let-binding variants were interleaved-A/B'd (8 matched rounds
    # each) and both measured flat-to-worse: binding the word-path
    # tokens wraps the score in an ArrayTransform and makes the whole
    # column interpreted (approx_distinct mean 3.09 -> 3.34 s,
    # curation 7.14 -> 8.92 s); binding only the CJK path was a wash
    # against this form (curation 7.29 vs 7.52 s means). Unlike the
    # shingle fold — whose duplicates sit INSIDE a CodegenFallback
    # argument tree where codegen CSE cannot reach — the size()
    # duplicates are project-level, and whole-stage codegen already
    # eliminates them. The copy under the stopword ``filter`` is not:
    # callers that stage the token array pass it as ``toks``.
    punct = punct_ratio_expr(text)
    punct_term = F.lit(0.2) * (
        F.lit(1.0) - F.least(punct * F.lit(10.0), F.lit(1.0))
    )

    def score(tk: Column, stopwords: tuple[str, ...]) -> Column:
        sw = F.array(*[F.lit(s) for s in stopwords])
        n = F.size(tk)
        stop = F.size(F.filter(tk, lambda t: F.array_contains(sw, t))).cast(
            "double"
        ) / F.greatest(n, F.lit(1)).cast("double")
        return (
            F.lit(0.4) * F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
            + F.lit(0.4) * F.least(stop * F.lit(5.0), F.lit(1.0))
            + punct_term
        )

    word_score = score(tokens_expr(text) if toks is None else toks, STOPWORDS_EN)
    if cjk is None:
        return word_score
    ctoks = cjk_char_tokens_expr(text) if toks is None else toks
    return F.when(cjk, score(ctoks, CJK_STOP_CHARS)).otherwise(word_score)


def token_count_expr(text: Column | str, pattern: str = TOKEN_REGEX) -> Column:
    """BPE-ish token count: number of regex token matches."""
    return F.regexp_count(_col(text), F.lit(pattern))


def self_dedup_lines_expr(text: Column | str) -> Column:
    """Within-document repeated-line removal (the in-row complement to
    the corpus-level ``line_dedup`` operator; the repetition class the
    Gopher rules flag, here actually removed): each distinct line keeps
    its FIRST occurrence, in document order. Pure Column expression —
    ``array_distinct`` preserves first-occurrence order — so it's
    map-only at any corpus size."""
    return F.concat_ws("\n", F.array_distinct(F.split(_col(text), "\n")))


# terminal-punctuation patterns for the C4 line keep-rule. The CJK
# variant adds fullwidth terminators and closing quotes/brackets —
# real zh/ja lines end 。/！/？ (often inside 」』）), which the ASCII
# pattern rejects wholesale. Opt-in (pass as ``terminal_re``) so the
# default rule and its oracles stay byte-identical.
C4_TERMINAL_RE = "[.!?][\"']?\\s*$"
C4_CJK_TERMINAL_RE = "[.!?。！？…][\"'」』）]?\\s*$"


def c4_line_rules_expr(
    text: Column | str,
    min_words: int = 3,
    min_kept_lines: int = 5,
    terminal_re: str = C4_TERMINAL_RE,
) -> Column:
    """C4's line-level cleaning rules (Raffel et al. 2020 §2.2 — the
    per-LINE half the doc-level Gopher rules don't cover), as one
    map-only struct expression:

    - a line is KEPT iff it ends in a terminal punctuation mark
      (``. ! ?``, optionally followed by a closing quote), contains at
      least ``min_words`` words, and does not mention ``javascript``
      (case-insensitive);
    - the DOCUMENT verdict ``keep`` additionally requires no
      ``lorem ipsum`` placeholder text, no ``{`` (code), and at least
      ``min_kept_lines`` surviving lines (the paper's 5-sentence
      floor, counted on kept lines).

    Returns ``struct(text_clean, n_lines, n_kept, has_lorem_ipsum,
    has_brace, keep)`` — ``text_clean`` is the kept lines rejoined in
    order. Every rule is a Java∩RE2-subset regex / substring test, so
    a SQL oracle restates it verbatim. Pure Column algebra: map-only
    at any corpus size."""
    t = _col(text)
    lines = F.split(t, "\n")
    is_kept = lambda ln: (  # noqa: E731
        ln.rlike(terminal_re)
        & (
            F.size(F.filter(F.split(F.trim(ln), "\\s+"), lambda w: w != ""))
            >= F.lit(min_words)
        )
        & ~F.lower(ln).contains("javascript")
    )
    kept = F.filter(lines, is_kept)
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    return F.struct(
        F.concat_ws("\n", kept).alias("text_clean"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_brace"),
        (
            (F.size(kept) >= F.lit(min_kept_lines)) & ~has_lorem & ~has_brace
        ).alias("keep"),
    )


def fingerprint_expr(text: Column | str, width_fold: bool = False) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text. Stable across engines (md5 is md5 everywhere) — used as the
    exact-dedup key.

    ``width_fold=True`` (round 14) folds fullwidth ASCII forms and
    the ideographic space to halfwidth (``normalize_width_expr``)
    BEFORE normalization, so ``ＨＥＬＬＯ`` and ``hello`` share a key
    — fullwidth re-typings are the most common CJK exact-dup class.
    The fold maps the ideographic space to a plain space ahead of the
    whitespace collapse, so mixed-space runs normalize identically.
    Off by default: existing fingerprint stores key on the unfolded
    text. SQL twin: ``fingerprint_sql(col, width_fold=True)``."""
    t = _col(text)
    if width_fold:
        t = normalize_width_expr(t)
    norm = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    return F.md5(norm)


def fingerprint_sql(col: str, width_fold: bool = False) -> str:
    """DuckDB twin of :func:`fingerprint_expr` — GENERATED with the
    same width-fold tables so the keys cannot drift."""
    t = normalize_width_sql(col) if width_fold else col
    return f"md5(regexp_replace(lower(trim({t})), '\\s+', ' ', 'g'))"


def winnow_fingerprints_expr(
    text: Column | str,
    k: int = 5,
    w: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): rolling-hash every character
    ``k``-gram of the normalized text, slide a window of ``w``
    consecutive k-gram hashes, keep each window's minimum, and return
    the sorted distinct selected hashes as ``array<long>``.

    Guarantee (the point of winnowing over plain sampling): any
    substring of length >= ``k + w - 1`` shared by two documents
    contributes at least one IDENTICAL fingerprint to both — so
    fingerprint-set overlap lower-bounds shared content, robust to
    insertions/reordering around the match. Density is ~2/(w+1) of all
    k-grams, a tunable sketch size.

    Implementation is a pure Column program: the k-gram hash is the
    polynomial ``sum(code_i * base^(k-1-i)) mod mod`` folded with
    ``aggregate`` over a ``slice`` of the codepoint array — per-row
    O(n*k) with constant ``k`` (i.e. O(n)), zero shuffles, zero Python,
    and every intermediate stays far below 2^63 (``mod`` < 2^30, so
    ``acc*base + x`` < 2^39). Codepoints come from ``ascii()`` which
    matches DuckDB's ``ord()`` on any codepoint, so the oracle twin
    (``winnow_fps_sql``) reproduces values bit-for-bit.

    Totality: NULL or shorter-than-``k`` text gives an empty array;
    fewer than ``w`` k-grams collapse to a single whole-text window.
    No reference counterpart (extension op).

    Each pipeline stage (codepoints, k-gram hashes) is LET-BOUND via a
    single-element-array ``transform`` before the next stage consumes
    it: HOF lambda parameters are materialized values, while a plain
    column reference inside a lambda RE-EVALUATES its whole subtree per
    element — the naive chained form is O(n^3) per row (measured: 20
    rows = 80 s; let-bound: 500 rows < 1 s).
    """


    t = F.lower(F.trim(_col(text)))

    def mins_of(kh):
        m = F.size(kh)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(kh, i, w)),
        )

    def kgram_hashes(codes):
        n = F.size(codes)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.aggregate(
                F.slice(codes, i, k),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * base + x) % mod,
            ),
        )

    codes0 = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))
    mins = _let(codes0, lambda codes: _let(kgram_hashes(codes), mins_of))
    return F.when(
        _col(text).isNull() | (F.length(t) < k), F.array().cast("array<long>")
    ).otherwise(F.array_sort(F.array_distinct(mins)))


def winnow_fps_sql(
    col: str = "text",
    k: int = 5,
    w: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
) -> str:
    """DuckDB twin of ``winnow_fingerprints_expr`` — a scalar SQL
    fragment over ``col`` producing the identical sorted fingerprint
    list (DuckDB list comprehensions + ``list_reduce``; ``ord`` ==
    Spark ``ascii`` per codepoint). Inline into oracle queries."""
    t = f"lower(trim({col}))"
    codes = (
        f"[CAST(ord(substring({t}, i, 1)) AS BIGINT) "
        f"FOR i IN range(1, length({t}) + 1)]"
    )
    kh = (
        f"[list_reduce(C[i:i+{k - 1}], (acc, x) -> (acc * {base} + x) % {mod}) "
        f"FOR i IN range(1, greatest(len(C) - {k - 1}, 1) + 1)]"
    )
    mins = (
        f"[list_min(H[i:i+{w - 1}]) "
        f"FOR i IN range(1, greatest(len(H) - {w - 1}, 1) + 1)]"
    )
    return (
        f"(SELECT CASE WHEN {col} IS NULL OR length({t}) < {k} "
        f"THEN CAST([] AS BIGINT[]) ELSE list_sort(list_distinct(M)) END "
        f"FROM (SELECT {mins} AS M FROM (SELECT {kh} AS H "
        f"FROM (SELECT {codes} AS C))))"
    )


_SCRIPT_CLASS = {"zh": _HAN_CLASS, "ja": _KANA_CLASS, "ko": _HANGUL_CLASS}


def lang_score_expr(text: Column | str, lang: str) -> Column:
    """Language evidence score in [0, 1]. Space-segmented languages:
    overlap fraction between the doc's tokens and the language's
    marker words. CJK languages (round 13): the fraction of non-space
    CHARACTERS in the language's dominant script class (han for zh,
    kana for ja, hangul for ko) — word overlap is identically zero for
    unsegmented prose, so character class IS the marker."""
    t = _col(text)
    if lang in CJK_LANGS:
        hits = F.regexp_count(t, F.lit(f"[{_SCRIPT_CLASS[lang]}]"))
        nonspace = F.length(F.regexp_replace(t, r"\s", ""))
        return hits.cast("double") / F.greatest(
            nonspace, F.lit(1)
        ).cast("double")
    markers = LANG_MARKERS[lang]
    toks = tokens_expr(t)
    mk = F.array(*[F.lit(m) for m in markers])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(mk, t)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


DEFAULT_LANGS = ("en", "de", "fr", "es", "zh", "ja", "ko")


def lang_id_expr(
    text: Column | str, langs: tuple[str, ...] = DEFAULT_LANGS
) -> Column:
    """Predicted language. Round 13 routing: a document whose
    non-space characters are >= 3/10 CJK-script codepoints is
    identified BY SCRIPT — `ko` when hangul is at least half the CJK
    mass, else `ja` when kana is >= 1/10 of it, else `zh` (all
    integer-exact count comparisons — real CJK prose has no spaces,
    so the word-marker path below structurally cannot see it). Every
    other document takes the word-marker argmax over the
    space-segmented ``langs``, ties broken by declaration order
    (earlier wins); 'und' when every score is zero.

    Implemented as ``array_max`` over ``struct(score, -index, lang)``
    for the word path — struct comparison is lexicographic, so the max
    struct carries the highest score and, on ties, the earliest
    declared language. All in-row Column algebra, map-only anywhere.
    """
    t = _col(text)
    word_langs = [l for l in langs if l not in CJK_LANGS]
    cjk_langs = [l for l in langs if l in CJK_LANGS]
    if word_langs:
        candidates = F.array(
            *[
                F.struct(
                    lang_score_expr(t, lang).alias("score"),
                    F.lit(-i).alias("prio"),
                    F.lit(lang).alias("lang"),
                )
                for i, lang in enumerate(word_langs)
            ]
        )
        best = F.array_max(candidates)
        word_pred = F.when(best["score"] > 0.0, best["lang"]).otherwise(
            F.lit("und")
        )
    else:
        # CJK-only request: empty array_max is VOID-typed and fails
        # analysis on field access — the word path IS 'und'
        word_pred = F.lit("und")
    if not cjk_langs:
        return word_pred
    han = F.regexp_count(t, F.lit(f"[{_HAN_CLASS}]"))
    kana = F.regexp_count(t, F.lit(f"[{_KANA_CLASS}]"))
    hangul = F.regexp_count(t, F.lit(f"[{_HANGUL_CLASS}]"))
    cjk = han + kana + hangul
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    routed = (
        F.when(2 * hangul >= _KO_HANGUL_HALVES * cjk, F.lit("ko"))
        .when(10 * kana >= _JA_KANA_TENTHS * cjk, F.lit("ja"))
        .otherwise(F.lit("zh"))
    )
    # restrict routing to the requested CJK languages (callers asking
    # for e.g. zh only fall back to the word path for ja/ko scripts)
    routed_ok = routed.isin(list(cjk_langs))
    return F.when(
        (10 * cjk >= _CJK_DOC_TENTHS * F.greatest(nonspace, F.lit(1)))
        & routed_ok,
        routed,
    ).otherwise(word_pred)


def lang_score_sql(col: str, lang: str, toks_sql: str | None = None) -> str:
    """Spark-SQL fragment computing ``lang_score_expr`` for a named
    column — semantics identical; exists so multi-language queries can
    enter the plan as parsed SQL (one parser call) instead of ~50 py4j
    Column constructions per language (see gopher_rules_sql rationale).

    ``toks_sql`` optionally names the STAGED ``tokens_sql(col)`` array
    (the staging contract above); the CJK script scores ignore it."""
    if lang in CJK_LANGS:
        return (
            f"CAST(regexp_count(`{col}`, '[{_SCRIPT_CLASS[lang]}]') AS DOUBLE)"
            f" / CAST(greatest(length(regexp_replace(`{col}`, "
            "'\\\\s', '')), 1) AS DOUBLE)"
        )
    toks = toks_sql or tokens_sql(col)
    mk = "array(" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + ")"
    return (
        f"CAST(size(filter({toks}, t -> array_contains({mk}, t))) AS DOUBLE)"
        f" / CAST(greatest(size({toks}), 1) AS DOUBLE)"
    )


def _cjk_route_sqls(col_expr: str, dialect: str) -> tuple[str, str]:
    """(is_cjk_doc, routed_lang) fragments over the text expression
    ``col_expr`` — ONE generator for both engines (dialect 'spark' |
    'duck'), so the integer-exact routing thresholds can't drift. The
    only dialect deltas are the count/replace function spellings."""
    if dialect == "spark":
        cnt = lambda cls: f"regexp_count({col_expr}, '[{cls}]')"  # noqa: E731
        nonspace = (
            f"length(regexp_replace({col_expr}, '\\\\s', ''))"
        )
    else:
        cnt = lambda cls: (  # noqa: E731
            f"len(regexp_extract_all({col_expr}, '[{cls}]'))"
        )
        nonspace = f"length(regexp_replace({col_expr}, '\\s', '', 'g'))"
    han, kana, hangul = (
        cnt(_HAN_CLASS), cnt(_KANA_CLASS), cnt(_HANGUL_CLASS)
    )
    cjk = f"({han} + {kana} + {hangul})"
    is_cjk = (
        f"(10 * {cjk} >= {_CJK_DOC_TENTHS} * greatest({nonspace}, 1))"
    )
    routed = (
        f"(CASE WHEN 2 * {hangul} >= {_KO_HANGUL_HALVES} * {cjk} THEN 'ko' "
        f"WHEN 10 * {kana} >= {_JA_KANA_TENTHS} * {cjk} THEN 'ja' "
        "ELSE 'zh' END)"
    )
    return is_cjk, routed


def lang_id_sql(
    col: str, langs: tuple[str, ...] = DEFAULT_LANGS, toks_sql: str | None = None
) -> str:
    """Spark-SQL fragment computing ``lang_id_expr`` for a named column
    (script-routed CJK first, then argmax marker score via
    lexicographic struct max, ties to earlier language, 'und' when all
    scores are zero). ``toks_sql``: the staged token array, as in
    :func:`lang_score_sql`.

    The word path is ONE ``array_max`` over the candidates plus the
    sentinel ``(0.0, 1, 'und')``: its prio 1 outranks every candidate
    (prio <= 0) on a zero score, and any positive score outranks it —
    exactly "'und' when every score is zero" without re-deriving the
    max inside a CASE. A null text scores null everywhere, which sorts
    below the sentinel's 0.0, so it reads 'und' as before."""
    word_langs = [l for l in langs if l not in CJK_LANGS]
    cjk_langs = [l for l in langs if l in CJK_LANGS]
    if word_langs:
        cands = ", ".join(
            f"named_struct('score', {lang_score_sql(col, lang, toks_sql)}, "
            f"'prio', {-i}, 'lang', '{lang}')"
            for i, lang in enumerate(word_langs)
        )
        word = (
            f"array_max(array({cands}, "
            "named_struct('score', 0.0D, 'prio', 1, 'lang', 'und'))).lang"
        )
    else:
        # CJK-only request: the word path is the literal 'und'
        # (lang_id_expr's behavior) — array_max(array()) fails analysis
        word = "'und'"
    if not cjk_langs:
        return f"({word})"
    is_cjk, routed = _cjk_route_sqls(f"`{col}`", "spark")
    in_list = ", ".join(f"'{l}'" for l in cjk_langs)
    return (
        f"(CASE WHEN {is_cjk} AND {routed} IN ({in_list}) THEN {routed} "
        f"ELSE {word} END)"
    )


def lang_id_duck_sql(
    text_sql: str, langs: tuple[str, ...] = DEFAULT_LANGS
) -> str:
    """DuckDB twin of ``lang_id_expr``/``lang_id_sql`` over the text
    SQL expression ``text_sql`` — GENERATED from the same marker
    tables, script classes, and integer thresholds (the
    license_flags_sql one-rule-source pattern), so the two engines
    route identically by construction. Word path: argmax marker score
    with declaration-order tie-break ('und' at zero)."""
    word_langs = [l for l in langs if l not in CJK_LANGS]
    cjk_langs = [l for l in langs if l in CJK_LANGS]
    toks = f"regexp_split_to_array(lower(trim({text_sql})), '\\s+')"

    def score(lang: str) -> str:
        mk = "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"
        return (
            f"(CAST(len(list_filter({toks}, t -> list_contains({mk}, t)))"
            f" AS DOUBLE) / CAST(greatest(len({toks}), 1) AS DOUBLE))"
        )

    if word_langs:
        greatest = (
            "greatest(" + ", ".join(score(l) for l in word_langs) + ")"
        )
        whens = " ".join(
            f"WHEN {score(lang)} = {greatest} THEN '{lang}'"
            for lang in word_langs
        )
        word = f"CASE WHEN {greatest} = 0 THEN 'und' {whens} END"
    else:
        # CJK-only request: zero-arg greatest() is a DuckDB syntax
        # error — the word path is the literal 'und' (lang_id_expr)
        word = "'und'"
    if not cjk_langs:
        return f"({word})"
    is_cjk, routed = _cjk_route_sqls(text_sql, "duck")
    in_list = ", ".join(f"'{l}'" for l in cjk_langs)
    return (
        f"(CASE WHEN {is_cjk} AND {routed} IN ({in_list}) THEN {routed} "
        f"ELSE {word} END)"
    )


def cjk_char_tokens_expr(text: Column | str) -> Column:
    """CHAR-GRAIN token array for script-routed operators: every
    CJK-script character is its own token, interleaved non-CJK
    non-space runs stay whole (digits, latin loanwords) — the
    ``gopher_cjk_toks_sql`` segmentation as a Column (one regex pass,
    map-only)."""
    return F.regexp_extract_all(
        F.lower(F.trim(_col(text))),
        F.lit(f"([{CJK_CLASS}]|[^{CJK_CLASS}\\s]+)"),
        1,
    )


def is_cjk_doc_expr(text: Column | str) -> Column:
    """The doc-level CJK route predicate (boolean Column): >= 3/10 of
    the document's non-space codepoints are CJK-script — exactly the
    script gate ``lang_id_expr`` routes on, factored out so dedup
    operators can route without computing the full language id. The
    SQL twins are ``_cjk_route_sqls(...)[0]`` (both dialects)."""
    t = _col(text)
    cjk = F.regexp_count(t, F.lit(f"[{CJK_CLASS}]"))
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    return 10 * cjk >= _CJK_DOC_TENTHS * F.greatest(nonspace, F.lit(1))


def cjk_dict_tokens_expr(
    text: Column | str, words: tuple[str, ...] | list
) -> Column:
    """Dictionary-based CJK WORD segmentation (round 15): forward
    maximum matching (FMM — the classical greedy zh/ja segmenter;
    public knowledge, e.g. Lucene's dictionary-based CJK analyzers and
    the MMSEG family) of the char-grain token array against a
    CALLER-SUPPLIED word list, as a pure Column fold. At each
    position, the LONGEST dictionary word starting there is taken as
    one token; otherwise the single char (or atomic non-CJK run)
    passes through — so the result refines ``cjk_char_tokens_expr``
    exactly where the caller's dictionary has coverage and degrades to
    it everywhere else. The dictionary is caller policy (the
    ``blocked_terms`` pattern): domain lexicons, product names,
    stopword inventories.

    Returns ``array<string>``. NULL/empty text gives an empty array.
    Compose with the route predicate for mixed corpora::

        F.when(is_cjk_doc_expr(t), cjk_dict_tokens_expr(t, words))
         .otherwise(tokens_expr(t))

    Implementation: the char array is LET-BOUND once (the
    ``winnow_fingerprints_expr`` rule), then ONE ``aggregate`` fold
    over positions carries ``(skip, toks)`` — per-row O(n x L)
    slice/compare work with the dictionary as a single constant-folded
    ``from_json`` literal (membership is an O(|dict|) array scan per
    probe: fine for policy-scale lists; a 10^5+-word lexicon should
    use :func:`cjk_dict_tokens_join` — the explode-candidates +
    broadcast-join scale path). A multi-char match is accepted only
    when the slice holds exactly j elements AND the joined slice has
    codepoint length == j: the element guard rejects truncated tail
    windows (j-1 elements containing one multi-char run can still
    total j codepoints), the length guard prevents a dictionary word
    from gluing a non-CJK RUN token to its neighbors mid-array (runs
    are atomic, len > 1). Word length is capped at 8 to bound the
    per-step when-chain. No reference counterpart (extension op —
    the segmentation grain beyond the char-n-gram routing the rest of
    the family uses)."""
    words = tuple(dict.fromkeys(w for w in words if w))
    if not words:
        raise ValueError("cjk_dict_tokens_expr: words must be non-empty")
    if any(len(w) < 2 for w in words):
        raise ValueError(
            "cjk_dict_tokens_expr: 1-char dictionary words are no-ops "
            "(single chars already pass through) — remove them"
        )
    max_l = max(len(w) for w in words)
    if max_l > 8:
        raise ValueError(
            f"cjk_dict_tokens_expr: longest word has {max_l} chars; the "
            "FMM when-chain is capped at 8 — split longer entries"
        )
    # ONE from_json literal instead of |dict| py4j lit() calls (the
    # minhash_signatures plit precedent); constant-folded by Catalyst
    dict_arr = F.from_json(
        F.lit(json.dumps(list(words), ensure_ascii=False)), "array<string>"
    )

    def _fold(C: Column) -> Column:
        n = F.size(C)

        def step(acc: Column, i: Column) -> Column:
            def w_of(j):
                return F.concat_ws("", F.slice(C, i, F.lit(j)))

            best = None
            for j in range(max_l, 1, -1):
                # BOTH guards (round 16): element count == j rejects a
                # truncated tail slice (j-1 elements containing one
                # multi-char run can still total j codepoints — e.g.
                # word 'ab中' over tail tokens ['ab','中'] — which the
                # length check alone accepts, gluing an atomic run and
                # driving the oracle's pos walk past len(C)+1);
                # codepoint length == j rejects mid-array glue over runs
                cond = (
                    (F.size(F.slice(C, i, F.lit(j))) == j)
                    & (F.length(w_of(j)) == j)
                    & F.array_contains(dict_arr, w_of(j))
                )
                best = (
                    F.when(cond, F.lit(j))
                    if best is None
                    else best.when(cond, F.lit(j))
                )
            best = best.otherwise(F.lit(1))
            tok = F.concat_ws("", F.slice(C, i, best))
            return F.when(
                acc["skip"] > 0,
                F.struct(
                    (acc["skip"] - 1).alias("skip"), acc["toks"].alias("toks")
                ),
            ).otherwise(
                F.struct(
                    (best - 1).cast("int").alias("skip"),
                    F.concat(acc["toks"], F.array(tok)).alias("toks"),
                )
            )

        init = F.struct(
            F.lit(0).cast("int").alias("skip"),
            F.array().cast("array<string>").alias("toks"),
        )
        return F.aggregate(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            init,
            lambda acc, i: F.when(i <= n, step(acc, i)).otherwise(acc),
        )["toks"]

    # LET-BIND the char array: referencing the regexp subtree from the
    # fold body would re-run the extraction per step
    return F.get(F.transform(F.array(cjk_char_tokens_expr(text)), _fold), 0)


def cjk_dict_tokens_join(
    df,
    text_col: str,
    words_df,
    out_col: str = "seg_tokens",
    word_col: str = "word",
    max_len: int = 8,
    id_col: str | None = None,
):
    """The SCALE PATH of :func:`cjk_dict_tokens_expr` (round 16): the
    same forward-maximum-matching segmentation, but with the
    dictionary as a RELATION instead of an in-expression literal — the
    formulation a 10^5+-word production lexicon needs (the in-row fold
    probes membership with an O(|dict|) array scan per position; at
    lexicon scale that is O(n x L x 10^5) per row and the literal
    itself bloats every plan).

    Shape (explode-candidates + broadcast-join, the banded-join family
    pattern):

    1. per doc, ONE pass builds the candidate windows — for each
       position i and each length j in [2, max_len], the joined slice,
       guarded exactly like the fold (exactly j elements AND codepoint
       length j, so truncated tails and atomic non-CJK runs never
       match);
    2. candidates explode to (doc, pos, cand) rows — short strings,
       never the token array itself — and broadcast-join the
       (deduplicated, length-filtered) dictionary relation: map-side,
       zero shuffle of the corpus;
    3. matches reduce to the longest j per position (partial-agg
       groupBy) and fold back per doc into a pos -> j map;
    4. the greedy (skip, toks) walk re-runs as a cheap O(n) fold with
       ZERO dictionary probes — ``element_at(map, pos)`` replaces the
       when-chain.

    Equivalent to ``cjk_dict_tokens_expr(text, words)`` for any
    dictionary whose words fit ``max_len`` (equivalence is pytest-
    pinned); words shorter than 2 chars are ignored like the fold
    rejects them, longer than ``max_len`` cannot match (the fold
    raises instead — a literal dictionary is caller policy, a
    relation is data). Appends ``out_col`` (``array<string>``).
    ``id_col`` names a unique row key for the join-back; None adds a
    transient ``monotonically_increasing_id`` (dropped on return).

    At 100 TB: candidates are ~n_chars x (max_len-1) short-string rows
    per doc — the explode never carries the document text; the
    dictionary broadcasts once per stage; the only corpus shuffles are
    the two partial-aggregated groupBys collapsing matches, keyed by
    (doc, pos) then doc."""
    if max_len < 2:
        raise ValueError(f"max_len must be >= 2, got {max_len}")
    drop_id = False
    if id_col is None:
        id_col, drop_id = "__gs_seg_id", True
        df = df.withColumn(id_col, F.monotonically_increasing_id())
    toks_col, map_col = "__gs_seg_toks", "__gs_seg_map"
    src = df.withColumn(toks_col, cjk_char_tokens_expr(text_col))
    C = F.col(toks_col)

    def cands_at(i: Column) -> Column:
        entries = []
        for j in range(2, max_len + 1):
            w = F.concat_ws("", F.slice(C, i, F.lit(j)))
            ok = (F.size(F.slice(C, i, F.lit(j))) == j) & (F.length(w) == j)
            entries.append(F.when(ok, w))
        return F.array(*entries)

    cand_rows = (
        src.select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(C), F.lit(1))),
                    cands_at,
                )
            ).alias("__gs_pos0", "__gs_cands"),
        )
        .select(
            id_col,
            (F.col("__gs_pos0") + 1).alias("__gs_pos"),
            F.explode("__gs_cands").alias("__gs_cand"),
        )
        .where(F.col("__gs_cand").isNotNull())
    )
    lexicon = (
        words_df.select(F.col(word_col).alias("__gs_cand"))
        .where(F.length("__gs_cand").between(2, max_len))
        .distinct()
    )
    matches = (
        cand_rows.join(F.broadcast(lexicon), "__gs_cand")
        .groupBy(id_col, "__gs_pos")
        .agg(F.max(F.length("__gs_cand")).cast("int").alias("__gs_w"))
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__gs_pos", "__gs_w"))
            ).alias(map_col)
        )
    )
    merged = src.join(matches, id_col, "left")
    n = F.size(C)
    init = F.struct(
        F.lit(0).cast("int").alias("skip"),
        F.array().cast("array<string>").alias("toks"),
    )

    def step(acc: Column, i: Column) -> Column:
        w = F.coalesce(F.element_at(F.col(map_col), i.cast("int")), F.lit(1))
        tok = F.concat_ws("", F.slice(C, i, w))
        return F.when(
            acc["skip"] > 0,
            F.struct(
                (acc["skip"] - 1).alias("skip"), acc["toks"].alias("toks")
            ),
        ).otherwise(
            F.struct(
                (w - 1).cast("int").alias("skip"),
                F.concat(acc["toks"], F.array(tok)).alias("toks"),
            )
        )

    out = merged.withColumn(
        out_col,
        F.aggregate(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            init,
            lambda acc, i: F.when(i <= n, step(acc, i)).otherwise(acc),
        )["toks"],
    ).drop(toks_col, map_col)
    return out.drop(id_col) if drop_id else out


def _grams_from_tokens(toks: Column, n: int) -> Column:
    """n-gram shingles (space-joined) over an already-built token
    array, WITH duplicates — the shared fold behind
    ``raw_shingles_expr`` and its char-grain route.

    Round 16 (optimization): ``toks`` is LET-BOUND via the
    single-element-array transform before the zip_with chain reads it.
    The chain references the token array ~2(n-1) times (each level's
    shifted slice + size), and zip_with is CodegenFallback — every
    reference re-evaluated the whole tokenize subtree per row (a
    regex split, or the planted-synth chain feeding it), O(n) regex
    passes per row at n=8. As a lambda parameter it materializes
    once. Values identical by construction (same subexpressions;
    NULL propagates through array()/transform/get unchanged —
    interleaved A/B: ngram_jaccard_adjacent 3.37 -> 2.45 s at sf0.1)."""

    def _chain(T: Column) -> Column:
        grams = T
        for k in range(2, n + 1):
            # zip_with pads the shorter (shifted) side with nulls;
            # concat_ws skips nulls, leaving partial grams only in the
            # tail, which the final slice cuts off.
            grams = F.zip_with(
                grams,
                F.slice(T, k, F.greatest(F.size(T) - (k - 1), F.lit(1))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        return F.slice(grams, 1, F.greatest(F.size(T) - F.lit(n - 1), F.lit(1)))

    return F.get(F.transform(F.array(toks), _chain), 0)


def raw_shingles_expr(
    text: Column | str,
    n: int = 3,
    cjk: Column | None = None,
    cjk_n: int = 5,
) -> Column:
    """Word n-gram shingles (space-joined) of the tokenized text, WITH
    duplicates — one gram per token position. Documents shorter than
    ``n`` tokens yield the full token string as a single shingle.

    ``cjk`` (round 14) is an optional doc-level BOOLEAN Column
    (typically :func:`is_cjk_doc_expr`): routed rows shingle CHAR
    ``cjk_n``-grams over the char-grain tokens
    (:func:`cjk_char_tokens_expr`) instead of word n-grams —
    unsegmented zh/ja prose is ONE whitespace token, so the word grain
    yields ~1 shingle per document and MinHash/SimHash near-dup recall
    collapses to ~0 on exactly the documents the CJK-routed quality
    pipeline keeps. Char n≈5 is the winnowing precedent
    (``winnow_fingerprints_expr``'s k).

    Built as ``zip_with`` over shifted slices, NOT ``transform(seq, i ->
    slice(toks, i, n))``: expressions inside a higher-order-function
    lambda re-evaluate per element, so the transform form re-tokenizes
    (regex split) the document once per shingle — O(tokens²) regex work.
    Here every array (tokens and its shifts) is a plain argument,
    evaluated once per row."""
    grams = _grams_from_tokens(tokens_expr(text), n)
    if cjk is None:
        return grams
    cjk_grams = _grams_from_tokens(cjk_char_tokens_expr(text), cjk_n)
    return F.when(cjk, cjk_grams).otherwise(grams)


def shingles_expr(
    text: Column | str,
    n: int = 3,
    cjk: Column | None = None,
    cjk_n: int = 5,
) -> Column:
    """Distinct word n-gram shingles — ``raw_shingles_expr`` deduped
    (char ``cjk_n``-grams for ``cjk``-routed rows)."""
    return F.array_distinct(raw_shingles_expr(text, n, cjk, cjk_n))


# PII redaction patterns, applied in order (emails first — they contain
# digit runs; IPs before generic phone digit-runs). Restricted to the
# regex intersection of Java (Spark) and RE2 (DuckDB): no lookaround,
# no backrefs, ASCII \w and \d — so redaction is oracle-checkable.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[\w.+-]+@[\w-]+\.[\w.]+", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b(?:\d[ .-]?){7,14}\d\b", "<PHONE>"),
)


def redact_pii_expr(text: Column | str) -> Column:
    """Scrub common PII shapes (emails, IPv4 addresses, phone-style
    digit runs of 8-15 digits) with typed placeholders — the standard
    pre-training redaction pass, as a pure chain of ``regexp_replace``
    column expressions (JVM-side, zero Python in the row path)."""
    out = _col(text)
    for pattern, placeholder in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def chunk_tokens(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 256,
    overlap: int = 32,
    cjk: "Column | None" = None,
):
    """Split documents into overlapping token-window chunks — the
    context-window prep step of a training pipeline. One output row per
    chunk: ``<id_col>, chunk_idx (int), chunk_text (string),
    n_tokens (long)``.

    ``cjk`` (round 13) is an optional doc-level BOOLEAN Column
    (typically ``lang_id_expr(text).isin(*CJK_LANGS)``): routed rows
    tokenize at the CHAR grain (each CJK-script character is its own
    token, interleaved non-CJK runs stay whole — the
    ``gopher_cjk_toks_sql`` segmentation), because whitespace
    tokenization sees unsegmented prose as ONE giant token and emits
    the whole document as a single over-length chunk. Routed chunk
    text rejoins with a space only BETWEEN TWO NON-CJK tokens (CJK
    typography sets latin runs tight against ideographs), so
    ``"我们用 spark sql 每天"`` windows reconstruct their latin
    spacing; like the word path's whitespace normalization, original
    whitespace runs inside CJK text are not byte-preserved — chunking
    is a token-window operator, not a byte-fidelity one.

    Row-local: tokenize once, build the chunk list inside the row with
    a ``transform`` over start offsets, then ONE ``posexplode`` — no
    shuffle at all; chunking 100 TB is a map-only job. ``overlap`` must
    be < ``chunk_size``.

    ``n_tokens`` is the SIZE OF THE TOKEN SLICE itself, computed
    alongside the chunk text inside the same ``transform`` — not a
    re-split of the joined string, which double-counted chunks whose
    tokens round-trip differently through ``concat_ws``/``split``.

    NULL text is treated as the empty string (one empty chunk), so the
    operator is total: without the coalesce, ``size(NULL)`` poisons the
    chunk count to NULL and the row's output becomes engine-dependent.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("require 0 <= overlap < chunk_size")
    step = chunk_size - overlap
    base = F.coalesce(F.col(text_col), F.lit(""))
    word_toks = tokens_expr(base)
    if cjk is None:
        toks = word_toks
    else:
        toks = F.when(cjk, cjk_char_tokens_expr(base)).otherwise(word_toks)

    def _n_chunks(T):
        return F.greatest(
            F.ceil(
                (F.size(T) - F.lit(overlap)).cast("double") / F.lit(step)
            ).cast("int"),
            F.lit(1),
        )

    def _text_of(SL):
        word = F.concat_ws(" ", SL)
        if cjk is None:
            return word
        # conditional-separator rejoin: a space goes only BETWEEN TWO
        # NON-CJK tokens (prev token read via 1-based element_at(S, i)
        # == the 0-based transform index's predecessor)
        joined = F.concat_ws(
            "",
            F.transform(
                SL,
                lambda t, i: F.concat(
                    F.when(
                        (i == 0)
                        | F.element_at(SL, i).rlike(f"[{CJK_CLASS}]$")
                        | t.rlike(f"^[{CJK_CLASS}]"),
                        F.lit(""),
                    ).otherwise(F.lit(" ")),
                    t,
                ),
            ),
        )
        return F.when(cjk, joined).otherwise(word)

    # LET-BINDING (hashed_tf_expr's trick): referencing `toks` from
    # every chunk slot would make Catalyst re-run the tokenizing split
    # per slot (2x per chunk here); binding the token array to a lambda
    # variable tokenizes once per row. The chunk's SLICE is let-bound
    # the same way (the routed rejoin references it 3x).
    chunks = F.transform(
        F.array(toks),
        lambda T: F.transform(
            F.sequence(F.lit(0), _n_chunks(T) - 1),
            lambda i: F.get(
                F.transform(
                    F.array(F.slice(T, i * step + 1, chunk_size)),
                    lambda SL: F.struct(
                        _text_of(SL).alias("chunk_text"),
                        F.size(SL).cast("long").alias("n_tokens"),
                    ),
                ),
                0,
            ),
        ),
    )[0]
    return (
        df.select(F.col(id_col), chunks.alias("__chunks"))
        .select(id_col, F.posexplode("__chunks").alias("chunk_idx", "__c"))
        .select(
            id_col,
            "chunk_idx",
            F.col("__c.chunk_text").alias("chunk_text"),
            F.col("__c.n_tokens").alias("n_tokens"),
        )
    )


def gopher_cjk_toks_sql(text_col: str = "text") -> str:
    """Spark-SQL fragment: the CHAR-GRAIN token array for CJK-routed
    Gopher scoring — every CJK-script character is its own token,
    interleaved non-CJK non-space runs stay whole words (digits,
    latin loanwords). The standard proxy segmentation for scripts
    without spaces: word-count becomes char-count, word n-grams
    become char n-grams, and the published Gopher thresholds apply at
    the morpheme grain. Stage the result ONCE in a lower select (the
    SPARK-36718 pattern) and hand it to ``gopher_rules_sql`` as
    ``toks_sql``."""
    t = f"`{text_col}`"
    return (
        f"regexp_extract_all(lower(trim({t})), "
        f"'([{CJK_CLASS}]|[^{CJK_CLASS}\\\\s]+)', 1)"
    )


def gopher_cjk_toks_duck_sql(text_sql: str = "text") -> str:
    """DuckDB twin of :func:`gopher_cjk_toks_sql` — same pattern,
    RE2 dialect."""
    return (
        f"regexp_extract_all(lower(trim({text_sql})), "
        f"'[{CJK_CLASS}]|[^{CJK_CLASS}\\s]+')"
    )


def gopher_lines_sql(text_col: str = "text") -> str:
    """Spark-SQL fragment: the line array the Gopher line rules read —
    stage it once and pass it to ``gopher_rules_sql`` as ``lines_sql``."""
    return f"split(`{text_col}`, '\\n')"


def gopher_grams_sql(toks: str) -> str:
    """Spark-SQL fragment: the word-3-gram list of the token array
    ``toks`` that Gopher's repetition rule reads — stage it once
    and pass it to ``gopher_rules_sql`` as ``grams_sql``. A zip_with
    over shifted slices. Documents with fewer than 3 tokens have NO
    3-grams: the slice floors would otherwise yield one partial
    pseudo-gram (e.g. 'a b' for a 2-token doc) and score repetition
    over fake data — such docs get an empty list and repetition_ok
    passes vacuously (n_words_ok rejects them anyway)."""
    g2 = (
        f"zip_with({toks}, slice({toks}, 2, greatest(size({toks}) - 1, 1)), "
        "(a, b) -> concat_ws(' ', a, b))"
    )
    g3 = (
        f"zip_with({g2}, slice({toks}, 3, greatest(size({toks}) - 2, 1)), "
        "(a, b) -> concat_ws(' ', a, b))"
    )
    return (
        f"CASE WHEN size({toks}) >= 3 "
        f"THEN slice({g3}, 1, size({toks}) - 2) "
        "ELSE array() END"
    )


def gopher_rules_sql(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_3gram_ratio: float = 0.5,
    toks_sql: str | None = None,
    lines_sql: str | None = None,
    grams_sql: str | None = None,
    cjk_sql: str | None = None,
    seg_toks_sql: str | None = None,
    min_seg_mean_cents: int = 104,
) -> dict[str, str]:
    """Spark-SQL fragment per Gopher rule (see ``gopher_quality_flags``)
    keyed by flag name. Kept as SQL strings so the whole rule set
    enters the plan through ONE parser call — building the equivalent
    tree Column-by-Column through py4j cost ~0.5 s of driver time per
    query construction, which dominated the (map-only) scan at bench
    scale.

    ``toks_sql``/``lines_sql``/``grams_sql`` optionally substitute a
    precomputed column reference for the derived arrays — callers that
    project the token/gram/line arrays ONCE in a lower select (Catalyst
    keeps non-cheap multi-referenced projections un-inlined) avoid
    re-deriving them per rule (``tokens_sql``, ``gopher_lines_sql`` and
    ``gopher_grams_sql`` are the fragments to stage).

    ``cjk_sql`` (round 13): a doc-level boolean SQL fragment routing
    the THREE word-shape rules to their char-grain CJK variants —
    mean word length bounds drop to [1, max] (char tokens are length
    1), the alpha-word class widens to include CJK-script chars, and
    the stopword rule counts ``CJK_STOP_CHARS`` hits instead of
    English stopwords. Callers MUST pair it with a routed
    ``toks_sql``/``grams_sql`` (``gopher_cjk_toks_sql`` under the
    same CASE) so the count/repetition rules run at the same grain —
    without the routed tokens a real CJK document is one giant token
    and every rule fails vacuously, which is precisely the mass-drop
    this routing exists to fix.

    ``seg_toks_sql`` (round 16): a column reference to the
    DICTIONARY-SEGMENTED token array (``cjk_dict_tokens_expr`` /
    ``cjk_dict_tokens_join``, staged once), adding a ninth rule
    ``seg_mean_word_len_ok`` — at the char grain the mean-word-length
    floor is vacuously 1.0, so the one Gopher signal the routing LOSES
    for CJK scripts is word-shape; dictionary coverage restores it:
    natural prose segments into multi-char words (mean > 1), while
    char soup the lexicon doesn't cover stays at exactly 1.0. The rule
    is integer-exact (``100 * sum_len >= min_seg_mean_cents * n``, so
    both engines compare the same BIGINTs; default 104 = mean >= 1.04)
    over the PURE-CJK segment tokens only — non-CJK run tokens
    (numbers, latin loanwords) are excluded so a long digit run cannot
    inflate a soup doc over the floor. Vacuous TRUE for unrouted docs
    and when ``seg_toks_sql`` is None (requires ``cjk_sql``)."""
    t = f"`{text_col}`"
    toks = toks_sql or tokens_sql(text_col)
    nw = f"CAST(size({toks}) AS DOUBLE)"
    safe_w = f"greatest({nw}, 1.0D)"
    lines = lines_sql or gopher_lines_sql(text_col)
    safe_l = f"CAST(greatest(size({lines}), 1) AS DOUBLE)"
    grams = grams_sql or gopher_grams_sql(toks)
    sw = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + ")"
    mwl_min = (
        f"(CASE WHEN ({cjk_sql}) THEN 1.0D ELSE {min_mean_word_len}D END)"
        if cjk_sql is not None
        else f"{min_mean_word_len}D"
    )
    alpha_frac = (
        f"CAST(size(filter({toks}, w -> w rlike '[a-z]')) AS DOUBLE)"
        f" / {safe_w}"
    )
    stop_hits = (
        f"size(array_distinct(filter({toks}, w -> array_contains({sw}, w))))"
    )
    if cjk_sql is not None:
        alpha_cjk = (
            f"CAST(size(filter({toks}, w -> w rlike "
            f"'[a-z{CJK_CLASS}]')) AS DOUBLE) / {safe_w}"
        )
        alpha_frac = (
            f"(CASE WHEN ({cjk_sql}) THEN {alpha_cjk} "
            f"ELSE {alpha_frac} END)"
        )
        csw = "array(" + ", ".join(f"'{c}'" for c in CJK_STOP_CHARS) + ")"
        stop_hits = (
            f"(CASE WHEN ({cjk_sql}) THEN size(array_distinct(filter("
            f"{toks}, w -> array_contains({csw}, w)))) "
            f"ELSE {stop_hits} END)"
        )
    return {
        "n_words_ok": f"({nw} >= {min_words} AND {nw} <= {max_words})",
        "mean_word_len_ok": (
            f"(CAST(aggregate({toks}, 0L, (a, x) -> a + length(x)) AS DOUBLE)"
            f" / {safe_w} BETWEEN {mwl_min} AND {max_mean_word_len}D)"
        ),
        "symbol_ratio_ok": (
            f"(CAST(regexp_count({t}, '#') + regexp_count({t}, '\\\\.\\\\.\\\\.|…') AS DOUBLE)"
            f" / {safe_w} <= {max_symbol_word_ratio}D)"
        ),
        "bullet_lines_ok": (
            f"(CAST(size(filter({lines}, l -> trim(l) rlike '^([•‣▪-]\\\\s)')) AS DOUBLE)"
            f" / {safe_l} <= {max_bullet_line_frac}D)"
        ),
        "ellipsis_lines_ok": (
            f"(CAST(size(filter({lines}, l -> trim(l) rlike '(\\\\.\\\\.\\\\.|…)$')) AS DOUBLE)"
            f" / {safe_l} <= {max_ellipsis_line_frac}D)"
        ),
        "alpha_words_ok": f"({alpha_frac} >= {min_alpha_word_frac}D)",
        "stopwords_ok": f"({stop_hits} >= {min_stopword_hits})",
        # vacuous pass on an empty gram list (docs under 3 tokens have
        # no 3-grams to repeat)
        "repetition_ok": (
            f"(size({grams}) < 1 OR "
            f"1.0D - CAST(size(array_distinct({grams})) AS DOUBLE)"
            f" / CAST(size({grams}) AS DOUBLE) <= {max_dup_3gram_ratio}D)"
        ),
        **(
            {
                # ONE fold per row (the let-bound seg-fold rule from
                # lang_scores): the filter + sum + count all ride a
                # single aggregate whose (s, c) struct is let-bound
                # through transform(array(...))[0] — referencing the
                # fold from two sub-expressions would run it twice
                "seg_mean_word_len_ok": (
                    f"(NOT ({cjk_sql}) OR transform(array("
                    f"aggregate({seg_toks_sql}, "
                    f"named_struct('s', 0L, 'c', 0L), "
                    f"(a, x) -> if(x rlike '^[{CJK_CLASS}]+$', "
                    f"named_struct('s', a.s + length(x), 'c', a.c + 1L), "
                    f"a))), "
                    f"r -> 100L * r.s >= {int(min_seg_mean_cents)}L "
                    f"* greatest(r.c, 1L))[0])"
                )
            }
            if seg_toks_sql is not None and cjk_sql is not None
            else {}
        ),
    }


def gopher_rules_duck_sql(
    text_sql: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_3gram_ratio: float = 0.5,
    toks_sql: str | None = None,
    lines_sql: str | None = None,
    grams_sql: str | None = None,
    cjk_sql: str | None = None,
    seg_toks_sql: str | None = None,
    min_seg_mean_cents: int = 104,
) -> dict[str, str]:
    """DuckDB restatement of :func:`gopher_rules_sql`, GENERATED from
    the same thresholds / stopword tables / CJK script classes (the
    license_flags_sql one-rule-source pattern) — rule drift between
    engine and oracle is structurally impossible. Same staging
    contract: pass ``toks_sql``/``lines_sql``/``grams_sql`` for
    arrays the caller projected once, ``cjk_sql`` (a doc-level
    boolean fragment) paired with char-grain routed tokens, and
    ``seg_toks_sql`` for the dictionary-segmented array behind the
    round-16 ``seg_mean_word_len_ok`` rule (integer-exact, pure-CJK
    tokens only — see the Spark twin)."""
    t = text_sql
    toks = toks_sql or f"regexp_split_to_array(lower(trim({t})), '\\s+')"
    nw = f"CAST(len({toks}) AS DOUBLE)"
    safe_w = f"greatest({nw}, 1.0)"
    lines = lines_sql or f"string_split({t}, chr(10))"
    safe_l = f"CAST(greatest(len({lines}), 1) AS DOUBLE)"
    if grams_sql is None:
        tri = (
            f"[array_to_string(({toks})[i:i+2], ' ') "
            f"for i in range(1, greatest(len({toks}) - 2, 1) + 1)]"
        )
        grams = (
            f"CASE WHEN len({toks}) >= 3 THEN {tri} "
            "ELSE CAST([] AS VARCHAR[]) END"
        )
    else:
        grams = grams_sql
    sw = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"
    mwl_min = (
        f"(CASE WHEN ({cjk_sql}) THEN 1.0 ELSE {min_mean_word_len} END)"
        if cjk_sql is not None
        else f"{min_mean_word_len}"
    )
    alpha_frac = (
        f"CAST(len(list_filter({toks}, w -> regexp_matches(w, '[a-z]')))"
        f" AS DOUBLE) / {safe_w}"
    )
    stop_hits = (
        f"len(list_distinct(list_filter({toks}, "
        f"w -> list_contains({sw}, w))))"
    )
    if cjk_sql is not None:
        alpha_cjk = (
            f"CAST(len(list_filter({toks}, w -> regexp_matches(w, "
            f"'[a-z{CJK_CLASS}]'))) AS DOUBLE) / {safe_w}"
        )
        alpha_frac = (
            f"(CASE WHEN ({cjk_sql}) THEN {alpha_cjk} "
            f"ELSE {alpha_frac} END)"
        )
        csw = "[" + ", ".join(f"'{c}'" for c in CJK_STOP_CHARS) + "]"
        stop_hits = (
            f"(CASE WHEN ({cjk_sql}) THEN len(list_distinct(list_filter("
            f"{toks}, w -> list_contains({csw}, w)))) "
            f"ELSE {stop_hits} END)"
        )
    return {
        "n_words_ok": f"(len({toks}) BETWEEN {min_words} AND {max_words})",
        "mean_word_len_ok": (
            f"(CAST(coalesce(list_sum(list_transform({toks}, "
            f"x -> length(x))), 0) AS DOUBLE) / {safe_w} "
            f"BETWEEN {mwl_min} AND {max_mean_word_len})"
        ),
        "symbol_ratio_ok": (
            f"(CAST(len(regexp_extract_all({t}, '#')) + "
            f"len(regexp_extract_all({t}, '\\.\\.\\.|…')) AS DOUBLE)"
            f" / {safe_w} <= {max_symbol_word_ratio})"
        ),
        "bullet_lines_ok": (
            f"(CAST(len(list_filter({lines}, l -> "
            "regexp_matches(trim(l), '^([•‣▪-]\\s)'))) AS DOUBLE)"
            f" / {safe_l} <= {max_bullet_line_frac})"
        ),
        "ellipsis_lines_ok": (
            f"(CAST(len(list_filter({lines}, l -> "
            "regexp_matches(trim(l), '(\\.\\.\\.|…)$'))) AS DOUBLE)"
            f" / {safe_l} <= {max_ellipsis_line_frac})"
        ),
        "alpha_words_ok": f"({alpha_frac} >= {min_alpha_word_frac})",
        "stopwords_ok": f"({stop_hits} >= {min_stopword_hits})",
        "repetition_ok": (
            f"(len({grams}) < 1 OR "
            f"1.0 - CAST(len(list_distinct({grams})) AS DOUBLE)"
            f" / CAST(len({grams}) AS DOUBLE) <= {max_dup_3gram_ratio})"
        ),
        **(
            {
                "seg_mean_word_len_ok": (
                    f"(NOT ({cjk_sql}) OR ("
                    f"100 * coalesce(list_sum(list_transform("
                    f"list_filter({seg_toks_sql}, "
                    f"w -> regexp_matches(w, '^[{CJK_CLASS}]+$')), "
                    f"x -> length(x))), 0) >= {int(min_seg_mean_cents)} "
                    f"* greatest(len(list_filter({seg_toks_sql}, "
                    f"w -> regexp_matches(w, '^[{CJK_CLASS}]+$'))), 1)))"
                )
            }
            if seg_toks_sql is not None and cjk_sql is not None
            else {}
        ),
    }


def gopher_quality_flags(text: str = "text", **thresholds) -> Column:
    """Gopher-style rule-based quality filter (the published heuristics
    from the Gopher/MassiveText paper, Rae et al. 2021 §A1.1) as one
    struct of per-rule booleans plus an overall ``passes`` — pure SQL
    expressions, so filtering 100 TB is a map-only scan with every
    rule's verdict kept for auditability (drop-REASON analysis is a
    groupBy over the flags, not a re-run):

    - ``n_words_ok``: word count within [min_words, max_words]
    - ``mean_word_len_ok``: mean word length within [3, 10]
    - ``symbol_ratio_ok``: '#'/'…'/'...'-to-word ratio <= 0.1
    - ``bullet_lines_ok``: < 90% of lines start with a bullet
    - ``ellipsis_lines_ok``: < 30% of lines end with an ellipsis
    - ``alpha_words_ok``: >= 80% of words contain a letter
    - ``stopwords_ok``: at least 2 distinct common-stopword hits
    - ``repetition_ok``: duplicate word-3-gram ratio <= 0.5

    ``text`` is a COLUMN NAME (the rules enter the plan as one parsed
    SQL expression — see ``gopher_rules_sql``); thresholds are keyword
    arguments forwarded there. ``passes`` re-states every rule, so
    select ONLY ``.getField("passes")`` when the per-rule flags aren't
    needed — Catalyst then prunes the struct to a single evaluation of
    each rule.
    """
    rules = gopher_rules_sql(text, **thresholds)
    fields = ", ".join(f"'{name}', {sql}" for name, sql in rules.items())
    passes = " AND ".join(rules.values())
    return F.expr(f"named_struct({fields}, 'passes', {passes})")


def repetition_ratio_expr(text: Column | str, n: int = 3) -> Column:
    """Within-document repetition: fraction of word n-gram positions
    occupied by a repeated gram, ``1 - distinct/total`` (the
    Gopher-style duplicate-n-gram quality filter). 0.0 for unique text,
    approaching 1.0 for heavily repeated boilerplate."""
    raw = raw_shingles_expr(text, n)
    return (
        F.lit(1.0)
        - F.size(F.array_distinct(raw)).cast("double")
        / F.greatest(F.size(raw), F.lit(1)).cast("double")
    )


def repetition_profile_sql(
    toks_sql: str, lines_sql: str, text_sql: str, g2_sql: str | None = None
) -> dict[str, str]:
    """The Gopher paper's CHARACTER-fraction repetition metrics (Rae
    et al. 2021 §A1.1 Table A1) as Spark-SQL fragments over
    already-projected token/line arrays — the positional
    ``repetition_ratio_expr`` says how many gram SLOTS repeat; these
    say how much of the document's MASS is repeated text, which is
    what actually wastes training tokens:

    - ``dup_line_frac``: fraction of line positions occupied by a
      repeat of an earlier line (``1 − distinct/total``);
    - ``dup_line_char_frac``: characters in line occurrences BEYOND
      the first of each distinct line, over all line characters —
      one giant duplicated footer scores high even when few lines
      repeat;
    - ``top2gram_char_frac``: characters covered by the single most
      frequent word 2-gram (count × gram length) over the document's
      characters — the keyword-stuffing signature. 0.0 under 2 tokens.

    All three are in-row array arithmetic (map-only at any scale; the
    distinct×occurrence scans are per-document, bounded by document
    size). Engine-portable: the DuckDB oracle replicates each with
    list_transform/list_filter. Returned as SQL strings for the same
    one-parser-call reason as ``gopher_rules_sql``."""
    total_line_chars = (
        f"greatest(aggregate({lines_sql}, 0L, (a, x) -> a + length(x)), 1L)"
    )
    # callers that project the 2-gram array once (a lower select —
    # Catalyst keeps non-cheap multi-referenced projections
    # un-inlined) pass g2_sql to avoid re-deriving it per reference
    g2 = g2_sql or (
        f"CASE WHEN size({toks_sql}) >= 2 THEN "
        f"slice(zip_with({toks_sql}, "
        f"slice({toks_sql}, 2, greatest(size({toks_sql}) - 1, 1)), "
        f"(a, b) -> concat_ws(' ', a, b)), 1, size({toks_sql}) - 1) "
        "ELSE array() END"
    )
    return {
        "dup_line_frac": (
            f"ROUND(1.0D - CAST(size(array_distinct({lines_sql})) AS DOUBLE)"
            f" / CAST(greatest(size({lines_sql}), 1) AS DOUBLE), 6)"
        ),
        "dup_line_char_frac": (
            f"ROUND(CAST(aggregate(array_distinct({lines_sql}), 0L, "
            f"(a, v) -> a + (size(filter({lines_sql}, x -> x = v)) - 1)"
            f" * length(v)) AS DOUBLE)"
            f" / CAST({total_line_chars} AS DOUBLE), 6)"
        ),
        "top2gram_char_frac": (
            f"ROUND(CASE WHEN size({g2}) < 1 THEN 0.0D ELSE "
            f"CAST(aggregate(array_distinct({g2}), 0L, "
            f"(a, g) -> greatest(a, size(filter({g2}, x -> x = g))"
            f" * length(g))) AS DOUBLE)"
            f" / CAST(greatest(length({text_sql}), 1) AS DOUBLE) END, 6)"
        ),
    }


def hashed_tf_expr(
    text: Column | str, dim: int = 64, cjk: Column | None = None
) -> Column:
    """Feature-hashing (hashing-trick) term-frequency vector: each
    token lands in ``md5(token)``-derived bucket ``% dim``, and the
    vector holds per-bucket token counts as doubles — a model-free,
    deterministic text embedding (the sklearn ``HashingVectorizer`` /
    Weinberger et al. 2009 construction). md5 arithmetic (not
    ``xxhash64``) so any engine with md5 reproduces the exact vector —
    the same portability contract as ``functions/sampling.py``.

    In-row cost: one md5 per token (bucket ids are materialized ONCE
    into an int array, never recomputed per output slot), then
    ``dim`` membership counts — O(tokens x dim) integer compares,
    map-only at any corpus size. Compose with ``cosine_topk`` /
    ``semantic_dedup`` for lexical similarity without a model
    artifact.

    Bucket ids derive from the first two md5 hex chars (0..255), so
    ``dim`` must be <= 256 — a larger dim would silently leave buckets
    256..dim-1 permanently empty. Powers of two (which divide 256)
    give uniform buckets; other dims carry the usual slight modulo
    bias and are accepted but not recommended.

    ``cjk`` (round 14, typically ``is_cjk_doc_expr``) routes a row's
    terms to char tokens: an unsegmented CJK document is ONE
    whitespace token, so its unrouted vector is a single hot bucket —
    useless as a feature and degenerate for cosine similarity.
    Vectors are comparable only within one routing config (same
    portability caveat as the signature stores); existing driver
    surfaces stay word-grain, so their oracles are unchanged."""
    if not 1 <= dim <= 256:
        raise ValueError(
            f"hashed_tf_expr: dim must be in [1, 256] (got {dim}) — bucket "
            "ids come from two md5 hex chars; dims beyond 256 would leave "
            "buckets permanently empty"
        )
    base_toks = tokens_expr(text)
    if cjk is not None:
        base_toks = F.when(cjk, cjk_char_tokens_expr(text)).otherwise(
            base_toks
        )
    toks = F.filter(base_toks, lambda t: t != "")
    hexpos = lambda c: F.instr(F.lit("0123456789abcdef"), c) - 1  # noqa: E731
    # md5 is LET-BOUND per token by staging it through its own
    # transform: HOF lambda parameters are materialized values, so `h`
    # below is one md5 evaluation per token — referencing F.md5(t)
    # twice inside one lambda body is NOT reliably CSE'd by Catalyst
    # and would hash every token twice.
    md5s = F.transform(toks, lambda t: F.md5(t))
    idxs = F.transform(
        md5s,
        lambda h: (
            hexpos(F.substring(h, 1, 1)) * 16 + hexpos(F.substring(h, 2, 1))
        )
        % dim,
    )
    # LET-BINDING (the winnow_fingerprints_expr trick): referencing the
    # Python-level `idxs` expression in all `dim` output slots would
    # make Catalyst INLINE it dim times — one md5 per token PER SLOT, a
    # 64x blowup measured at 19.9 s vs 0.9 s for the sf0.1 corpus.
    # Wrapping it as a 1-element array and binding it to a lambda
    # variable evaluates the bucket ids ONCE per row; the inner slots
    # reference the bound variable.
    return F.transform(
        F.array(idxs),
        lambda ids: F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.size(F.filter(ids, lambda j: j == i)).cast("double"),
        ),
    )[0]


# decode order matters: &amp; LAST, or "&amp;lt;" would double-decode
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html_expr(text: Column | str) -> Column:
    """C4-style markup removal: drop tags (``<...>``), decode the six
    common HTML entities (``&amp;`` last so escaped entities don't
    double-decode), and collapse whitespace runs. A pure
    regexp_replace/replace chain — map-only at any corpus size, with
    patterns in the Java∩RE2 subset so the DuckDB oracle mirrors it
    exactly. (Real-world HTML extraction also drops script/style
    blocks and boilerplate; compose with ``line_dedup`` for the
    latter.)"""
    t = F.regexp_replace(_col(text), r"<[^>]*>", " ")
    for ent, rep in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# canonical license names, matched word-bounded case-insensitive. The
# detection is a KEYWORD screen (The-Stack-style permissive-license
# gating / C4-style notice filtering), not an SPDX parser: the goal is
# the curation verdict "this document carries licensing/copyright
# boilerplate", cheap enough to run on every crawl document in-row.
_LICENSE_NAMES = (
    ("cc-by", r"\bcc[- ]by(?:[- ](?:sa|nc|nd|nc[- ]sa|nc[- ]nd))?\b"),
    ("creative-commons", r"\bcreative\s+commons\b"),
    ("apache", r"\bapache\s+license\b"),
    ("mit", r"\bmit\s+licen[cs]e\b"),
    ("agpl", r"\bagpl\b"),
    ("lgpl", r"\blgpl\b"),
    ("gpl", r"\bgpl\b|\bgnu\s+(?:general|lesser)\s+public\s+licen[cs]e\b"),
    ("bsd", r"\bbsd\s+licen[cs]e\b|\b[234]-clause\s+bsd\b"),
    ("mpl", r"\bmozilla\s+public\s+licen[cs]e\b|\bmpl[- ]2\.0\b"),
    ("public-domain", r"\bpublic\s+domain\b|\bcc0\b|\bunlicen[cs]e\b"),
)
_COPYRIGHT_RE = r"(?i)(©|\(c\)\s*(19|20)\d{2}|\bcopyright\b\s*(©|\(c\))?\s*(19|20)\d{2})"
_RIGHTS_RE = r"(?i)\ball\s+rights\s+reserved\b"


# NFKC width-fold subset: the 94 fullwidth ASCII forms (U+FF01-FF5E)
# map to their ASCII originals, and the ideographic space (U+3000) to
# a plain space. CJK web text routinely carries fullwidth latin,
# digits, and punctuation (ＡＢＣ１２３！), which makes byte-exact
# dedup keys, URL extraction, and number parsing silently miss —
# this is the bounded, deterministic slice of NFKC a curation
# pipeline actually needs, expressible as ONE translate() on both
# engines (full NFKC needs ICU, which neither engine exposes in-row).
_WIDTH_FROM = "".join(chr(0xFF01 + i) for i in range(94)) + "　"
_WIDTH_TO = "".join(chr(0x21 + i) for i in range(94)) + " "


def normalize_width_expr(text: Column | str) -> Column:
    """Fold fullwidth ASCII forms and the ideographic space to their
    halfwidth originals — one JVM-side ``translate`` (per-char map,
    whole-stage codegen'd, map-only anywhere). Run it BEFORE
    fingerprinting/dedup on CJK-bearing corpora so ``ＡＢＣ１２３``
    and ``ABC123`` share a key. Everything outside the mapped set
    (all CJK ideographs/kana/hangul included) passes through
    untouched."""
    return F.translate(_col(text), _WIDTH_FROM, _WIDTH_TO)


def normalize_width_sql(col: str) -> str:
    """DuckDB twin of :func:`normalize_width_expr`, GENERATED from the
    same character tables (DuckDB's ``translate`` has identical
    per-char-map semantics)."""
    frm = _WIDTH_FROM.replace("'", "''")
    to = _WIDTH_TO.replace("'", "''")
    return f"translate({col}, '{frm}', '{to}')"


def blocked_terms_flags_expr(
    text: Column | str,
    terms: tuple[str, ...],
    max_hit_frac: float = 0.0,
) -> Column:
    """Blocked-terms screening — the C4-style "bad words" content
    gate (Raffel et al. 2020 drop any page containing a word from a
    public blocklist; RefinedWeb and friends keep the same stage with
    tuned lists). The repo ships the MECHANISM, not a list: ``terms``
    is caller-supplied (e.g. the public LDNOOBW lists), because the
    right list is a policy decision per corpus and jurisdiction.

    Matching: single-word terms match whole lowered whitespace tokens
    stripped of leading/trailing punctuation (``"Spam!"`` hits
    ``spam`` — C4 matches words, not substrings, so ``class`` never
    hits ``ass``); multi-word terms match as word-bounded lowered
    phrases. Returns ``struct(n_hits, hit_frac, first_term,
    blocked)`` — ``blocked`` when the hit fraction of tokens exceeds
    ``max_hit_frac`` (the default 0.0 is C4's any-hit-drops rule; a
    small positive value tolerates incidental mentions, the
    RefinedWeb-style relaxation). Pure in-row Column algebra
    (membership over a literal array + bounded rlikes), map-only at
    any corpus size; the DuckDB twin is GENERATED from the same terms
    (:func:`blocked_terms_sql`)."""
    if not terms:
        raise ValueError("blocked_terms_flags_expr needs a non-empty list")
    t = _col(text)
    words = [w for w in terms if " " not in w]
    phrases = [w for w in terms if " " in w]

    def _phrase_pat(p: str) -> str:
        return (
            r"\b"
            + r"\s+".join(re.escape(w) for w in p.lower().split())
            + r"\b"
        )

    # Round 16 (optimization): the stripped-token array and the hit
    # count are LET-BOUND (the _grams_from_tokens pattern). The token
    # array (split + a per-token regexp strip) was referenced by the
    # size, the membership filter, AND once per single-word term in the
    # first-match chain; `hits` (which embeds the CodegenFallback
    # filter) fed three struct fields. Each reference re-evaluated its
    # whole subtree — ~(|terms|+2) tokenize passes per row where one
    # suffices. Values identical.

    toks_val = F.transform(
        tokens_expr(t),
        lambda w: F.regexp_replace(w, r"^[^\w]+|[^\w]+$", ""),
    )

    def _build(toks: Column) -> Column:
        nw = F.greatest(F.size(toks), F.lit(1))
        low = F.lower(t)
        hits_val = F.lit(0)
        if words:
            wl = F.array(*[F.lit(w.lower()) for w in words])
            hits_val = F.size(
                F.filter(toks, lambda w: F.array_contains(wl, w))
            )
        for p in phrases:
            hits_val = hits_val + F.regexp_count(low, F.lit(_phrase_pat(p)))
        # first matching term in DECLARATION order across the WHOLE
        # list — one when-chain mixing word-membership and phrase tests
        # (a word declared after a phrase must NOT outrank it)
        first = F.lit(None).cast("string")
        for term in reversed(terms):
            cond = (
                F.regexp_count(low, F.lit(_phrase_pat(term))) > 0
                if " " in term
                else F.array_contains(toks, F.lit(term.lower()))
            )
            first = F.when(cond, F.lit(term)).otherwise(first)

        def _fields(hits: Column) -> Column:
            frac = hits.cast("double") / nw.cast("double")
            return F.struct(
                hits.cast("long").alias("n_hits"),
                F.round(frac, 6).alias("hit_frac"),
                first.alias("first_term"),
                (frac > F.lit(float(max_hit_frac))).alias("blocked"),
            )

        return _let(hits_val, _fields)

    return _let(toks_val, _build)


def blocked_terms_sql(
    col: str, terms: tuple[str, ...], max_hit_frac: float = 0.0
) -> dict[str, str]:
    """DuckDB restatement of :func:`blocked_terms_flags_expr`,
    GENERATED from the same term list (the license_flags_sql
    one-rule-source pattern). Fragments keyed ``n_hits`` /
    ``hit_frac`` / ``blocked`` over text column ``col``."""
    if not terms:
        raise ValueError("blocked_terms_sql needs a non-empty list")
    words = [w for w in terms if " " not in w]
    phrases = [w for w in terms if " " in w]
    toks = (
        f"list_transform(regexp_split_to_array(lower(trim({col})), "
        "'\\s+'), w -> regexp_replace(regexp_replace(w, '^[^\\w]+', ''),"
        " '[^\\w]+$', ''))"
    )
    nw = f"greatest(len({toks}), 1)"
    parts = []
    if words:
        wl = "[" + ", ".join(f"'{w.lower()}'" for w in words) + "]"
        parts.append(
            f"len(list_filter({toks}, w -> list_contains({wl}, w)))"
        )
    for p in phrases:
        pat = '\\s+'.join(re.escape(w) for w in p.lower().split())
        parts.append(
            f"len(regexp_extract_all(lower({col}), '\\b{pat}\\b'))"
        )
    hits = "(" + " + ".join(parts) + ")"
    frac = f"(CAST({hits} AS DOUBLE) / CAST({nw} AS DOUBLE))"
    return {
        "n_hits": f"CAST({hits} AS BIGINT)",
        "hit_frac": f"ROUND({frac}, 6)",
        "blocked": f"({frac} > CAST({max_hit_frac!r} AS DOUBLE))",
    }


def license_flags_expr(
    text: Column | str, lowered: Column | None = None
) -> Column:
    """License/copyright screening flags — the corpus-curation stage
    that gates redistribution-sensitive documents (the code-corpus
    permissive-license screen and the web-corpus notice filter), as
    ONE in-row struct:

    - ``has_copyright``: a dated copyright mark (``© 2021``,
      ``Copyright (c) 1999``) appears;
    - ``rights_reserved``: an "all rights reserved" clause appears;
    - ``license_name``: the FIRST canonical license family matched
      (priority order: the specific before the generic — ``cc-by``
      before ``creative-commons``, ``agpl``/``lgpl`` before ``gpl``),
      NULL when none;
    - ``has_license``: any family matched;
    - ``license_ok``: the ONE curation-gate rule (drop rights-reserved
      marks and copyright notices carrying no recognized license
      family) — centralized here so the batch pipeline, the streaming
      twin, and the SQL oracle (``license_flags_sql``) all read the
      same formula.

    Pure regex over the lowered text (Java∩RE2 subset — the PII /
    weburl precedent, so a SQL oracle can restate it verbatim);
    map-only at any scale. A KEYWORD screen, not an SPDX parser:
    mentions of a license in prose flag too — the right bias for a
    curation gate, where false positives route to review and false
    negatives leak restricted text into training.

    ``lowered`` optionally substitutes the STAGED ``lower(text)`` (the
    staging contract above)."""
    raw = F.col(text) if isinstance(text, str) else text
    t = F.lower(raw) if lowered is None else lowered
    name = F.lit(None).cast("string")
    for canon, pat in reversed(_LICENSE_NAMES):
        name = F.when(t.rlike(pat), F.lit(canon)).otherwise(name)
    hc = raw.rlike(_COPYRIGHT_RE)
    rr = raw.rlike(_RIGHTS_RE)
    return F.struct(
        hc.alias("has_copyright"),
        rr.alias("rights_reserved"),
        name.alias("license_name"),
        name.isNotNull().alias("has_license"),
        (~(rr | (hc & name.isNull()))).alias("license_ok"),
    )


def license_flags_sql(col: str) -> dict[str, str]:
    """DuckDB restatement of :func:`license_flags_expr`, GENERATED from
    the same pattern tables (the psl.py ``registered_domain_sql``
    precedent): a rule divergence between engine and oracle is
    structurally impossible because both compile from ``_LICENSE_NAMES``
    / ``_COPYRIGHT_RE`` / ``_RIGHTS_RE``. The patterns live in the
    Java∩RE2 subset, so the strings embed verbatim. Returns SQL
    fragments keyed ``has_copyright`` / ``rights_reserved`` /
    ``license_name`` / ``license_ok`` over the text column ``col``
    (``license_ok`` is the curation gate: drop rights-reserved marks
    and copyright notices that carry no recognized license family)."""
    name = (
        "(CASE "
        + " ".join(
            f"WHEN regexp_matches(lower({col}), '{pat}') THEN '{canon}'"
            for canon, pat in _LICENSE_NAMES
        )
        + " ELSE NULL END)"
    )
    hc = f"regexp_matches({col}, '{_COPYRIGHT_RE}')"
    rr = f"regexp_matches({col}, '{_RIGHTS_RE}')"
    return {
        "has_copyright": hc,
        "rights_reserved": rr,
        "license_name": name,
        "license_ok": f"(NOT ({rr} OR ({hc} AND {name} IS NULL)))",
    }


# ---------------------------------------------------------------------------
# Main-content extraction (jusText-style, Pomikálek 2011): block-level
# boilerplate removal — the real-curation upgrade over the whole-page
# strip_html_expr, which keeps nav/footer/cookie-bar text glued to the
# content. Shared constants drive BOTH the Spark expression and the
# generated DuckDB restatement (the license_flags_sql / PSL pattern:
# one rule source, two dialects, provably no drift).
# ---------------------------------------------------------------------------

# block-level HTML elements: a tag open/close of any of these ends the
# current text block (inline tags — <a>, <b>, <span> — do NOT split)
_JT_BLOCK_SPLIT = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
    r"blockquote|pre|article|section|header|footer|nav|aside|figure|"
    r"figcaption|form|fieldset|main|hr|br)\b[^>]*>"
)
_JT_ANCHOR = r"(?is)<a\b[^>]*>(.*?)</a>"
# script/style CONTENT and comments are invisible text — they must
# vanish BEFORE block splitting or a JS/CSS blob becomes a "block"
# that can ride context inheritance into the extracted text
_JT_INVISIBLE = (
    r"(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>|<!--.*?-->"
)
# integer-exact thresholds (hash-stable across engines): a block is
# boilerplate when anchor text is > 1/3 of its text (3*alen > n), and
# content when it is >= min_len chars with a stopword share >=
# stop_tenths/10 (10*nstop >= stop_tenths*nw) — the jusText defaults
# quantized to integers; stop_tenths is TUNABLE like jusText's
# stopword-density params (an 18-word stopword list undercounts real
# jusText lists ~10x, so corpora scored with it sit lower)
_JT_MIN_LEN = 80
_JT_STOP_TENTHS = 3
# CJK char-grain gate (round 13): a stopWORD share is structurally
# zero for unsegmented scripts, so CJK-routed documents classify a
# block `good` when it is >= 40 chars with >= 3/10 CJK-script
# characters ("is this CJK prose at all" — the jusText-for-Chinese
# adaptation; 40 CJK chars carry roughly the information of 80 latin
# chars, one han char ~ one morpheme)
_JT_MIN_LEN_CJK = 40
_JT_CJK_TENTHS = 3


def stopwords_for_lang_expr(
    lang: Column | str,
    tables: "dict[str, tuple[str, ...]] | None" = None,
    default: str = "en",
) -> Column:
    """``array<string>`` stoplist selected IN-ROW by a language column
    (``lang_id_expr``'s output), falling back to ``default`` for
    unmodeled languages and 'und' — the routing column the jusText
    density gate takes so one block pass classifies a multilingual
    corpus with the right function words per document. A 5-way
    when-chain over literal arrays: constant-folded, codegen'd, zero
    joins. Stage the RESULT as a named column below the block pass
    (the SPARK-36718 staging every multi-referenced projection gets)
    so it evaluates once per document, not once per word."""
    tables = STOPWORDS_BY_LANG if tables is None else tables
    lc = _col(lang)
    out = F.array(*[F.lit(s) for s in tables[default]])
    for code, words in tables.items():
        if code == default:
            continue
        out = F.when(
            lc == code, F.array(*[F.lit(s) for s in words])
        ).otherwise(out)
    return out


def stopwords_for_lang_sql(
    lang_sql: str,
    tables: "dict[str, tuple[str, ...]] | None" = None,
    default: str = "en",
) -> str:
    """DuckDB twin of :func:`stopwords_for_lang_expr`: a CASE over
    list literals keyed by the language SQL fragment ``lang_sql`` —
    GENERATED from the same tables, so the two engines route
    identically."""
    tables = STOPWORDS_BY_LANG if tables is None else tables

    def lst(words: tuple[str, ...]) -> str:
        return "[" + ", ".join(f"'{w}'" for w in words) + "]"

    whens = " ".join(
        f"WHEN ({lang_sql}) = '{code}' THEN {lst(words)}"
        for code, words in tables.items()
        if code != default
    )
    return f"(CASE {whens} ELSE {lst(tables[default])} END)"


def main_text_expr(
    html: Column | str,
    min_len: int = _JT_MIN_LEN,
    stop_tenths: int = _JT_STOP_TENTHS,
    stopwords: "tuple[str, ...] | Column" = STOPWORDS_EN,
    cjk: "Column | None" = None,
    min_len_cjk: int = _JT_MIN_LEN_CJK,
    cjk_tenths: int = _JT_CJK_TENTHS,
) -> Column:
    """Extracted MAIN content of an HTML document — jusText-style
    block classification (Pomikálek 2011, simplified), entirely in-row
    Column algebra (map-only at any corpus size, no UDF):

    1. erase invisible content (``<script>``/``<style>`` bodies and
       HTML comments — a JS blob must not become a classifiable
       block), then split at block-level tags (inline markup stays
       inside blocks);
    2. per block: strip tags/entities, then classify on integer-exact
       stats — ``bad`` when anchor text exceeds 1/3 of the block's
       text (nav bars, footers, related-links), ``good`` when >=
       ``min_len`` chars with a >= 3/10 stopword share (prose),
       ``short`` otherwise;
    3. one context pass: a ``short`` block becomes ``good`` when an
       adjacent block classified ``good`` in pass 2 (captions and
       single-sentence paragraphs ride their surrounding prose) —
       ONE bounded pass, not jusText's fixpoint iteration, documented
       simplification;
    4. the ``good`` blocks' text joined with single spaces.

    Empty blocks (pure markup) are dropped before classification so
    adjacency means VISIBLE adjacency. Returns '' when nothing
    classifies good. The DuckDB twin ``justext_sql`` is generated from
    the same constants.

    ``stopwords`` takes a tuple (one fixed list) OR a Column —
    typically ``stopwords_for_lang_expr(lang_col)`` — so the density
    gate routes per-document by language (round 12); either way the
    block pass runs once.

    ``cjk`` (round 13) is an optional BOOLEAN Column (typically
    ``lang_col.isin(*CJK_LANGS)``): blocks of a CJK-routed document
    take the char-grain gate instead of the stopword-share gate —
    ``good`` when >= ``min_len_cjk`` chars with a >= ``cjk_tenths``/10
    CJK-character share (unsegmented prose has no word tokens for a
    stoplist to hit, so without this route every real Chinese/
    Japanese/Korean content block classifies ``short`` and the
    extractor mass-drops exactly the documents a multilingual corpus
    needs). Link-density (``bad``) and the context pass apply
    identically to both routes."""
    # round 16 (optimization): st and its class array are LET-BOUND
    # (the single-element-array transform pattern — lambda parameters
    # are materialized values). The previous chained form referenced
    # `cls` inside _jt_context's PER-ELEMENT lambda (try_element_at of
    # the neighbors), so the whole strip+classify chain re-evaluated
    # O(blocks) times per document; `st` itself was re-derived by the
    # zip_with leg on top. Values are identical by construction (same
    # subexpressions, evaluated once). The staged QUERY path
    # (plans/queries.py __jt_st/__jt_cls columns) was never exposed —
    # this closes the same trap for direct API callers.

    st = _jt_blocks(
        html, stopwords, min_len, stop_tenths, cjk, min_len_cjk,
        cjk_tenths,
    )

    def _assemble(stp: Column) -> Column:
        def _join_good(clsp: Column) -> Column:
            fin = _jt_context(clsp)
            kept = F.filter(
                F.zip_with(
                    stp, fin, lambda s, c: F.when(c == "good", s["txt"])
                ),
                lambda t: t.isNotNull(),
            )
            return F.array_join(kept, " ")

        return _let(F.transform(stp, lambda s: s["cls"]), _join_good)

    return _let(st, _assemble)


def block_classes_expr(
    html: Column | str,
    min_len: int = _JT_MIN_LEN,
    stop_tenths: int = _JT_STOP_TENTHS,
    stopwords: "tuple[str, ...] | Column" = STOPWORDS_EN,
    cjk: "Column | None" = None,
    min_len_cjk: int = _JT_MIN_LEN_CJK,
    cjk_tenths: int = _JT_CJK_TENTHS,
) -> Column:
    """The per-block verdicts behind :func:`main_text_expr`, joined
    ``','`` in document order ('' for a blockless/markup-only doc) —
    the drop-reason-attribution companion (WHY did text vanish), and
    what the oracle pins class-by-class."""
    # round 16 (optimization): the class array is LET-BOUND before
    # _jt_context reads it per-element — see main_text_expr
    cls = F.transform(
        _jt_blocks(
            html, stopwords, min_len, stop_tenths, cjk,
            min_len_cjk, cjk_tenths,
        ),
        lambda s: s["cls"],
    )
    fin = F.get(F.transform(F.array(cls), lambda c: _jt_context(c)), 0)
    return F.array_join(fin, ",")


def _jt_blocks(
    html: Column | str,
    stopwords: "tuple[str, ...] | Column",
    min_len: int,
    stop_tenths: int,
    cjk: "Column | None" = None,
    min_len_cjk: int = _JT_MIN_LEN_CJK,
    cjk_tenths: int = _JT_CJK_TENTHS,
) -> Column:
    """array<struct<txt,n,cls>> of NON-EMPTY blocks with their PASS-2
    class. Classification happens inside the one block pass so the
    when() chain short-circuits: the stopword scan (the expensive
    per-block work — split + 18-way membership per word) only runs
    for blocks that already cleared the link-density and length
    gates; nav/footer/caption blocks never pay it. ``stopwords`` as
    a Column (an array<string> expression, e.g. the lang-routed
    selector) is used as-is — stage it as a named column below this
    pass so it evaluates once per document. ``cjk`` (a boolean
    Column, doc-level) switches the good-gate to char-grain CJK
    density — see :func:`main_text_expr`."""
    sw = (
        stopwords
        if isinstance(stopwords, Column)
        else F.array(*[F.lit(s) for s in stopwords])
    )

    # Round 16 (optimization): higher-order functions evaluate
    # interpreted (no codegen, no common-subexpression elimination), so
    # every REFERENCE to a Column inside a lambda re-runs its whole
    # subtree — the old single-pass form re-ran the ~9-pass strip chain
    # up to 6x per block (bad-gate n, short-gate n, the two word-array
    # reads, and both struct fields). Lambda PARAMETERS are
    # materialized once, so a pre-pass stages (txt, alen) per block and
    # the classifier reads cheap field accesses. Values are identical
    # by construction (same subexpressions, evaluated once).
    #
    # Round 17 (optimization, VERDICT item 8): the strip chain itself
    # is GATED — the tag regex only runs on blocks containing '<' (the
    # pattern cannot match without one) and the six entity replaces
    # only on text containing '&' (every entity starts with one), so a
    # plain content block pays two contains() scans + the whitespace
    # collapse instead of all ~9 passes. Both gates are semantic
    # no-ops (the skipped pass would not have changed the string), so
    # values are identical to strip_html_expr's chain — pinned by the
    # jusText suite + the text_stats/curation oracles. The gates read
    # their input several times, which is only safe on CHEAP
    # references: the staging below keeps every gated input a lambda
    # parameter or a field of one (materialized once per element).
    def _tags_stripped(x: Column) -> Column:
        # x MUST be cheap to reference (lambda param / struct field)
        return F.when(
            x.contains("<"), F.regexp_replace(x, r"<[^>]*>", " ")
        ).otherwise(x)

    def _entities_collapsed(x: Column) -> Column:
        # x MUST be cheap to reference; equals the entity+collapse
        # tail of strip_html_expr
        ent = x
        for _e, _r in HTML_ENTITIES:
            ent = F.replace(ent, F.lit(_e), F.lit(_r))
        decoded = F.when(x.contains("&"), ent).otherwise(x)
        return F.trim(F.regexp_replace(decoded, r"\s+", " "))

    def pre0(b: Column) -> Column:
        # bind the tag-stripped block AND the tag-stripped anchor join
        # as struct fields, so pre's gated entity pass reads them as
        # materialized params. The anchor join only exists when the
        # block has markup at all ('' otherwise — the anchor pattern
        # needs a '<a' tag), so the whole extraction is gated too.
        aj = F.array_join(
            F.regexp_extract_all(b, F.lit(_JT_ANCHOR), 1), " "
        )
        return F.struct(
            _tags_stripped(b).alias("t1"),
            F.when(
                b.contains("<"), F.regexp_replace(aj, r"<[^>]*>", " ")
            ).otherwise("").alias("a1"),
        )

    def pre(s: Column) -> Column:
        return F.struct(
            _entities_collapsed(s["t1"]).alias("txt"),
            F.length(_entities_collapsed(s["a1"])).alias("alen"),
        )

    # round 16 (optimization, cont.): the block LENGTH is read by every
    # gate (bad, both CJK arms, min_len) — 4 interpreted length() scans
    # per block when computed inside mk's lambda. A second staging layer
    # adds it as a struct field (lambda parameters are materialized), so
    # each gate reads a field access. Same for the stopword-density
    # gate: `filter(words) + size(words)` re-ran the whitespace SPLIT
    # twice per gate-reaching block (HOFs evaluate interpreted, no
    # subexpression reuse inside a lambda) — one aggregate() pass now
    # counts words and stopword hits together off a single split.
    def pre2(s: Column) -> Column:
        return F.struct(
            s["txt"].alias("txt"),
            F.length(s["txt"]).alias("n"),
            s["alen"].alias("alen"),
        )

    def mk(s: Column) -> Column:
        txt = s["txt"]
        n = s["n"]
        cls = F.when(3 * s["alen"] > n, F.lit("bad"))
        if cjk is not None:
            n_cjk = F.regexp_count(txt, F.lit(f"[{CJK_CLASS}]"))
            cls = cls.when(
                cjk
                & (n >= F.lit(int(min_len_cjk)))
                & (10 * n_cjk >= F.lit(int(cjk_tenths)) * n),
                F.lit("good"),
            ).when(cjk, F.lit("short"))
        # one pass: acc.s = stopword hits (== size(filter(words, hit))),
        # acc.n = word count (== size(words)) — value-identical to the
        # filter+size form the DuckDB twin restates
        stop_ok = F.aggregate(
            F.split(txt, r"\s+"),
            F.struct(F.lit(0).alias("s"), F.lit(0).alias("n")),
            lambda acc, w: F.struct(
                (
                    acc["s"]
                    + F.when(
                        F.array_contains(sw, F.lower(w)), F.lit(1)
                    ).otherwise(F.lit(0))
                ).alias("s"),
                (acc["n"] + F.lit(1)).alias("n"),
            ),
            lambda acc: 10 * acc["s"] >= F.lit(int(stop_tenths)) * acc["n"],
        )
        cls = (
            cls.when(n < F.lit(int(min_len)), F.lit("short"))
            .when(stop_ok, F.lit("good"))
            .otherwise(F.lit("short"))
        )
        return F.struct(txt.alias("txt"), n.alias("n"), cls.alias("cls"))

    visible = F.regexp_replace(_col(html), _JT_INVISIBLE, " ")
    blocks = F.split(visible, _JT_BLOCK_SPLIT, -1)
    return F.filter(
        F.transform(
            F.transform(F.transform(F.transform(blocks, pre0), pre), pre2),
            mk,
        ),
        lambda s: s["n"] > 0,
    )


def _jt_context(cls: Column) -> Column:
    """Pass-3 context inheritance. Reads PASS-2 classes (cls), so the
    result is one parallel step, independent of evaluation order —
    not a fixpoint."""
    return F.transform(
        cls,
        lambda c, i: F.when(c != "short", c).otherwise(
            F.when(
                (
                    F.coalesce(
                        F.when(i >= 1, F.try_element_at(cls, i)), F.lit("")
                    )
                    == "good"
                )
                | (F.coalesce(F.try_element_at(cls, i + 2), F.lit("")) == "good"),
                F.lit("good"),
            ).otherwise(F.lit("short"))
        ),
    )


def _jt_strip_sql(x: str) -> str:
    """DuckDB scalar restatement of strip_html_expr's chain."""
    out = f"regexp_replace({x}, '<[^>]*>', ' ', 'g')"
    for ent, rep in HTML_ENTITIES:
        out = f"replace({out}, '{ent}', '{rep.replace(chr(39), chr(39)*2)}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def justext_sql(
    html_sql: str,
    min_len: int = _JT_MIN_LEN,
    stop_tenths: int = _JT_STOP_TENTHS,
    stopwords: "tuple[str, ...] | str" = STOPWORDS_EN,
    cjk: "str | None" = None,
    min_len_cjk: int = _JT_MIN_LEN_CJK,
    cjk_tenths: int = _JT_CJK_TENTHS,
) -> dict[str, str]:
    """DuckDB scalar restatements of :func:`main_text_expr` /
    :func:`block_classes_expr`, GENERATED from the same block-split /
    anchor regexes, entity table, stopword list, and integer
    thresholds the Spark expressions compile from — fragments keyed
    ``main_text`` and ``block_classes`` over the HTML-string SQL
    expression ``html_sql``. Index math uses DuckDB's NULL-on-
    out-of-range list indexing where Spark needs try_element_at —
    same values, dialect-local safety.

    ``stopwords`` as a STRING is used verbatim as the DuckDB list
    expression — pass ``stopwords_for_lang_sql(...)`` for the
    lang-routed gate (round 12); a tuple compiles to one literal
    list. ``cjk`` as a boolean SQL expression (doc-level — e.g.
    ``"JLANG IN ('zh','ja','ko')"``) enables the char-grain CJK gate
    arms, mirrored from the Spark expression (round 13)."""
    sw = (
        stopwords
        if isinstance(stopwords, str)
        else "[" + ", ".join(f"'{w}'" for w in stopwords) + "]"
    )
    anchor = _JT_ANCHOR.replace("'", "''")
    split = _JT_BLOCK_SPLIT.replace("'", "''")
    invis = _JT_INVISIBLE.replace("'", "''")
    words = f"regexp_split_to_array(s.txt, '\\s+')"
    st = (
        f"list_filter(list_transform(regexp_split_to_array("
        f"regexp_replace({html_sql}, '{invis}', ' ', 'g'), "
        f"'{split}'), b -> struct_pack("
        f"txt := {_jt_strip_sql('b')}, "
        f"alen := length({_jt_strip_sql(_q_anchor_join('b', anchor))}))), "
        "s -> length(s.txt) > 0)"
    )
    cjk_arms = ""
    if cjk is not None:
        n_cjk = f"len(regexp_extract_all(s.txt, '[{CJK_CLASS}]'))"
        cjk_arms = (
            f"WHEN ({cjk}) AND length(s.txt) >= {int(min_len_cjk)} AND "
            f"10 * {n_cjk} >= {int(cjk_tenths)} * length(s.txt) "
            "THEN 'good' "
            f"WHEN ({cjk}) THEN 'short' "
        )
    # classify in a second list_transform so per-block stats derive
    # from the struct once (mirrors the Spark struct projection)
    cls = (
        f"list_transform({st}, s -> CASE "
        "WHEN 3 * s.alen > length(s.txt) THEN 'bad' "
        + cjk_arms
        + f"WHEN length(s.txt) >= {int(min_len)} AND "
        f"10 * len(list_filter({words}, w -> list_contains({sw}, lower(w)))) "
        f">= {int(stop_tenths)} * len({words}) THEN 'good' "
        "ELSE 'short' END)"
    )
    fin = (
        f"(SELECT CASE WHEN len(c) = 0 THEN [] ELSE "
        "list_transform(range(1, len(c) + 1), i -> "
        "CASE WHEN c[i] != 'short' THEN c[i] "
        "WHEN c[i-1] = 'good' OR c[i+1] = 'good' THEN 'good' "
        f"ELSE 'short' END) END FROM (SELECT {cls} AS c) __jc)"
    )
    # coalesce: DuckDB's array_to_string is NULL on an EMPTY list where
    # Spark's array_join is '' — same value space either way
    main = (
        "(SELECT coalesce(array_to_string(list_filter("
        "list_transform(range(1, len(f) + 1), i -> "
        "CASE WHEN f[i] = 'good' THEN t[i].txt END), x -> x IS NOT NULL), ' '), '') "
        f"FROM (SELECT {fin} AS f, {st} AS t) __jm)"
    )
    return {
        "main_text": main,
        "block_classes": (
            "(SELECT coalesce(array_to_string(f, ','), '') "
            f"FROM (SELECT {fin} AS f) __jb)"
        ),
    }


def _q_anchor_join(b: str, anchor_escaped: str) -> str:
    return (
        f"array_to_string(regexp_extract_all({b}, '{anchor_escaped}', 1), ' ')"
    )
