"""Text-analysis operators for a training-data pipeline.

First-class pipeline stages (task brief: language-ID, quality scoring,
token counting, document fingerprinting) — all pure built-in column
expressions (JVM, whole-stage codegen); nothing here touches Python at
runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# crude English-stopword regex for the n-gram language heuristic
_EN_STOPWORDS = r"(?i)\b(the|a|an|of|to|in|and|is|it|for|on|with)\b"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens with boundary empties removed. ``F.trim``
    strips only ASCII spaces, so splitting trimmed text still yields a
    phantom '' token when text starts or ends with \\n or \\t —
    ubiquitous in source code (trailing newline), where it would shift
    every token count and passage boundary by one. Filtering the
    empties is exact for any whitespace."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count (see ``ws_tokens``)."""
    return F.size(ws_tokens(text))


def stopword_hits(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_EN_STOPWORDS))


def language_id(text: Column) -> Column:
    """Heuristic language ID: stopword density ≥ 2/100 tokens → 'en',
    any text → 'unknown' when too short to call."""
    toks = token_count(text)
    density = stopword_hits(text).cast("double") / F.greatest(toks, F.lit(1))
    return (
        F.when(toks < 5, F.lit("unknown"))
        .when(density >= 0.02, F.lit("en"))
        .otherwise(F.lit("other"))
    )


# Per-language stopword profiles for the multi-language scorer.
# Tuple order is the TIE-BREAK order (first profile reaching the max
# density wins) — the DuckDB oracle replays the same CASE order, so
# keep them in sync (new profiles are APPENDED so existing tie
# outcomes never shift). 'code' is a source-code profile (Python-ish
# keywords), the dominant "language" of this engine's input contract.
LANGUAGE_PROFILES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("code", ("def", "import", "return", "self", "class", "lambda",
              "elif", "none", "print", "yield", "assert")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
            "mit", "für", "auf", "zu", "den", "im", "sich", "von")),
    ("fr", ("le", "la", "les", "des", "et", "est", "un", "une", "dans",
            "pour", "que", "qui", "pas", "ce", "sur", "au")),
    ("en", ("the", "a", "an", "of", "to", "in", "and", "is", "it",
            "for", "on", "with")),
    ("es", ("el", "los", "las", "una", "del", "por", "con", "como",
            "más", "pero", "sus", "está", "son", "muy")),
    ("it", ("il", "gli", "della", "delle", "nel", "sono", "anche",
            "più", "questo", "perché", "molto", "essere", "ma", "come")),
    ("pt", ("não", "uma", "você", "são", "também", "isso", "ele",
            "seu", "nos", "pelo", "mas", "como", "já", "foi")),
    ("nl", ("de", "het", "een", "van", "niet", "dat", "ik", "je",
            "maar", "zijn", "voor", "ook", "wat", "naar")),
)

# CJK script ranges for the whitespace-free-language gate: stopword
# token densities are meaningless for languages written without
# spaces, so char-class counts gate FIRST. Plain BMP ranges — the same
# literal character classes compile identically under Java regex
# (Spark) and RE2 (DuckDB), unlike \p{script=...} names, which differ.
_HAN_RE = "[一-鿿]"  # CJK Unified Ideographs
_KANA_RE = "[぀-ヿ]"  # Hiragana + Katakana
_HANGUL_RE = "[가-힯]"  # Hangul syllables


def _let(bindings: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``bindings`` (a
    struct) ONCE per row and hand it to ``body`` as a lambda variable.
    Column objects are expression TREES — referencing one twice splices
    the whole subtree twice into the plan, and Spark's subexpression
    elimination skips higher-order functions, so an array-valued
    intermediate referenced from N ``when`` branches is rebuilt N times
    per row (and bloats codegen compile time). A single-element
    ``transform`` makes the binding a real lambda variable instead."""
    return F.get(F.transform(F.array(bindings), body), 0)


def language_id_multi(text: Column, min_density: float = 0.02) -> Column:
    """Multi-language ID over broadcast-literal stopword profiles —
    pure built-in expressions (the profile arrays fold to constants in
    the plan; zero shuffle, zero UDF, DuckDB-replayable).

    A CJK char-class gate runs FIRST (these scripts use no spaces, so
    token densities are meaningless): when ≥ 30% of non-whitespace
    characters are Han/Kana/Hangul — integer cross-multiplication, no
    float division, so both engines agree bit-for-bit — the verdict is
    'ja' (any kana), else 'ko' (any hangul), else 'zh'.

    Otherwise: score = per-language stopword occurrence density over
    lowercased whitespace tokens; winner = densest profile, ties broken
    in LANGUAGE_PROFILES order. < 5 tokens → 'unknown'; max density
    below ``min_density`` → 'other'. Extends the en/other
    ``language_id`` heuristic (kept for the curation gates) to
    code/de/fr/en/es/it/pt/nl + zh/ja/ko.

    Two ``_let`` levels keep the plan linear: level 1 binds the token
    array and the CJK counts (the split and each regex run once per
    row), level 2 binds the density array (each profile filter scans
    the bound token array once); the verdict's 9 ``when`` branches then
    touch only O(1) element accesses."""
    n_profiles = len(LANGUAGE_PROFILES)

    def verdict(s2: Column) -> Column:
        dens, n_tok = s2["dens"], s2["n_tok"]
        kana, hangul = s2["kana"], s2["hangul"]
        cjk = s2["han"] + kana + hangul
        mx = F.greatest(*[dens[i] for i in range(n_profiles)])
        out = (
            F.when(
                (cjk > 0) & (cjk * 10 >= s2["n_nonspace"] * 3),
                F.when(kana > 0, F.lit("ja"))
                .when(hangul > 0, F.lit("ko"))
                .otherwise(F.lit("zh")),
            )
            .when(n_tok < 5, F.lit("unknown"))
            .when(mx < F.lit(float(min_density)), F.lit("other"))
        )
        for i, (lang, _words) in enumerate(LANGUAGE_PROFILES):
            out = out.when(dens[i] == mx, F.lit(lang))
        return out.otherwise(F.lit("other"))  # unreachable; total expression

    def score(s1: Column) -> Column:
        toks = s1["toks"]
        n_tok = F.size(toks)
        dens = F.array(*[
            F.size(F.filter(toks, lambda t: t.isin(*words))).cast("double")
            / F.greatest(n_tok, F.lit(1))
            for _lang, words in LANGUAGE_PROFILES
        ])
        return _let(
            F.struct(
                dens.alias("dens"),
                n_tok.alias("n_tok"),
                s1["han"].alias("han"),
                s1["kana"].alias("kana"),
                s1["hangul"].alias("hangul"),
                s1["n_nonspace"].alias("n_nonspace"),
            ),
            verdict,
        )

    return _let(
        F.struct(
            F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "").alias("toks"),
            F.regexp_count(text, F.lit(_HAN_RE)).alias("han"),
            F.regexp_count(text, F.lit(_KANA_RE)).alias("kana"),
            F.regexp_count(text, F.lit(_HANGUL_RE)).alias("hangul"),
            F.length(F.regexp_replace(text, r"\s", "")).alias("n_nonspace"),
        ),
        score,
    )


def quality_score(text: Column) -> Column:
    """[0, 10000] quality proxy in basis points: penalizes very short
    docs, high punctuation ratio, and low distinct-token ratio
    (boilerplate/spam markers). Integer output (floor of bp) so scores
    compare exactly across engines — decimal rounding of doubles is
    engine-dependent at .5 boundaries."""
    n_chars = F.length(text)
    toks = token_count(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1))
    distinct_ratio = F.size(F.array_distinct(ws_tokens(text))).cast(
        "double"
    ) / F.greatest(toks, F.lit(1))
    length_term = F.least(n_chars.cast("double") / 200.0, F.lit(1.0))
    score = length_term * (1.0 - punct_ratio) * (0.5 + 0.5 * distinct_ratio)
    return F.floor(score * 10000).cast("long")


def content_fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: md5 over casefolded,
    whitespace-collapsed text — catches formatting-only duplicates that
    sha256(content) misses."""
    # collapse BEFORE trim: trim strips only spaces, so leading \n/\t
    # must first become a space for the trim to remove it — otherwise
    # '\nfoo' and 'foo' fingerprint differently, which is exactly the
    # formatting-only difference this fingerprint exists to erase
    normalized = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(normalized)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(t))
        .withColumn("lang_id", language_id(t))
        .withColumn("quality", quality_score(t))
        .withColumn("fingerprint", content_fingerprint(t))
    )


def ngram_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """Exact character-n-gram Jaccard as a pure built-in expression
    (V8's SQL-expressible little sibling — used as the DuckDB-checkable
    verify oracle; the Arrow UDF in operators/verify.py is the scale
    path for long contents)."""

    def grams(c: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
                lambda i: c.substr(i, F.lit(n)),
            )
        )
    ga, gb = grams(a), grams(b)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(ga) + F.size(gb) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
