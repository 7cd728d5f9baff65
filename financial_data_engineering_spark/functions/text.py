"""Text-analysis expressions for LLM-training-data pipelines.

All pure Column expressions (JVM-side, codegen'd — no Python UDFs in the
hot path): whitespace tokenization, punctuation/stopword ratios, an n-gram
-free stopword-vote language heuristic, quality scoring, and rolling
document fingerprints. The module also exports the exact formulas as SQL
snippets so oracle queries are generated from the same constants and can't
drift from the Spark expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword votes for the language heuristic. Chosen to be
# high-frequency and (mostly) disjoint; this is a heuristic, not a model.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "that", "for", "with", "was", "this"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "dans", "pour", "que"),
    "es": ("el", "los", "las", "es", "no", "una", "por", "para", "como", "pero"),
}

PUNCT_CLASS = "[.,;:!?]"  # identical semantics in Java regex and RE2


def tokens(col: Column) -> Column:
    """THE whitespace-tokenization contract: lowercase → trim → split on
    ``\\s+``. Every token-level statistic in the repo — repeated-span
    detection and boilerplate coverage (queries/dedup.py), repetition
    flags and vocab stats (queries/curation.py), language/quality scoring
    (this module), and the shingle index feeding MinHash/Jaccard/SimHash
    (llm/dedup.py re-exports this symbol) — tokenizes through this one
    function, so their counts compose (a silent divergence would corrupt
    the boilerplate-coverage statistic, which divides span-covered tokens
    by repetition-flag-style token totals). The DuckDB twin is
    :func:`sql_tokens`; cross-engine parity is pinned by
    tests/test_llm_ops.py. Blank text tokenizes to [''] — callers that
    need 0 for blank guard on ``length(trim(col)) == 0`` (see
    :func:`token_count`)."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def sql_tokens(col: str) -> str:
    """DuckDB rendering of :func:`tokens` — oracles must tokenize with
    this exact string so the two engines can never drift."""
    return f"regexp_split_to_array(trim(lower({col})), '\\s+')"




def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return (
        F.when(F.length(F.trim(col)) == 0, F.lit(0))
        .otherwise(F.size(tokens(col)))
        .cast("int")
    )


def punct_ratio(col: Column) -> Column:
    """Punctuation characters / total characters (0.0 for empty text)."""
    stripped = F.regexp_replace(col, PUNCT_CLASS, "")
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        (F.length(col) - F.length(stripped)).cast("double") / F.length(col)
    )


def stopword_hits(col: Column, lang: str = "en") -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    toks = tokens(col)
    return (
        F.when(F.length(F.trim(col)) == 0, F.lit(0))
        .otherwise(F.size(F.filter(toks, lambda t: t.isin(*words))))
        .cast("int")
    )


def lang_score(col: Column) -> dict[str, Column]:
    """Per-language stopword vote counts."""
    return {lang: stopword_hits(col, lang) for lang in STOPWORDS}


def stopword_hits_in(toks: Column, lang: str) -> Column:
    """Stopword hits over an already-tokenized array column. No empty-text
    guard needed: blank text tokenizes to [''] and '' matches no stopword,
    so the count is 0 either way — same value as :func:`stopword_hits`."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("int")


def lang_id_from_counts(s: dict[str, Column]) -> Column:
    """Argmax language from per-language vote-count columns, fixed
    tiebreak order en>de>fr>es. Feed COLUMN REFS from a lower projection
    when the counts are expensive (each is referenced up to three times
    below — see quality_from_parts for why the layering matters)."""
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )


def lang_id(col: Column) -> Column:
    """Argmax language by stopword votes, fixed tiebreak order en>de>fr>es.

    At scale this is one pass of array intersections per row — no shuffle,
    no UDF, fully codegen'd.
    """
    return lang_id_from_counts(lang_score(col))


def quality_from_parts(toks: Column, stops: Column, praw: Column) -> Column:
    """Quality score assembled from already-computed parts (token count,
    en-stopword hits, raw punct ratio). Callers that also OUTPUT those
    parts should compute them once in a lower projection and feed the
    column refs here: Spark's CollapseProject won't merge a projection
    whose non-cheap producer expressions are referenced more than once, so
    the split/filter subtrees evaluate once per row instead of once per
    consuming output column (the interpreted higher-order filter is the
    expensive one). Arithmetic is identical to :func:`quality_score`."""
    toks = toks.cast("double")
    stop_ratio = F.when(toks > 0, stops.cast("double") / toks).otherwise(
        F.lit(0.0)
    )
    score = (
        0.35 * F.least(F.lit(1.0), toks / F.lit(20.0))
        + 0.35 * (F.lit(1.0) - F.least(F.lit(1.0), praw * 5.0))
        + 0.30 * F.least(F.lit(1.0), stop_ratio * 4.0)
    )
    return F.round(score, 4)


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0,1]: rewards length and
    stopword density, penalizes punctuation density. Deterministic closed
    form (rounded to 4dp). INTERNAL-USE ONLY for thresholds/features —
    oracle-compared outputs must use :func:`quality_e4_from_parts`:
    ``round(double, 4)`` legally differs between engines at decimal
    half-boundaries (found live at sf0.1 — doc 1507's score sits exactly
    on 0.83125 and Spark/DuckDB round it apart)."""
    return quality_from_parts(
        token_count(col), stopword_hits(col, "en"), punct_ratio(col)
    )


def int_div_half_up(num: Column, den: Column) -> Column:
    """Exact half-up integer division ``(2*num + den) div (2*den)`` of
    NONNEGATIVE long columns, wholly in integer arithmetic: operands are
    widened to DECIMAL(38,0) BEFORE the doubling (so ``2*num + den``
    cannot overflow int64 either) and the floor division is the SQL
    ``div`` operator on decimals — exact at any int64 magnitude. The
    earlier double-division formulation was exact only for numerators
    under 2^53 ~ 9e15, a ceiling a multi-MB document's e4 quality
    numerator (~1e4·chars·tokens) can cross — exactly the cross-engine
    divergence class this helper exists to eliminate."""
    n = num.cast("decimal(38,0)")
    d = den.cast("decimal(38,0)")
    return F.call_function("div", n * 2 + d, d * 2).cast("long")


def punct_counts(col: Column) -> tuple[Column, Column]:
    """(punctuation_chars, total_chars) as exact ints — the integer
    numerator/denominator behind :func:`punct_ratio`."""
    stripped = F.regexp_replace(col, PUNCT_CLASS, "")
    return (
        (F.length(col) - F.length(stripped)).cast("long"),
        F.length(col).cast("long"),
    )


def quality_e4_from_parts(
    toks: Column, stops: Column, punct: Column, chars: Column
) -> Column:
    """The quality score as an EXACT half-up e4 integer, computed wholly
    in integer arithmetic from the integer parts (token count, stopword
    hits, punct chars, total chars) — the only form safe to hash-compare
    across engines. Same definition as :func:`quality_score`:

        0.35·min(1, t/20) + 0.35·(1 − min(1, 5p/c)) + 0.30·min(1, 4s/t)

    assembled as a single rational num/den with den = c'·t'
    (c'=max(c,1), t'=max(t,1); c=0 → the punct term contributes its full
    0.35, t=0 → the stopword term contributes 0 — matching the float
    form's empty-input conventions), then rounded half-up. Max numerator
    ~1e4·c·t — within int64 for any document Spark can hold in a string
    cell, and :func:`int_div_half_up` is exact at any int64 magnitude
    (decimal widening removed the old 2^53 double-division ceiling)."""
    t = toks.cast("long")
    s = stops.cast("long")
    p = punct.cast("long")
    c = chars.cast("long")
    a_term = F.lit(175) * F.least(F.lit(20), t)
    b_num = F.when(c > 0, F.lit(3500) * (c - F.least(c, 5 * p))).otherwise(
        F.lit(3500)
    )
    b_den = F.when(c > 0, c).otherwise(F.lit(1))
    c_num = F.when(t > 0, F.lit(3000) * F.least(t, 4 * s)).otherwise(F.lit(0))
    c_den = F.when(t > 0, t).otherwise(F.lit(1))
    den = b_den * c_den
    num = a_term * den + b_num * c_den + c_num * b_den
    return int_div_half_up(num, den)


def fingerprint(col: Column) -> Column:
    """Whitespace-normalized lowercase MD5 fingerprint — the exact-dedup key."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


# ---------------------------------------------------------------------------
# SQL (DuckDB) renderings of the same formulas, for oracle generation.
# ---------------------------------------------------------------------------


def sql_token_count(col: str) -> str:
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN 0 "
        f"ELSE len(regexp_split_to_array(trim(lower({col})), '\\s+')) END"
    )


def _sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def sql_stopword_hits(col: str, lang: str = "en") -> str:
    words = _sql_in_list(STOPWORDS[lang])
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN 0 "
        f"ELSE len(list_filter(regexp_split_to_array(trim(lower({col})), '\\s+'), "
        f"t -> t IN ({words}))) END"
    )


def sql_lang_id(col: str) -> str:
    s = {lang: sql_stopword_hits(col, lang) for lang in STOPWORDS}
    return (
        f"CASE WHEN ({s['en']}) >= ({s['de']}) AND ({s['en']}) >= ({s['fr']}) "
        f"AND ({s['en']}) >= ({s['es']}) THEN 'en' "
        f"WHEN ({s['de']}) >= ({s['fr']}) AND ({s['de']}) >= ({s['es']}) THEN 'de' "
        f"WHEN ({s['fr']}) >= ({s['es']}) THEN 'fr' ELSE 'es' END"
    )


def sql_quality_e4(col: str) -> str:
    """DuckDB twin of :func:`quality_e4_from_parts` — identical integer
    rational + half-up division, so the two engines agree by arithmetic,
    not by double-rounding luck."""
    t = f"CAST({sql_token_count(col)} AS BIGINT)"
    s = f"CAST({sql_stopword_hits(col, 'en')} AS BIGINT)"
    c = f"CAST(length({col}) AS BIGINT)"
    p = (
        f"CAST(length({col}) - length(regexp_replace({col},"
        f" '{PUNCT_CLASS}', '', 'g')) AS BIGINT)"
    )
    a_term = f"(175 * least(20, {t}))"
    b_num = f"(CASE WHEN {c} > 0 THEN 3500 * ({c} - least({c}, 5 * {p})) ELSE 3500 END)"
    b_den = f"(CASE WHEN {c} > 0 THEN {c} ELSE 1 END)"
    c_num = f"(CASE WHEN {t} > 0 THEN 3000 * least({t}, 4 * {s}) ELSE 0 END)"
    c_den = f"(CASE WHEN {t} > 0 THEN {t} ELSE 1 END)"
    den = f"({b_den} * {c_den})"
    num = f"({a_term} * {den} + {b_num} * {c_den} + {c_num} * {b_den})"
    return f"CAST((2 * {num} + {den}) // (2 * {den}) AS BIGINT)"


def sql_fingerprint(col: str) -> str:
    return f"md5(regexp_replace(lower(trim({col})), '\\s+', ' ', 'g'))"


#: Bucket count for deterministic content-hash split assignment.
SPLIT_BUCKETS = 100


def content_split(col: Column, train_pct: int = 80, val_pct: int = 10) -> Column:
    """Leakage-aware deterministic train/val/test assignment.

    Buckets on the CONTENT fingerprint (first 32 md5 bits mod 100), so
    byte-identical documents always land in the same split regardless of
    id, shard, or arrival order — the property that stops train/test
    leakage through exact duplicates. Pure column expression: no RNG
    state, no shuffle, reproducible across runs and engines.
    """
    b = (
        F.conv(F.substring(fingerprint(col), 1, 8), 16, 10).cast("long")
        % SPLIT_BUCKETS
    )
    return (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )


def sql_content_split(col: str, train_pct: int = 80, val_pct: int = 10) -> str:
    b = f"(('0x' || substr({sql_fingerprint(col)}, 1, 8))::BIGINT % {SPLIT_BUCKETS})"
    return (
        f"CASE WHEN {b} < {train_pct} THEN 'train' "
        f"WHEN {b} < {train_pct + val_pct} THEN 'val' ELSE 'test' END"
    )


# BPE-style pre-tokenizer classes: letter runs, digit runs, single
# non-space symbols — the shape GPT-2-family pre-tokenizers produce before
# merges. Identical semantics in Java regex and RE2.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-pre-tokenizer matches — the training-cost estimator
    (whitespace counting under-counts punctuation-heavy text)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_PATTERN), 0)).cast("int")


def sql_bpe_token_count(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{BPE_PATTERN}'))"
