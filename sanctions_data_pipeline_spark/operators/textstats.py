"""Text analysis operators: language ID, quality scoring, token
counting, fingerprinting. Pure column expressions with DuckDB mirrors.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Tiny stopword profiles for the n-gram/stopword language heuristic.
# (The synthetic corpus is English-ish word soup; the heuristic is the
# operator under test, not a linguistics claim.)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "es": ["el", "la", "de", "y", "en", "es", "por", "con", "para", "un"],
    "fr": ["le", "la", "de", "et", "est", "dans", "pour", "avec", "sur", "un"],
}

# BPE-ish token regex: letter runs, digit runs, single other glyphs
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def stopword_hits(col: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def lang_scores(col: Column) -> dict[str, Column]:
    return {lang: stopword_hits(col, lang) for lang in STOPWORDS}


def predict_lang(col: Column) -> Column:
    """argmax over stopword-profile scores, deterministic tiebreak by
    language code order; 'und' (undetermined) when all scores are 0."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    out = F.when(best == 0, "und")
    for lang in sorted(STOPWORDS):
        out = out.when(scores[lang] == best, lang)
    return out


def sql_stopword_hits(expr: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    toks = (f"string_split(trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g')), ' ')")
    return f"len(list_filter({toks}, t -> t IN ({words})))"


def sql_predict_lang(expr: str) -> str:
    scores = {lang: sql_stopword_hits(expr, lang) for lang in STOPWORDS}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in sorted(STOPWORDS))
    return f"CASE WHEN {best} = 0 THEN 'und'{whens} END"


def ws_token_count(col: Column) -> Column:
    return F.size(tokens(col))


def regex_token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_RE), F.lit(0)))


def punct_count(col: Column) -> Column:
    return F.length(col) - F.length(F.regexp_replace(col, r"[^\w\s]", ""))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the ws/lower-normalized text (both
    engines share md5); bucket prefix for partition-friendly joins."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))




def compression_audit_udf():
    """Vectorized zlib audit: per row (compress_ratio, comp_len,
    roundtrip_ok). The boolean/length lanes let an oracle-checked
    query assert REAL deflate properties (decompress(compress(x)) == x
    and the stored-block size bound) while the engine-specific ratio
    stays available for pytest value pins."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _audit(texts):
        def one(s):
            if s is None:
                return None
            raw = s.encode("utf-8")
            if not raw:
                return (1.0, 0, True)
            comp = zlib.compress(raw, 6)
            return (round(len(comp) / len(raw), 6), len(comp),
                    zlib.decompress(comp) == raw)
        return pd.DataFrame(
            [one(s) or (None, None, None) for s in texts],
            columns=["compress_ratio", "comp_len", "roundtrip_ok"])

    _audit.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(
        _audit,
        "compress_ratio double, comp_len bigint, roundtrip_ok boolean")


def adjacent_pairs(col: Column) -> Column:
    """Adjacent-token pairs of an array column as array<struct<w1,w2>>.

    Centralizes the bounds handling: arrays shorter than 2 yield an
    empty array (sequence(0, -1) would otherwise produce [0, -1] under
    Spark's step inference and index out of bounds in ANSI mode).
    """
    import pyspark.sql.functions as F

    return F.when(
        F.size(col) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(col) - 2),
                    lambda i: F.struct(F.element_at(col, i + 1).alias("w1"),
                                       F.element_at(col, i + 2).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def quality_score(text: Column) -> Column:
    """The corpus quality score, 6dp: 0.4·min(tokens/100, 1)
    + 0.3·(1 − punct_ratio) + 0.3·min(5·stopwords/tokens, 1).

    SINGLE Python source for tx_quality / tx_quality_filter /
    tx_filter_verdict (the SQL twin is plans/training_data._QSCORE) —
    the weights must change here and there together, nowhere else.
    """
    import pyspark.sql.functions as F

    n_tokens = ws_token_count(text)
    # greatest(.., 1): empty text has length 0 and ANSI division by
    # zero THROWS — an empty doc scores its length/stopword terms 0,
    # not a crashed job (n_tokens is never 0: split('') -> [''])
    n_chars = F.greatest(F.length(text), F.lit(1))
    n_punct = punct_count(text)
    n_stop = stopword_hits(text, "en")
    return F.round(0.4 * F.least(n_tokens / 100.0, F.lit(1.0))
                   + 0.3 * (1.0 - n_punct * 1.0 / n_chars)
                   + 0.3 * F.least(n_stop * 5.0 / n_tokens, F.lit(1.0)), 6)
