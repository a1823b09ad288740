"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, fingerprinting.

All-native Catalyst expressions (no UDFs): these run over every
document of a 100 TB corpus, so they must stay inside whole-stage
codegen. The simple counting signals (token counts, stopword ratios,
fingerprints) also exist as driver queries with DuckDB oracles
(queries.q_token_count / q_quality_stats / q_doc_fingerprint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cmoncrawl_spark.functions.scalars import portable_hash64

#: tiny per-language stopword profiles (n-gram heuristic): enough to
#: separate the languages the corpus declares; swap for fastText at
#: production (binary models aren't in this container).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "a", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "la", "los", "y", "es", "una"],
    "cs": ["a", "je", "se", "na", "to", "v"],
}


def tokens(text_col: Column) -> Column:
    return F.split(text_col, r"\s+")


def bpe_ish_token_count(text_col: Column) -> Column:
    """Sub-word-ish counting: words + punctuation clusters + digits —
    a regex approximation of BPE token counts for budget estimates."""
    return F.size(
        F.regexp_extract_all(
            text_col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
        )
    )


def lang_scores(text_col: Column) -> Column:
    """map<lang, score>: fraction of tokens matching each profile."""
    toks = tokens(F.lower(text_col))
    n = F.greatest(F.size(toks), F.lit(1))
    entries = []
    for lang, words in LANG_PROFILES.items():
        wl = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))
        entries += [F.lit(lang), (hits / n)]
    return F.create_map(*entries)


def lang_id(text_col: Column) -> Column:
    """argmax over lang_scores — pure expressions via map_entries."""
    m = F.map_entries(lang_scores(text_col))
    best = F.array_max(
        F.transform(m, lambda e: F.struct(e["value"].alias("v"), e["key"].alias("k")))
    )
    return best["k"]


def quality_signals(df: DataFrame) -> DataFrame:
    """Standard webtext quality columns of ``text`` (Gopher/C4-style
    heuristics)."""
    t = F.col("text")
    toks = tokens(t)
    n_tok = F.size(toks)
    word_lens = F.transform(toks, F.length)
    mean_wl = F.aggregate(
        word_lens, F.lit(0), lambda a, x: a + x
    ) / F.greatest(n_tok, F.lit(1))
    alpha_ratio = (
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) /
        F.greatest(F.length(t), F.lit(1))
    )
    punct_ratio = (
        F.length(F.regexp_replace(t, r"[^.!?,;:]", "")) /
        F.greatest(F.length(t), F.lit(1))
    )
    dedup_tok_ratio = F.size(F.array_distinct(toks)) / F.greatest(
        n_tok, F.lit(1)
    )
    return df.select(
        "*",
        n_tok.alias("q_n_tokens"),
        F.round(mean_wl, 4).alias("q_mean_word_len"),
        F.round(alpha_ratio, 4).alias("q_alpha_ratio"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        F.round(dedup_tok_ratio, 4).alias("q_distinct_token_ratio"),
    )


def rolling_fingerprint(toks: Column) -> Column:
    """Document fingerprint of a :func:`tokens` column: min of the
    hashes of every 8-token window (winnowing lite) — robust to local
    edits, native exprs only.

    The tokens come in as a column, not as ``tokens(text)``: the window
    lambda runs interpreted, so a split named inside it would split
    the whole text again for every window.

    Windows hash with ``functions.scalars.portable_hash64``, which
    DuckDB reproduces bit-for-bit (md5_number_lower)."""
    window = 8
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))
    win_hashes = F.transform(
        idx, lambda i: portable_hash64(F.concat_ws(" ", F.slice(toks, i, window)))
    )
    return F.array_min(win_hashes)
