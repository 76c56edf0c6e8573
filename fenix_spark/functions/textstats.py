"""Text-analysis functions for LLM-pipeline curation: token counting,
quality scoring, language-ID, as Spark Column expressions.

Scale notes: everything here is a per-row scalar expression — native
Catalyst (regexp/aggregate/transform), whole-stage-codegen'd, no
shuffle, no Python. At 100 TB these run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from fenix_spark.functions.texthash import BPE_TOKEN_RE, tokens

# Marker-word profiles for the n-gram-heuristic language ID. Real
# language ID (fastText, CLD3) needs external models; this is the
# deterministic, dependency-free analog: score = how many distinct
# marker tokens of each language appear, argmax with alphabetical
# tiebreak. Profiles use common function words per language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en": ("the", "a", "of", "and", "is", "to", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai", "you", "he"),
}

STOPWORDS: tuple[str, ...] = tuple(
    sorted({w for ws in LANG_MARKERS.values() for w in ws})
)


def ws_token_count(c: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_token_count(c: Column) -> Column:
    """BPE-ish token count: letter runs + digit runs + single
    punctuation marks — the coarse split a byte-level BPE
    pre-tokenizer makes before merges."""
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0))


def alpha_ratio(c: Column) -> Column:
    """Fraction of characters that are ascii letters."""
    return F.length(F.regexp_replace(c, "[^a-zA-Z]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def punct_ratio(c: Column) -> Column:
    """Fraction of characters that are (non-space, non-alnum) marks."""
    return F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )


def stopword_ratio(toks: Column) -> Column:
    """Fraction of tokens that are common function words — the classic
    'is this prose or noise' curation signal."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.array_intersect(F.array_distinct(toks), sw))
    # ratio over distinct tokens so both engines agree without
    # per-token membership loops
    return n_sw / F.greatest(F.size(F.array_distinct(toks)), F.lit(1))


def mean_token_len(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards prose-like alpha
    ratio, mean word length near 5, and some stopword presence;
    penalizes punctuation soup. (Gopher/C4-style rule-of-thumb
    filters, folded into one deterministic score.)

    The token array is ``let``-bound: Catalyst inlines plain expression
    references at every use site, so without the binding the regex
    tokenizer would run once per consumer (mean length, size, stopword
    intersect) instead of once per row."""
    from fenix_spark.functions.texthash import let

    def body(toks: Column) -> Column:
        # term order preserved exactly (float + is order-sensitive and
        # the DuckDB mirror adds in this same order)
        wl = mean_token_len(toks)
        wl_term = F.lit(1.0) - F.least(F.abs(wl - F.lit(5.0)) / F.lit(5.0), F.lit(1.0))
        return (
            F.lit(0.4) * alpha_ratio(text)
            + F.lit(0.3) * wl_term
            + F.lit(0.2) * F.least(stopword_ratio(toks) * F.lit(4.0), F.lit(1.0))
            + F.lit(0.1) * (F.lit(1.0) - F.least(punct_ratio(text) * F.lit(5.0), F.lit(1.0)))
        )

    return F.round(let(tokens(text), body), 6)


def lang_id(text: Column) -> Column:
    """Argmax language by marker-word overlap, alphabetical tiebreak.

    Shape matters here: the obvious fold of nested ``when``s embeds the
    running best TWICE per step (condition + otherwise), growing the
    expression tree 2^|langs|-fold, and conditional branches defeat
    Spark's subexpression elimination — the tokenizer re-ran per
    branch. Instead: ``let``-bind the distinct-token array, build the
    score vector once, and take ``array_position`` of the max (first
    position = alphabetical tiebreak, langs are sorted)."""
    from fenix_spark.functions.texthash import let

    langs = sorted(LANG_MARKERS)
    lang_arr = F.array(*[F.lit(lang) for lang in langs])

    def body(dt: Column) -> Column:
        scores = F.array(
            *[
                F.size(
                    F.array_intersect(
                        dt, F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
                    )
                )
                for lang in langs
            ]
        )
        return let(
            scores,
            lambda s: F.element_at(
                lang_arr, F.array_position(s, F.array_max(s)).cast("int")
            ),
        )

    return let(F.array_distinct(tokens(text)), body)

