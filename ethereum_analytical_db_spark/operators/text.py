"""Text-analysis operators for large-scale training-data pipelines:
tokenization stats, quality signals, language-ID heuristic, document
fingerprinting. All pure Column expressions (JVM-side, codegen) — no
Python in the hot path, so they scale linearly with input splits.

Tokenization is a single-space split throughout: deterministic, locale
independent, and reproducible in any ANSI engine (the DuckDB oracle
mirrors it with string_split).

Perf note: every operator here takes either the raw text column or a
pre-split words-array column. Callers on the hot path should project
``split(text, ' ')`` ONCE and pass the array — element accesses and
higher-order lambdas over an array column are cheap, whereas repeating
``split(text, ' ')[i]`` inside a ``transform`` re-tokenizes the document
for every element (O(words²) work; measured 20-40× slowdown at sf0.1).
"""

from __future__ import annotations

import re
from collections.abc import Mapping
from types import MappingProxyType

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import app_cache

# deterministic marker vocabularies for the language-ID heuristic; a
# read-only constant, since the memoised lang-ID tree is built from it
LANG_MARKERS: Mapping[str, tuple[str, ...]] = MappingProxyType({
    "en": ("the", "a", "value", "row"),
    "de": ("der", "und", "nicht", "table"),
    "fr": ("le", "et", "pas", "join"),
    "es": ("el", "que", "los", "query"),
    "zh": ("de5", "shi4", "bu4", "merge"),
})


def words(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(text)).cast("long")


def stopword_count(text: Column | str, stopwords: list[str]) -> Column:
    ws = words(text)
    return F.size(F.filter(ws, lambda w: w.isin(stopwords))).cast("long")


def stopword_ratio(text: Column | str, stopwords: list[str]) -> Column:
    return stopword_count(text, stopwords).cast("double") / token_count(text).cast(
        "double"
    )


def repetition_ratio(text: Column | str) -> Column:
    """Duplicated-word fraction: 1 − distinct_words/words. The standard
    cheap repetition filter for pretraining corpora (boilerplate and
    keyword-stuffed pages score high). Exact-integer division + one
    subtraction → bit-identical in any IEEE engine."""
    ws = words(text)
    return F.lit(1.0) - F.size(F.array_distinct(ws)).cast("double") / F.size(ws).cast(
        "double"
    )


def non_alpha_chars(text: Column | str) -> Column:
    """Count of characters outside [a-z0-9 ] — a punctuation/noise signal."""
    text = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(text, "[a-z0-9 ]", "")).cast("long")


def mean_word_length(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    n = token_count(text)
    # total chars minus separators, over word count
    return (F.length(text) - (n - F.lit(1))).cast("double") / n.cast("double")


def lang_scores_from_words(ws: Column) -> dict[str, Column]:
    """Marker-word hit count per language over a pre-split words array
    (n-gram heuristic simplified to unigram markers — the structure
    generalizes to char n-grams)."""
    def marker_count(markers: tuple[str, ...]) -> Column:
        # NB: the lambda must be unary — F.filter inspects arity and
        # would pass the element index into a second parameter
        return F.size(F.filter(ws, lambda w: w.isin(*markers))).cast("long")

    return {lang: marker_count(ms) for lang, ms in LANG_MARKERS.items()}


def lang_scores(text: Column | str) -> dict[str, Column]:
    return lang_scores_from_words(words(text))


def _marker_regex(markers: tuple[str, ...]) -> str:
    """Regex counting space-delimited tokens equal to any marker —
    identical counts to filtering ``split(text, ' ')`` by membership
    (the trailing delimiter is a lookahead, so consecutive marker
    tokens each match)."""
    alt = "|".join(re.escape(m) for m in markers)
    return f"(?:^| )(?:{alt})(?= |$)"


def lang_scores_from_text(text: Column | str) -> dict[str, Column]:
    """Marker hit counts via ``regexp_count`` on the raw text — stays in
    whole-stage codegen, unlike the array higher-order-function form
    (``F.filter`` lambdas are interpreted expressions; at sf0.1 the HOF
    argmax was the single most expensive part of the lang-ID query)."""
    text = F.col(text) if isinstance(text, str) else text
    return {
        lang: F.regexp_count(text, F.lit(_marker_regex(ms))).cast("long")
        for lang, ms in LANG_MARKERS.items()
    }


def _argmax_lang(scores: dict[str, Column]) -> Column:
    """argmax of lang scores with deterministic tie-break by language
    order en > de > fr > es > zh (ties fall to the earlier language).

    Implemented as array_max over (score, -position) structs so every
    score expression is evaluated exactly once — a nested CASE argmax
    re-evaluates each score inside every branch, which blows the
    expression tree up exponentially in the number of languages.
    """
    langs = list(LANG_MARKERS.keys())
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    scores[lang].alias("score"),
                    F.lit(-i).alias("neg_pos"),
                )
                for i, lang in enumerate(langs)
            ]
        )
    )
    # struct ordering: max score first; on ties max(-pos) = earliest lang
    return F.element_at(
        F.array(*[F.lit(lang) for lang in langs]), -best["neg_pos"] + 1
    )


def predicted_lang_from_words(ws: Column) -> Column:
    return _argmax_lang(lang_scores_from_words(ws))


def predicted_lang_from_text(text: Column | str) -> Column:
    """Codegen path: regexp marker counts on raw text, no array HOFs."""
    return _argmax_lang(lang_scores_from_text(text))


@app_cache
def _predicted_lang_named(col_name: str) -> Column:
    """The lang-ID argmax tree over a NAMED column, built once per
    (SparkContext, name): the 5-language regexp_count + struct-argmax tree
    costs ~51 ms of py4j construction (measured r17) and is a pure
    function of the column name — Columns are immutable unresolved
    trees, so one instance resolves against every plan. Guide §7.3."""
    return predicted_lang_from_text(F.col(col_name))


def predicted_lang(text: Column | str) -> Column:
    if isinstance(text, str):
        return _predicted_lang_named(text)
    return predicted_lang_from_text(text)


def bag_of_words_fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    word set. Detects shuffled/duplicated-content docs."""
    ws = F.array_sort(F.array_distinct(words(text)))
    return F.md5(F.array_join(ws, " "))


def content_fingerprint(text: Column | str) -> Column:
    """Exact content fingerprint (normalized-case md5)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(text))


def remove_duplicate_lines(text: Column | str, sep: str = "\n") -> Column:
    """C4-style within-document repetition removal: drop every line
    whose exact text already appeared earlier in the SAME document,
    preserving first-occurrence order (the standard cleanup for
    boilerplate/navigation lines repeated through a page).

    Pure Column expression — ``array_position`` finds each line's first
    occurrence index, a positional filter keeps only those. Per-doc cost
    is O(lines²) string compares inside codegen; documents have tens to
    hundreds of lines, so this stays far below the per-doc tokenize
    work, and nothing shuffles (narrow projection).

    ``sep`` is a literal separator: ``F.split`` takes a Java regex while
    ``array_join`` takes a literal, so the split pattern is
    ``\\Q…\\E``-quoted to keep the two sides consistent for
    metacharacter separators (``|``, ``.``, …)."""
    text = F.col(text) if isinstance(text, str) else text
    # java.util.regex quoting; a sep containing the closing \E itself is
    # escaped by splitting the quote around it
    pat = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = F.split(text, pat)
    kept = F.filter(lines, lambda x, i: F.array_position(lines, x) == i + 1)
    return F.array_join(kept, sep)


def top_ngram_share(
    df, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
):
    """(id, top_ngram_share): occurrence share of the single most
    frequent word n-gram per document — the Gopher-style repetition
    filter (a doc whose top 2-gram covers a large fraction of its
    2-grams is boilerplate or keyword stuffing).

    DataFrame-level (needs per-doc gram counting, not a pure projection):
    explode n-grams → count per (doc, gram) → max/sum per doc. Both
    shuffles are keyed by high-cardinality doc(-gram) keys — skew-safe;
    partial aggregation compresses map-side. Docs shorter than ``n``
    words score 0.0."""

    def gram(i: Column) -> Column:
        return F.concat_ws(
            " ", *[F.element_at(F.col("_ws"), i + k + 1) for k in range(n)]
        )

    grams = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ws")
    ).select(
        F.col(id_col),
        F.when(
            F.size("_ws") >= n,
            F.transform(F.sequence(F.lit(0), F.size("_ws") - n), gram),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("grams"),
    )
    counts = grams.select(F.col(id_col), F.explode("grams").alias("g")).groupBy(
        id_col, "g"
    ).agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy(id_col).agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_ngram_share")
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("top_ngram_share"), F.lit(0.0)).alias("top_ngram_share"),
    )


def ngrams_from_words(ws: Column, n: int = 3) -> Column:
    """Distinct word n-grams from a pre-split words-array column.

    Element accesses are on the materialized array (no re-tokenization).
    Guarded for docs shorter than n words: sequence(0, -1) would
    *descend* and the out-of-bounds index would throw under ANSI mode,
    so short docs yield an empty array instead.
    """
    def gram(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(ws, i + k + 1) for k in range(n)])

    return F.when(
        F.size(ws) >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(ws) - n), gram)),
    ).otherwise(F.array().cast("array<string>"))


def ngrams_expr(text_col: str, n: int = 3) -> Column:
    """Distinct word n-grams from a named text column. Prefer
    ``ngrams_from_words`` with a pre-projected split array on hot paths."""
    return ngrams_from_words(F.split(F.col(text_col), " "), n)


# PII scrubbing (training-data hygiene pass): regex redaction of the
# high-volume identifier classes, JVM-side regexp only. The patterns are
# deliberately simple/deterministic (this is a data-pipeline scrub, not
# a compliance guarantee) and are applied most-specific-first so an
# email's host part is not half-eaten by the IP pattern.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — the tld bound keeps 'a@b' word-noise unredacted
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted quad; \b bounds stop partial matches inside longer numbers
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    # a match must be anchored by a '+' prefix, a parenthesized group, or
    # hyphen grouping — plain space-separated digit runs ('2021 2022 2023',
    # numeric table rows) are NOT phones and must survive the scrub. Three
    # RE2-compatible branches (no lookaround, so the DuckDB oracle runs the
    # identical pattern); the {6,14} span caps total match length. The
    # hyphen branch requires the standard phone grouping: a \b-anchored
    # EXACTLY-3-digit lead (date segments are 2 or 4 digits — year
    # ranges '2021-2022-2023' and dated names 'log-2023-10-05-1234'
    # must survive the scrub) ending in a 3-4 digit group.
    "phone": (
        r"\+\d[\d() -]{6,14}\d"  # +international, separator-tolerant
        r"|\(\d{2,4}\)[ -]?\d{2,4}[ -]?\d{2,4}(?:[ -]?\d{2,4})?"  # (area) form
        r"|\b\d{3}(?:-\d{2,4}){1,2}-\d{3,4}\b"  # hyphen-grouped, >=2 hyphens
    ),
}
PII_ORDER = ["email", "ipv4", "phone"]


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-class match counts on the RAW text (count before redacting:
    the email pattern consumes characters the later patterns would
    otherwise double-count)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        kind: F.regexp_count(c, F.lit(PII_PATTERNS[kind]))
        for kind in PII_ORDER
    }


def pii_scrub(text: Column | str) -> Column:
    """Redact each PII class to a typed placeholder ('[EMAIL]', '[IPV4]',
    '[PHONE]'), applied in PII_ORDER."""
    c = F.col(text) if isinstance(text, str) else text
    for kind in PII_ORDER:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return c
