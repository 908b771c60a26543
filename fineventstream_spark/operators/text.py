"""Text analysis operators for training-data pipelines.

All pure built-in expressions (codegen, no Python): language-ID via n-gram/
marker heuristics, quality scoring, whitespace segment counting, and
rolling-hash document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_MOD = 2_147_483_647  # < 2^31: keeps acc*33+h inside long range under ANSI

# Tiny per-language marker sets for the heuristic language-ID. Real corpora
# would use char-trigram profiles; the mechanism (score arrays, argmax) is
# identical and all JVM-side.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "de"],
    "fr": ["le", "les", "des", "est", "une"],
}

_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "on"]


def words_col(text_col) -> Column:
    return F.split(F.lower(text_col), r"\s+")


def ws_segment_count(text_col) -> Column:
    """Count of ``split(text, ' ')`` segments (single literal space — the
    form the SQL oracles use) without building the array: segments ==
    literal-space occurrences + 1. Two codegen string passes, zero
    allocation."""
    return (
        F.length(text_col) - F.length(F.replace(text_col, F.lit(" "), F.lit("")))
    ) + F.lit(1)


def lang_id(text_col) -> Column:
    """Heuristic language ID: CJK char presence → zh, else marker-word argmax
    (first-listed language wins ties, deterministic)."""
    w = words_col(text_col)
    has_cjk = F.regexp_count(text_col, F.lit(r"[一-鿿]")) > 0
    result = F.lit("und")
    best = F.lit(0)
    def _marker_score(markers):
        ma = F.array(*[F.lit(m) for m in markers])
        # single-arg lambda: a default arg would make PySpark treat it as the
        # (element, index) two-arg filter variant
        return F.size(F.filter(w, lambda t: F.array_contains(ma, t)))

    # strictly-greater comparison keeps the earliest language on ties
    for code, markers in _LANG_MARKERS.items():
        score = _marker_score(markers)
        result = F.when(score > best, F.lit(code)).otherwise(result)
        best = F.greatest(best, score)
    return F.when(has_cjk, F.lit("zh")).otherwise(result)


def stopword_ratio(text_col) -> Column:
    w = words_col(text_col)
    sw = F.array(*[F.lit(s) for s in _STOPWORDS])
    hits = F.size(F.filter(w, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(w), F.lit(1))


def punct_ratio(text_col) -> Column:
    n_punct = F.length(F.regexp_replace(text_col, r"[^.,;:!?]", ""))
    return n_punct / F.greatest(F.length(text_col), F.lit(1))


def mean_word_len(text_col) -> Column:
    w = words_col(text_col)
    total = F.aggregate(F.transform(w, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x)
    return total / F.greatest(F.size(w), F.lit(1))


def quality_score(text_col) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot, low punctuation
    noise, healthy mean word length. Deterministic arithmetic only."""
    n = F.length(text_col)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text_col) * 5, F.lit(1.0))
    mwl = mean_word_len(text_col)
    wl_score = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(0.5 * len_score + 0.3 * (1 - punct_penalty) + 0.2 * wl_score, 4)


def doc_fingerprint(text_col) -> Column:
    """Order-sensitive rolling hash over words (mod 2^31-1): equal texts →
    equal fingerprints; any word reorder/change → different w.h.p.

    The per-word hash is an md5 PREFIX (15 hex chars → < 2^60, fits a
    long under ANSI), not xxhash64, on purpose (r10): md5 is the one hash
    function Spark and DuckDB both implement bit-identically, so the whole
    fold is expressible in the oracle dialect (``list_reduce`` over
    ``string_split_regex``) and q_llm_fingerprint is VALUE-oracled instead
    of rows-only. Any word hash serves the fingerprinting semantics; this
    one buys cross-engine verifiability."""
    w = words_col(text_col)
    return F.aggregate(
        w,
        F.lit(7).cast("long"),
        lambda acc, t: (
            acc * 33
            + F.pmod(
                F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
                F.lit(_MOD),
            )
        )
        % F.lit(_MOD),
    )
