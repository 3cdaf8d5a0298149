"""Text analysis functions (driver extension x04; SURVEY.md §2.11).

All pure built-in column expressions (JVM-side, codegen'd — no UDFs), so
they hold up on 100 TB of documents: tokenization via split/regex, quality
ratios, n-gram shingles, language ID by stopword voting, BPE-ish token
counting, rolling-hash fingerprints.

Tokenizer convention shared with every consumer (dedup, lang-id, quality):
trim then split on /\\s+/ — identical semantics in DuckDB
(regexp_split_to_array(trim(x), '\\s+')) for oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny in-expression stopword lists for language voting; real deployments
# swap in full lists — the plan shape (literal arrays, no join) is the point
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "en"],
    "de": ["der", "die", "das", "und", "nicht", "ein", "ist", "zu"],
    "pt": ["o", "a", "de", "que", "e", "do", "da", "em"],
}

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text (array<string>)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def n_tokens(text: Column | str) -> Column:
    return F.size(tokens(text))


def n_unique_tokens(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def avg_token_len(text: Column | str) -> Column:
    """Mean token length = non-whitespace chars / token count (double)."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.length(F.regexp_replace(F.trim(c), r"\s+", ""))
    return chars.cast("double") / n_tokens(c)


def type_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct tokens / tokens (quality signal)."""
    return n_unique_tokens(text).cast("double") / n_tokens(text).cast("double")


def stopword_count(text: Column | str, lang: str = "en") -> Column:
    """How many tokens are in the language's marker list (with repeats)."""
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(
        F.filter(tokens(text), lambda t: F.array_contains(markers, F.lower(t)))
    )


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    return stopword_count(text, lang).cast("double") / n_tokens(text).cast("double")


def lang_id(text: Column | str) -> Column:
    """Language ID by stopword voting: argmax over per-language marker hits;
    'und' (undetermined) when no language scores a hit.  Ties break by the
    iteration order of LANG_MARKERS (stable, documented).

    Tokens and the per-language count array are let-bound
    (functions/exprs.let1): Spark expressions have no common-subexpression
    elimination, so the naive fold re-tokenized the text ~15× per row."""
    from .exprs import let1

    codes = list(LANG_MARKERS)

    def count_for(toks: Column, code: str) -> Column:
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[code]])
        return F.size(
            F.filter(toks, lambda t: F.array_contains(markers, F.lower(t)))
        )

    def pick(counts: Column) -> Column:
        best_code, best_score = F.lit("und"), F.lit(0)
        # fold left: strictly-greater keeps earlier languages on ties
        for idx, code in enumerate(codes):
            score = F.element_at(counts, idx + 1)
            is_better = score > best_score
            best_code = F.when(is_better, F.lit(code)).otherwise(best_code)
            best_score = F.when(is_better, score).otherwise(best_score)
        return best_code

    return let1(
        tokens(text),
        lambda toks: let1(
            F.array(*[count_for(toks, code) for code in codes]), pick
        ),
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic for pretraining-data filtering:
    mean of (length in [20,2000] chars), type-token ratio, and bounded
    stopword ratio — the standard cheap-signal trio."""
    c = F.col(text) if isinstance(text, str) else text
    len_ok = F.when(F.length(c).between(20, 2000), F.lit(1.0)).otherwise(F.lit(0.0))
    ttr = type_token_ratio(c)
    sw = F.least(stopword_ratio(c, "en") * 5, F.lit(1.0))
    return F.round((len_ok + ttr + sw) / 3.0, 6)


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish token estimate: count of /[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]/
    matches — the alpha/digit/punct split every BPE pre-tokenizer applies."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_ISH), 0))


def ngram_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>), distinct — the MinHash/Jaccard
    input set.  Built from transform over token offsets: no explode, no
    shuffle; one row stays one row.  The token array is let-bound so its
    n+2 references don't re-split the text (CollapseProject inlining)."""
    from .exprs import let1

    def grams_of(toks: Column) -> Column:
        count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(0), count - F.lit(1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + F.lit(k + 1)) for k in range(n)]
            ),
        )
        return F.array_distinct(
            F.when(F.size(toks) >= n, grams).otherwise(
                F.array().cast("array<string>")
            )
        )

    return let1(tokens(text), grams_of)


def rolling_fingerprint_kr(norm: Column | str, window: int = 8) -> Column:
    """Karp-Rabin rolling fingerprint: min base-31 polynomial hash over
    ``window``-CHARACTER windows of an (already normalized) string —
    engine-independent pure-integer values, reproducible in ANSI SQL.

    Character codes are Unicode CODEPOINTS (obtained vectorized via a
    UTF-32 decode), matching the oracle's per-character ``ascii(substr)``
    for any text, not just ASCII.  NULL text yields a NULL fingerprint
    (matching SQL semantics).

    Arrow-vectorized pandas UDF: per batch, each string becomes a uint32
    codepoint array; all window hashes are one sliding-window matmul
    against the power vector (numpy int64, wrap-free: max
    0x10FFFF·Σ31^j ≈ 3.1e16 < 2^63).  The expression-level alternative
    (transform + 8 substr/ascii per window) is interpreted per element by
    Spark — measured ~7x slower than this batch path at sf0.1."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    pow_vec = (31 ** np.arange(window - 1, -1, -1)).astype(np.int64)

    # no annotations: under `from __future__ import annotations` the hints
    # become strings, which pandas_udf's signature inference rejects
    @pandas_udf("long")
    def kr_min(norm_s):
        out: list[int | None] = []
        for s in norm_s:
            if not isinstance(s, str):
                out.append(None)
                continue
            a = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            if len(a) >= window:
                win = np.lib.stride_tricks.sliding_window_view(a, window)
                out.append(int((win @ pow_vec).min()))
            elif len(a) == 0:
                # SQL list_sum over an empty list is NULL
                out.append(None)
            else:
                h = 0
                for cde in a:
                    h = h * 31 + int(cde)
                out.append(h)
        return pd.Series(out, dtype=object)

    c = F.col(norm) if isinstance(norm, str) else norm
    return kr_min(c)
