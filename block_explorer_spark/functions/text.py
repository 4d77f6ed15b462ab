"""Text analysis column expressions (training-data pipeline surface).

All JVM-side (`pyspark.sql.functions` only — no Python UDFs in the
hot path): tokenization, shingles, quality metrics, language-ID
heuristics, fingerprints. Every expression here has an exact ANSI-SQL
equivalent (used by the DuckDB oracle harness), so semantics are
pinned cross-engine: split on '\\s+', lowercase via lower(), distinct
set semantics from array_distinct/array_intersect.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens of trimmed text."""
    return F.split(F.lower(F.trim(_c(col))), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the cheap len() proxy for BPE budgeting)."""
    return F.size(tokens(col))


def word_set(col: Column | str) -> Column:
    """Sorted distinct token set — basis of fingerprints and jaccard."""
    return F.array_sort(F.array_distinct(tokens(col)))


def word_set_fingerprint(col: Column | str) -> Column:
    """md5 over the sorted distinct token set: order/duplication-
    insensitive document fingerprint (bag-of-words near-dup key)."""
    return F.md5(F.concat_ws(" ", word_set(col)))


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined token windows).

    The standard shingling unit for near-dup detection: single words
    are too common under small vocabularies (document frequency ~N
    makes inverted-index joins quadratic); n-grams restore
    discriminative power. Texts shorter than n tokens yield their
    whole token sequence as one shingle.
    """
    toks = tokens(col)
    n_shingles = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_shingles),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def word_ngram_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as 64-bit hashes: xxhash64
    chained over each n-token slice (order-sensitive), array_distinct
    over the longs.

    Equivalence-class equal to `word_ngrams` (two shingles are equal
    iff their token sequences are equal, up to 64-bit hash collision)
    at a fraction of the cost: no concat_ws string build per window,
    and everything downstream — distinct, explode, shuffle, window —
    moves 8-byte longs instead of ~n-word strings. For consumers that
    only need shingle EQUALITY (df counts, set intersection sizes),
    never the shingle text. Texts shorter than n tokens hash their
    whole token sequence as one shingle, mirroring word_ngrams.
    """
    toks = tokens(col)
    n_shingles = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_shingles),
            lambda i: F.xxhash64(F.slice(toks, i, n)),
        )
    )


def digit_ratio(col: Column | str) -> Column:
    c = _c(col)
    return F.when(F.length(c) > 0, F.length(F.regexp_replace(c, r"[^0-9]", "")) / F.length(c)).otherwise(
        F.lit(0.0)
    )


def punct_ratio(col: Column | str) -> Column:
    c = _c(col)
    return F.when(
        F.length(c) > 0,
        F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", "")) / F.length(c),
    ).otherwise(F.lit(0.0))


def mean_token_len(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0).cast("double"), lambda a, t: a + F.length(t))
    return total / F.size(toks)


#: Tiny per-language stopword seed lists for the n-gram/stopword
#: language-ID heuristic. Chosen to be disjoint across languages.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "como"],
    "fr": ["le", "les", "des", "est", "dans", "pour", "une", "sur"],
    "zh": ["de5", "shi4", "zai4", "you3", "wo3", "ta1", "le5", "bu4"],
}


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Distinct stopwords of `lang` present in the text."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(word_set(col), sw))


def language_id(col: Column | str) -> Column:
    """Predicted language = argmax stopword overlap; 'und' (undetermined)
    when no list scores > 0. Ties break by fixed priority order
    en > de > es > fr > zh (strictly-greater comparisons in sequence)."""
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in ("en", "de", "es", "fr", "zh"):
        cond = hits[lang] > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, hits[lang]).otherwise(best_score)
    return best_lang


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: long enough, low digit/punct
    noise, sane mean token length. Weights fixed & documented so the
    oracle SQL can mirror them exactly."""
    n = token_count(col)
    len_ok = F.when(n >= 20, F.lit(1.0)).otherwise(n / F.lit(20.0))
    digit_pen = F.lit(1.0) - F.least(F.lit(1.0), digit_ratio(col) * 4)
    punct_pen = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(col) * 4)
    mtl = mean_token_len(col)
    mtl_ok = F.when((mtl >= 3) & (mtl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(len_ok * 0.4 + digit_pen * 0.2 + punct_pen * 0.2 + mtl_ok * 0.2, 6)


def rolling_fingerprint(col: Column | str, window: int = 8, hashf: str = "xxhash64") -> Column:
    """Winnowing-style document fingerprint: hash of each sliding
    window of `window` tokens, distinct-collected. Cheap
    content-defined signature for containment detection.

    hashf: 'xxhash64' (default — 8-byte values, the scale choice) or
    'md5' (hex strings, cross-engine reproducible for oracle checks).
    """
    toks = tokens(col)
    n_windows = F.greatest(F.size(toks) - (window - 1), F.lit(1))
    hash_fn = {"xxhash64": F.xxhash64, "md5": F.md5}[hashf]
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda i: hash_fn(F.concat_ws(" ", F.slice(toks, i + 1, window))),
        )
    )


def _all_ngrams(col: Column | str, n: int) -> Column:
    """ALL word n-grams (duplicates kept — repetition analysis needs
    the multiset, unlike word_ngrams' distinct shingle set).

    Built as zip_with over n shifted slices — O(n·L) per row. The
    obvious transform(sequence(...), i -> slice(toks, i, n)) is
    O(L²) per row (each slice rescans the array); this form is the
    linear one. Note HOFs evaluate in Catalyst's interpreted mode
    (CodegenFallback) — see repetition_signals_arrow for the
    throughput path. Texts shorter than n tokens yield one null
    gram (counts as a single distinct element — same fractions as
    the whole-sequence-shingle convention word_ngrams uses)."""
    toks = tokens(col)
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    out = F.slice(toks, 1, m)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def duplicate_ngram_fraction(col: Column | str, n: int = 1) -> Column:
    """Gopher-style repetition signal: fraction of word n-gram
    occurrences that are repeats of an earlier occurrence
    (1 - distinct/total). n=1 is the duplicate-word fraction.

    Pure array expressions over the row — no explode, no shuffle, no
    per-doc state; at 100 TB this is a map-only column like length().
    reference for the filter family: Gopher (Rae et al. 2021) §A1.1,
    C4 (Raffel et al. 2020) — repetitious documents are low-quality
    training data.
    """
    grams = _all_ngrams(col, n)
    total = F.size(grams)
    return F.when(
        total > 0, 1.0 - F.size(F.array_distinct(grams)) / total.cast("double")
    ).otherwise(F.lit(0.0))


#: PII patterns kept to RE2-compatible syntax (no lookaround) so the
#: identical pattern runs in Spark (Java regex) and DuckDB/RE2-based
#: engines: email, international-ish phone (9+ digits with separators),
#: and bare digit runs (ids, SSN-ish) as the conservative fallback.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9() .-]{7,}[0-9]",
    "digits": r"[0-9]{2,}",
}


def pii_redact(col: Column | str, kinds: tuple[str, ...] = ("email", "phone", "digits")) -> Column:
    """Redact PII-ish spans with [KIND] placeholders, applied in the
    given order (email before phone before digits, so a phone inside
    an email is not double-counted). Map-only regexp_replace chain."""
    out = _c(col)
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out


def pii_hits(col: Column | str, kind: str) -> Column:
    """Count of PII matches of one kind (regexp_count, map-only)."""
    return F.regexp_count(_c(col), F.lit(PII_PATTERNS[kind]))


def domain_of(col: Column | str) -> Column:
    """Registrable host of a URL-ish string: strips scheme, www., port,
    path/query/fragment; lowercases. Non-URL strings pass through
    lowercased-trimmed (a bare source tag is its own 'domain')."""
    c = F.lower(F.trim(_c(col)))
    return F.regexp_extract(c, r"^(?:[a-z][a-z0-9+.-]*://)?(?:www\.)?([^/:?#]+)", 1)


def repetition_signals_arrow() -> Column:
    """Arrow-vectorized fast path for the three duplicate-fraction
    signals: struct<dup_word_frac, dup_2gram_frac, dup_3gram_frac>.

    Semantics identical to duplicate_ngram_fraction(col, 1|2|3)
    (pinned by test_curation::test_arrow_matches_hof_signals). The
    HOF formulation is the SQL-expressible reference; this one is the
    throughput path: Catalyst evaluates higher-order functions in
    interpreted mode (CodegenFallback), measured ~12x slower than
    this Arrow-batched UDF on the bench corpus. Still map-only — a
    scan-and-project with zero shuffle at any scale; batches stream
    through Arrow so memory stays bounded by the batch size.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    # Replicate the SQL form split(lower(trim(text)), '\s+') EXACTLY:
    # SQL trim strips SPACES only (not tabs/newlines), and Java split
    # keeps a leading empty field — so '\ta a' tokenizes to
    # ['', 'a', 'a'] (dup_word_frac 1/3), where Python's bare
    # strip()/split() would give ['a', 'a'] (1/2). Java's \s is the
    # ASCII class [ \t\n\x0b\f\r]; Python's re \s is unicode-wide, so
    # the class is spelled out.
    _ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @pandas_udf("struct<dup_word_frac:double,dup_2gram_frac:double,dup_3gram_frac:double>")
    def _rep(texts: pd.Series) -> pd.DataFrame:
        out = []
        for t in texts:
            toks = _ws.split((t or "").strip(" ").lower())
            if not toks:
                toks = [""]  # split('') -> [''] in the SQL form
            L = len(toks)
            g2 = list(zip(toks, toks[1:])) if L >= 2 else [tuple(toks)]
            g3 = list(zip(toks, toks[1:], toks[2:])) if L >= 3 else [tuple(toks)]
            out.append(
                (
                    1.0 - len(set(toks)) / L,
                    1.0 - len(set(g2)) / len(g2),
                    1.0 - len(set(g3)) / len(g3),
                )
            )
        return pd.DataFrame(out, columns=["dup_word_frac", "dup_2gram_frac", "dup_3gram_frac"])

    return _rep
