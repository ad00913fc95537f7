"""Text-analysis column expressions — all native Catalyst expressions.

The text helpers take SQL text (a column name or fragment) and return
a ``Column``; only :func:`top_token_count` and :func:`portable_hash60`
take a ``Column``. Everything is a built-in Spark expression
(JVM-side, whole-stage-codegen'd); no Python UDFs in any hot path.
The reference's text surface was lowercase + split
(``src/app/wc.rs:13-18``); this module adds what a training-data
pipeline needs: token stats, quality signals, language ID, shingles,
fingerprints, and a portable 60-bit hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tokens = maximal runs of letters/digits (BPE-ish pre-tokenization
#: boundary); keep in sync with the DuckDB oracle regexes. Every
#: regex here reaches Spark as a SQL string literal through
#: :func:`_sql_regex`, the one place its backslashes are doubled.
TOKEN_SPLIT = r"[^\p{L}\p{N}]+"
#: What :func:`punct_ratio` strips: letters, digits, whitespace.
WORD_OR_SPACE = r"[\p{L}\p{N}\s]"

#: Tiny per-language marker lexicons for the n-gram/stopword
#: language-ID heuristic. Deterministic and SQL-portable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "une"),
    "de": ("der", "die", "und", "das", "ein"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")


def _sql_regex(pattern: str) -> str:
    """``pattern`` as a SQL string literal. The SQL parser unescapes
    literals (``spark.sql.parser.escapedStringLiterals=false``, pinned
    by ``session.get_spark``), so each backslash is doubled."""
    return "'" + pattern.replace("\\", "\\\\") + "'"


def tokens_sql(text: str) -> str:
    """:func:`tokens` as SQL text, for embedding into larger
    single-parse expressions."""
    return f"filter(split(lower({text}), {_sql_regex(TOKEN_SPLIT)}), t -> length(t) > 0)"


def tokens(text: str) -> Column:
    """Lowercase letter/digit tokens of ``text`` (SQL text: a column
    name or fragment), empties dropped. ONE parsed expression: the
    Column-API lambda form of the same tree costs ~20 ms of py4j
    round trips per lambda to build."""
    return F.expr(tokens_sql(text))


def token_count(text: str) -> Column:
    return F.size(tokens(text))


def _punct_ratio_sql(text: str) -> str:
    return (
        f"(CAST(length(regexp_replace({text}, {_sql_regex(WORD_OR_SPACE)}, '')) AS DOUBLE)"
        f" / CAST(greatest(length({text}), 1) AS DOUBLE))"
    )


def punct_ratio(text: str) -> Column:
    """Fraction of characters that are not letter/digit/whitespace —
    a classic boilerplate/garbage signal."""
    return F.expr(_punct_ratio_sql(text))


def _stopword_ratio_sql(text: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS)
    tk = tokens_sql(text)
    return (
        f"(CAST(size(filter({tk}, t -> t IN ({words}))) AS DOUBLE)"
        f" / CAST(greatest(size({tk}), 1) AS DOUBLE))"
    )


def stopword_ratio(text: str) -> Column:
    """Fraction of tokens that are stopwords — low values flag
    keyword-stuffed or non-linguistic text."""
    return F.expr(_stopword_ratio_sql(text))


def quality_score(text: str) -> Column:
    """Deterministic [0,1] quality heuristic: length band + stopword
    presence − punctuation noise. A stand-in for model-based quality
    classifiers; the *shape* (pure column expr, no UDF) is the point:
    it runs at scan speed over 100 TB."""
    return F.expr(
        f"round(greatest(least("
        f"(0.5D * least(CAST(size({tokens_sql(text)}) AS DOUBLE) / 64.0D, 1.0D))"
        f" + (0.5D * {_stopword_ratio_sql(text)})"
        f" - {_punct_ratio_sql(text)}, 1.0D), 0.0D), 6)"
    )


#: CASE-chain precedence for language-ID ties (first wins).
LANG_PRECEDENCE: tuple[str, ...] = ("en", "de", "es", "fr")


def lang_marker_score(text: str, lang: str) -> Column:
    """Count of marker-lexicon token hits for one language."""
    return F.size(
        F.filter(tokens(text), lambda t: t.isin(*LANG_MARKERS[lang]))
    )


def language_id(text: str) -> Column:
    """Marker-lexicon language ID: count marker-token hits per
    language; the argmax is an explicit CASE chain in
    :data:`LANG_PRECEDENCE` order (ties → earlier language), no hits
    → 'und'. The identical CASE chain is replayed by the DuckDB
    oracle. Pure expression → scan-speed at 100 TB; swap in a real
    n-gram model via pandas_udf if needed."""
    scores = {lang: lang_marker_score(text, lang) for lang in LANG_PRECEDENCE}
    expr = F.lit("und")
    for lang in reversed(LANG_PRECEDENCE):
        others = [scores[o] for o in LANG_PRECEDENCE if o != lang]
        cond = (scores[lang] > 0) & (
            scores[lang] >= F.greatest(*others) if len(others) > 1 else scores[lang] >= others[0]
        )
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def top_token_count(toks: Column) -> Column:
    """Multiplicity of the most frequent element of ``toks`` (NULL on
    an empty array, matching ``array_max``'s convention and DuckDB's
    ``list_max``).

    Sorted-run-max: sort the array, then one linear fold tracking the
    current run length and the best run — O(n log n) per document,
    replacing the naive distinct × filter scan whose O(v·n) goes
    quadratic exactly on the degenerate-repetition docs this signal
    exists to catch (a 10k-token doc with 5k distinct tokens costs
    50M comparisons naive, ~140k sorted)."""
    folded = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc.prev.isNotNull() & (acc.prev == x), acc.run + F.lit(1))
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.best,
                F.when(acc.prev.isNotNull() & (acc.prev == x), acc.run + F.lit(1))
                .otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.when(F.size(toks) > 0, folded)


def ngrams(text: str, n: int) -> Column:
    """Array of space-joined word n-grams; empty when < n tokens."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.expr("CAST(array() AS ARRAY<STRING>)")
    )


def word_shingles(text: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the MinHash/Jaccard unit."""
    return F.array_distinct(ngrams(text, n))


def portable_hash60(s: Column) -> Column:
    """Deterministic 60-bit hash portable across Spark and DuckDB:
    first 15 hex chars of md5 as a BIGINT.

    Spark:  ``cast(conv(substr(md5(s),1,15),16,10) as bigint)``
    DuckDB: ``cast('0x' || substr(md5(s),1,15) as bigint)``

    Used by MinHash/SimHash so the DuckDB oracle can replay the
    exact signatures. (Spark's native ``xxhash64`` is faster but not
    reproducible in the oracle; swap it in for production.)"""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`portable_hash60`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def fingerprint(text: str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key that survives formatting noise."""
    normalized = F.concat_ws(" ", tokens(text))
    return F.md5(normalized)
