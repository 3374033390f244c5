"""Text analysis + dedup primitives for the training-data pipeline.

Two layers:

1. **Dual-dialect SQL builders** — fragments that parse in BOTH Spark SQL
   and DuckDB and produce bit-identical results (md5-derived 64-bit token
   hashes, shingles, jaccard, stopword counts). These power the
   oracle-checked driver queries AND run JVM-side (whole-stage codegen,
   zero Python) in the engine.
2. **Vectorized numpy kernels** (see operators/dedup.py) for the
   scale-path minhash/simhash with H=64 — one md5 per *unique* token per
   batch, then a uint64 affine hash family, instead of H md5s per token.

Cross-engine parity rules (checked against DuckDB recomputations in
tests/test_dedup_similarity.py: TestWinnowing, TestDecontaminate,
TestRepetitionStats):
- md5 hex is identical; 15 hex chars → BIGINT via Spark ``conv`` /
  DuckDB ``'0x'||`` cast — identical 60-bit values.
- ``split(text, ' ')`` and ``string_split`` both keep empty strings.
- integer + IEEE-double arithmetic is identical; transcendentals are NOT.
"""

from __future__ import annotations

# small deterministic stopword lists for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
}


def md5_bigint(expr: str, dialect: str) -> str:
    """Deterministic 60-bit hash of a string expression, identical in
    Spark and DuckDB."""
    if dialect == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def tokens(expr: str, dialect: str) -> str:
    return (
        f"split({expr}, ' ')" if dialect == "spark" else f"string_split({expr}, ' ')"
    )


def shingles(expr: str, n: int, dialect: str) -> str:
    """Distinct character n-gram set."""
    if dialect == "spark":
        return (
            f"array_distinct(transform(sequence(1, greatest(length({expr}) - {n - 1}, 1)), "
            f"i -> substring({expr}, i, {n})))"
        )
    return (
        f"list_distinct(list_transform(range(1, greatest(len({expr}) - {n - 1}, 1) + 1), "
        f"i -> substr({expr}, CAST(i AS INT), {n})))"
    )


def stopword_hits(expr: str, lang: str, dialect: str) -> str:
    """Count of tokens that are stopwords of ``lang``."""
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    if dialect == "spark":
        return f"size(filter(split({expr}, ' '), t -> t IN ({words})))"
    return f"len(list_filter(string_split({expr}, ' '), t -> t IN ({words})))"


# NOTE: language identification lives in functions/langid.py (25-lang
# Cavnar–Trenkle n-gram profiles with margin + und); the STOPWORDS
# above remain only as the quality-scoring stopword_ratio feature.


def punct_count(expr: str, dialect: str) -> str:
    return f"length(regexp_replace({expr}, '[^.!?,;:]', ''))" if dialect == "spark" else (
        f"len(regexp_replace({expr}, '[^.!?,;:]', '', 'g'))"
    )


def quality_columns(expr: str, dialect: str) -> dict[str, str]:
    """Quality-scoring feature set (SURVEY training-data ops): token
    count, mean token length, punctuation ratio, stopword ratio."""
    ntok = (
        f"size(split({expr}, ' '))" if dialect == "spark" else f"len(string_split({expr}, ' '))"
    )
    nchars = f"length({expr})" if dialect == "spark" else f"len({expr})"
    sw = stopword_hits(expr, "en", dialect)
    return {
        "n_tokens": f"CAST({ntok} AS BIGINT)",
        "mean_token_len": f"CAST({nchars} AS DOUBLE) / CAST({ntok} AS DOUBLE)",
        "punct_ratio": f"CAST({punct_count(expr, dialect)} AS DOUBLE) / CAST({nchars} AS DOUBLE)",
        "stopword_ratio": f"CAST({sw} AS DOUBLE) / CAST({ntok} AS DOUBLE)",
    }


def fingerprint(expr: str, dialect: str) -> str:
    """Document fingerprint: md5 of lowercased trimmed text (identical
    hex both engines)."""
    return f"md5(lower(trim({expr})))"


def kgram_hashes(expr: str, k: int, dialect: str) -> str:
    """Rolling word-k-gram hash array: position i → 60-bit hash of the
    k consecutive word tokens starting at i (one element per window
    position, overlapping — the rolling-hash stream that winnowing
    selects from). Docs shorter than k tokens produce one hash of the
    whole token list (both engines' slice truncates past the end the
    same way)."""
    tok = tokens(expr, dialect)
    if dialect == "spark":
        gram = f"concat_ws(' ', slice({tok}, i, {k}))"
        return (
            f"transform(sequence(1, greatest(size({tok}) - {k - 1}, 1)), "
            f"i -> {md5_bigint(gram, dialect)})"
        )
    gram = f"array_to_string(({tok})[i:i+{k - 1}], ' ')"
    return (
        f"list_transform(range(1, greatest(len({tok}) - {k - 1}, 1) + 1), "
        f"i -> {md5_bigint(gram, dialect)})"
    )


def winnow_mins(hashes: str, w: int, dialect: str) -> str:
    """Winnowing fingerprint set (Schleimer et al., SIGMOD 2003): the
    distinct minima of every length-``w`` window over the rolling
    k-gram hash stream ``hashes``. Guarantee: two documents sharing a
    run of ≥ w+k-1 identical tokens share at least one fingerprint,
    while only ~2/(w+1) of positions are retained."""
    if dialect == "spark":
        return (
            f"array_distinct(transform(sequence(1, greatest(size({hashes}) - {w - 1}, 1)), "
            f"j -> array_min(slice({hashes}, j, {w}))))"
        )
    return (
        f"list_distinct(list_transform(range(1, greatest(len({hashes}) - {w - 1}, 1) + 1), "
        f"j -> list_min(({hashes})[j:j+{w - 1}])))"
    )


# -------- augmented corpus: seeds exact + near duplicates so dedup ops
# have positive pairs; pure SQL, identical in both engines.

DOCS_AUG_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL "
    "SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^[^ ]* ', '') AS text "
    "FROM documents WHERE doc_id % 5 = 0 "
    "UNION ALL "
    "SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0"
)
