"""SQL-callable faces of the text/curation library (B1 × B25).

Spark 4 SQL scalar UDFs (``CREATE FUNCTION ... RETURN <expr>``) are
EXPRESSION-backed: the body inlines into the calling plan at analysis
time, so these run in whole-stage codegen exactly like their DataFrame
twins in ``functions.text`` — no Python, no serialization boundary.
Registering them makes the pure-SQL entry point (``engine.sql``,
``spark.sql``) self-sufficient for corpus work::

    SELECT doc_id, etl_token_count(text) AS n_tokens
    FROM documents WHERE etl_quality_len(text)

Definitions MUST stay in lockstep with the DataFrame functions; the
test suite asserts value equality between each pair over the corpus.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# lowercased whitespace words, spelled as text.tokens_col spells them:
# array_remove is a codegen expression, where a filter lambda would be
# evaluated interpreted, one closure call per word
_WORDS = r"array_remove(split(lower(s), '\\s+'), '')"

# token pattern mirrors text.TOKEN_PATTERN; normalization mirrors
# text.normalize_text_col; fingerprints mirror text.fingerprint_col /
# rolling_fingerprint_col (same modulus)
_DEFINITIONS: dict[str, str] = {
    "etl_token_count": (
        "(s STRING) RETURNS INT RETURN "
        "size(regexp_extract_all(s, '[A-Za-z0-9_]+', 0))"
    ),
    "etl_word_count": f"(s STRING) RETURNS INT RETURN size({_WORDS})",
    "etl_normalize_text": (
        "(s STRING) RETURNS STRING RETURN "
        r"trim(regexp_replace(regexp_replace(lower(s),"
        r" '[^a-z0-9\\s]', ' '), '\\s+', ' '))"
    ),
    "etl_fingerprint": "(s STRING) RETURNS BIGINT RETURN xxhash64(s)",
    "etl_rolling_fingerprint": (
        "(s STRING) RETURNS BIGINT RETURN "
        "aggregate(split(s, ''), CAST(0 AS BIGINT), "
        "(acc, ch) -> (acc * 31 + coalesce(ascii(ch), 0)) % 1000000007)"
    ),
    "etl_punct_ratio": (
        "(s STRING) RETURNS DOUBLE RETURN "
        r"CASE WHEN length(s) > 0 THEN "
        r"(length(s) - length(regexp_replace(s, '[^\\w\\s]', ''))) / CAST(length(s) AS DOUBLE) "
        "ELSE 0.0 END"
    ),
    "etl_word_shingles": (
        "(s STRING, n INT) RETURNS ARRAY<STRING> RETURN "
        f"CASE WHEN size({_WORDS}) < n "
        "THEN CAST(array() AS ARRAY<STRING>) ELSE array_distinct(transform("
        f"sequence(1, size({_WORDS}) - (n - 1)), "
        f"i -> array_join(slice({_WORDS}, i, n), ' '))) END"
    ),
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the ``etl_*`` SQL function library on this session
    (idempotent — CREATE OR REPLACE). Returns the registered names."""
    for name, body in _DEFINITIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
    return sorted(_DEFINITIONS)
