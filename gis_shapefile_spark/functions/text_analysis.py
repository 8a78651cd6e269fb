"""Text-analysis kernels for the training-data pipeline leg of the engine.

The reference repo's text machinery is a geocoder (normalize/tokenize/
similarity — ``src/geocoding/geocoder.cpp:113-149,480-494``); a 100 TB
training-data pipeline additionally needs language-ID, quality scoring,
token counting, PII scrubbing, and the hash kernels behind MinHash
deduplication. This module provides them in the same
dual-dialect style as ``functions/cells.py``: every kernel is a SQL
expression generator parameterized by dialect (``spark`` / ``duckdb``) so
the engine's JVM-side codegen path and the DuckDB correctness oracle
compute bit-identical values.

Determinism design (the driver hash-compares Spark vs DuckDB output):

* the only string hash used anywhere is ``hash60_sql`` — the first 15 hex
  digits of md5 (a 60-bit non-negative BIGINT), identical in both engines
  (Spark ``conv(substr(md5(x),1,15),16,10)``, DuckDB ``'0x' || ...`` cast);
* MinHash permutations are ``(a*(h % P) + b) % P`` over P = 2^31-1 — pure
  64-bit integer math, no overflow (products < 2^62);
* ratios/scores appear as a fixed expression tree of IEEE double ops on
  identical inputs and are integerized (``floor(x * 10^k)``) before any
  aggregation, so results are exact integers in both engines.

Scale note: all kernels are per-row expressions inside whole-stage codegen
(no Python, no shuffle); at 10^12 rows they pipeline with the parquet scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# MinHash modulus: 2^31 - 1 (prime). h%P < 2^31, a < 2^31 => a*(h%P) < 2^62.
MINHASH_P = 2_147_483_647

# Deterministic MinHash permutation params (seeded, generated once).
_rng = np.random.RandomState(42)
MINHASH_PERMS: list[tuple[int, int]] = [
    (int(_rng.randint(1, MINHASH_P)), int(_rng.randint(0, MINHASH_P)))
    for _ in range(64)
]
del _rng

# Tiny per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Precedence on ties: en > de > fr > es (deterministic CASE).
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "les", "des", "et", "une", "est", "pour", "dans", "que", "qui"],
    "es": ["el", "los", "las", "y", "una", "es", "por", "para", "como", "pero"],
}


def _rx(pattern: str, dialect: str) -> str:
    """Regex literal for the dialect: Spark SQL string literals process
    backslash escapes (so every regex ``\\`` must be doubled in the SQL
    text); DuckDB literals are raw."""
    return pattern.replace("\\", "\\\\") if dialect == "spark" else pattern


# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------

def hash60_sql(expr: str, dialect: str = "spark") -> str:
    """60-bit non-negative BIGINT hash of a string expression (md5 prefix)."""
    if dialect == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def perm_hash_sql(h: str, a: int, b: int) -> str:
    """One MinHash permutation of a 60-bit hash (same text both dialects)."""
    return f"(({a} * (({h}) % {MINHASH_P}) + {b}) % {MINHASH_P})"


# ---------------------------------------------------------------------------
# tokenization
# ---------------------------------------------------------------------------

def tokens_sql(text: str, dialect: str = "spark") -> str:
    """Whitespace tokens of lower(trim(text)) as an array expression."""
    if dialect == "spark":
        return f"split(trim(lower({text})), '\\\\s+')"
    return f"regexp_split_to_array(trim(lower({text})), '\\s+')"


def _arr_len(arr: str, dialect: str) -> str:
    return f"size({arr})" if dialect == "spark" else f"len({arr})"


def _arr_min(arr: str, dialect: str) -> str:
    return f"array_min({arr})" if dialect == "spark" else f"list_min({arr})"


def _arr_transform(arr: str, var: str, body: str, dialect: str) -> str:
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({arr}, {var} -> {body})"


def _arr_filter(arr: str, var: str, body: str, dialect: str) -> str:
    fn = "filter" if dialect == "spark" else "list_filter"
    return f"{fn}({arr}, {var} -> {body})"


def token_hashes_sql(tokens: str, dialect: str = "spark") -> str:
    """Array of 60-bit hashes, one per token."""
    return _arr_transform(tokens, "t", hash60_sql("t", dialect), dialect)


def shingles_sql(tokens: str, n: int, dialect: str = "spark") -> str:
    """Word ``n``-gram shingles (space-joined) of a token array.

    Fewer than ``n`` tokens => empty array (guarded: Spark's
    ``sequence(1, 0)`` would count *down*, so the range is CASE-gated).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    ln = _arr_len(tokens, dialect)
    # slice+join references the token array ONCE per shingle (an
    # element_at-per-position formulation re-evaluates the tokenizer n
    # times per shingle inside the lambda — measured much slower).
    if dialect == "spark":
        body = f"concat_ws(' ', slice({tokens}, i, {n}))"
        rng = f"sequence(1, {ln} - {n - 1})"
        empty = "array()"
    else:
        body = f"array_to_string(array_slice({tokens}, i, i + {n - 1}), ' ')"
        rng = f"range(1, {ln} - {n - 1} + 1)"
        empty = "[]"
    return (
        f"(CASE WHEN {ln} >= {n} THEN "
        f"{_arr_transform(rng, 'i', body, dialect)} ELSE {empty} END)"
    )


# ---------------------------------------------------------------------------
# MinHash signatures + Hamming distance
# ---------------------------------------------------------------------------

def minhash_sql(hashes: str, perm: int, dialect: str = "spark") -> str:
    """MinHash value for permutation ``perm`` over a hash array.

    Empty input => sentinel P (so empty docs never collide with content).
    """
    a, b = MINHASH_PERMS[perm]
    permuted = _arr_transform(hashes, "h", perm_hash_sql("h", a, b), dialect)
    return f"coalesce({_arr_min(permuted, dialect)}, {MINHASH_P})"


def band_hash_sql(
    hashes: str, band: int, rows_per_band: int, dialect: str = "spark"
) -> str:
    """LSH band key: the ``rows_per_band`` MinHash values of one band,
    combined order-sensitively into a single BIGINT bucket id."""
    out = "CAST(1 AS BIGINT)"
    for r in range(rows_per_band):
        mh = minhash_sql(hashes, band * rows_per_band + r, dialect)
        out = f"((31 * {out} + {mh}) % 1000000007)"
    return out


def hamming_sql(x: str, y: str, dialect: str = "spark") -> str:
    """Hamming distance between two BIGINT signatures."""
    if dialect == "spark":
        return f"bit_count(({x}) ^ ({y}))"
    return f"bit_count(xor(CAST({x} AS BIGINT), CAST({y} AS BIGINT)))"


# ---------------------------------------------------------------------------
# language ID / quality / counting
# ---------------------------------------------------------------------------

def stopword_count_sql(tokens: str, lang: str, dialect: str = "spark") -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    hits = _arr_filter(tokens, "t", f"t IN ({words})", dialect)
    return _arr_len(hits, dialect)


def lang_id_sql(tokens: str, dialect: str = "spark") -> str:
    """Stopword-vote language ID: argmax of per-language stopword hits with
    deterministic precedence en > de > fr > es; all-zero => 'unk'."""
    cnt = {lg: stopword_count_sql(tokens, lg, dialect) for lg in STOPWORDS}
    return (
        f"(CASE WHEN {cnt['en']} + {cnt['de']} + {cnt['fr']} + {cnt['es']} = 0 THEN 'unk' "
        f"WHEN {cnt['en']} >= {cnt['de']} AND {cnt['en']} >= {cnt['fr']} AND {cnt['en']} >= {cnt['es']} THEN 'en' "
        f"WHEN {cnt['de']} >= {cnt['fr']} AND {cnt['de']} >= {cnt['es']} THEN 'de' "
        f"WHEN {cnt['fr']} >= {cnt['es']} THEN 'fr' "
        f"ELSE 'es' END)"
    )


def quality_score_sql(text: str, dialect: str = "spark") -> str:
    """Heuristic document quality in [0, 1], integerized to floor(q * 1e6).

    q = 0.25*len_score + 0.25*alpha_ratio + 0.25*(1 - punct_ratio)
      + 0.25*stopword_score, a fixed IEEE expression tree (deterministic).
    """
    toks = tokens_sql(text, dialect)
    nchars = f"length({text})"
    # regexp_replace needs the global flag in duckdb to strip every match
    g = ", 'g'" if dialect == "duckdb" else ""
    alpha = f"length(regexp_replace({text}, '[^A-Za-z]', ''{g}))"
    punct = f"length(regexp_replace({text}, '{_rx('[A-Za-z0-9' + chr(92) + 's]', dialect)}', ''{g}))"
    sw = stopword_count_sql(toks, "en", dialect)
    ntok = _arr_len(toks, dialect)
    len_score = f"least(1.0, CAST({nchars} AS DOUBLE) / 500.0)"
    alpha_ratio = f"(CAST({alpha} AS DOUBLE) / CAST(greatest({nchars}, 1) AS DOUBLE))"
    punct_ratio = f"(CAST({punct} AS DOUBLE) / CAST(greatest({nchars}, 1) AS DOUBLE))"
    sw_score = f"least(1.0, 4.0 * CAST({sw} AS DOUBLE) / CAST(greatest({ntok}, 1) AS DOUBLE))"
    q = (
        f"(0.25 * {len_score} + 0.25 * {alpha_ratio} "
        f"+ 0.25 * (1.0 - {punct_ratio}) + 0.25 * {sw_score})"
    )
    return f"CAST(floor(1000000 * {q}) AS BIGINT)"


def token_count_sql(text: str, dialect: str = "spark") -> str:
    """Whitespace token count (empty/blank text counts 0)."""
    ln = _arr_len(tokens_sql(text, dialect), dialect)
    return f"(CASE WHEN length(trim({text})) = 0 THEN 0 ELSE {ln} END)"


# PII redaction patterns, applied in precedence order: the earlier a
# pattern runs the more specific it is, so an SSN is tagged <SSN> before
# the phone pattern could eat its digit runs, and an IPv4 before the
# long-digit-run catch-all. RE2 (DuckDB) has no lookaround, so every
# pattern here is plain classes/quantifiers — valid in Java regex
# (Spark) and RE2 alike.
PII_PATTERNS = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("[0-9]{9,}", "<ID>"),
    ("\\+?[0-9][0-9(). -]{6,}[0-9]", "<PHONE>"),
]


def pii_scrub_sql(text: str, dialect: str = "spark") -> str:
    """Scrub PII from a text expression: emails, SSNs, IPv4s, phone
    numbers, and long digit runs are replaced with typed redaction tags,
    nested ``regexp_replace`` in the precedence order above. One pass of
    codegen'd string kernels per document — the pre-training curation
    redaction stage, zero Python on the hot path. Spark's
    ``regexp_replace`` is replace-all; DuckDB needs the explicit ``'g'``
    flag (same one-ulp class of dialect trap as the HUGEINT rule)."""
    expr = text
    g = ", 'g'" if dialect != "spark" else ""
    for pat, tag in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{_rx(pat, dialect)}', '{tag}'{g})"
    return expr


# ---------------------------------------------------------------------------
# PySpark Column wrappers (JVM-side, codegen)
# ---------------------------------------------------------------------------

def token_count_col(text: str) -> Column:
    return F.expr(token_count_sql(text, "spark"))


def pii_scrub_col(text: str) -> Column:
    return F.expr(pii_scrub_sql(text, "spark"))


def lang_id_col(text: str) -> Column:
    return F.expr(lang_id_sql(tokens_sql(text, "spark"), "spark"))


def quality_score_col(text: str) -> Column:
    return F.expr(quality_score_sql(text, "spark"))


def minhash_col(text: str, perm: int, shingle_n: int = 3) -> Column:
    sh = shingles_sql(tokens_sql(text, "spark"), shingle_n, "spark")
    return F.expr(minhash_sql(token_hashes_sql(sh, "spark"), perm, "spark"))
