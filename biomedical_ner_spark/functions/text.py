"""Text column functions — JVM-side expressions, shared with the DuckDB oracle.

The exact-parity tokenizer (Python ``re``, app.py:213) lives in
``core.oracle`` and runs inside the Arrow UDF path.  The expressions here are
the *SQL-expressible twin*: an ASCII-explicit pattern whose semantics are
identical in Java regex (Spark) and RE2 (DuckDB), and — on ASCII corpora like
the driver testdata — identical to the Python pattern as well (asserted by
tests/test_tokenizer_parity.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII-explicit twin of r"\b\w+(?:-\w+)*\b|[^\w\s]" (app.py:213).
# Word chars and whitespace are spelled out so Java regex and RE2 agree.
SQL_TOKEN_PATTERN = r"[A-Za-z0-9_]+(?:-[A-Za-z0-9_]+)*|[^A-Za-z0-9_ \t\n\r]"

# THE single source for stopword-ish lists (P9-style filter lists in the
# reference: utils/fonctionsFaxtText.py:553-562).  PLAUSIBILITY_STOPWORDS
# is the augmentation filter's exact set (its DuckDB oracle embeds these
# values — do not edit without updating _sql_augmented_sentences);
# STOPWORDS extends it for quality scoring.
PLAUSIBILITY_STOPWORDS = (
    "the", "a", "an", "of", "in", "to", "and", "or", "is", "was", "with",
    "for", "on", "at", "by", "from",
)
STOPWORDS = PLAUSIBILITY_STOPWORDS + ("which", "this", "that")


def tokenize_expr(col: str | Column) -> Column:
    """ARRAY<STRING> of tokens — JVM-side, whole-stage-codegen friendly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(SQL_TOKEN_PATTERN), 0)


def punct_ratio_expr(tokens: Column) -> Column:
    """Fraction of tokens that are punctuation.

    Note: F.filter is an interpreted HOF (CodegenFallback) — acceptable
    here because quality_score is one pass over per-doc token arrays and
    benches at ~0.3 s/5000 docs (not a hot path; the round-2 verdict's
    rewrite-if-hot condition was measured and not met).  Do NOT copy this
    shape into per-row hot paths — see operators/spans.py for the
    window/groupBy alternative."""
    n_punct = F.size(F.filter(tokens, lambda t: ~t.rlike("^[A-Za-z0-9_-]+$")))
    return n_punct / F.greatest(F.size(tokens), F.lit(1))


def stopword_ratio_expr(tokens: Column) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_sw = F.size(F.filter(tokens, lambda t: F.array_contains(sw, F.lower(t))))
    return n_sw / F.greatest(F.size(tokens), F.lit(1))


def fingerprint_expr(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the normalized token
    stream (lowercased, single-space joined). Cross-engine stable."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(SQL_TOKEN_PATTERN), 0)
    return F.md5(F.concat_ws(" ", toks))
