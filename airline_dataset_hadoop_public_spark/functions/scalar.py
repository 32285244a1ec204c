"""Scalar expression helpers shared across operators.

All of these are pure Column expressions (JVM-side, codegen'd —
SURVEY.md §4 "stay JVM-side"); none drop to Python. Tokenization and
normalization are pinned to exact regex semantics that DuckDB
reproduces, because the oracle gate recomputes them in SQL.

The array-manipulating helpers take column NAMES (they splice into
`F.expr` higher-order functions), so callers materialize intermediate
arrays with `withColumn` first — which also gives Catalyst a reusable
alias instead of a re-evaluated subexpression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: str | Column) -> Column:
    """lower + trim + collapse internal whitespace to single spaces.
    DuckDB equivalent: regexp_replace(lower(trim(x)), '\\s+', ' ', 'g')."""
    return F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")


def tokens(col: str | Column) -> Column:
    """Whitespace tokens of the lowered/trimmed text.
    DuckDB equivalent: string_split_regex(lower(trim(x)), '\\s+')."""
    return F.split(F.lower(F.trim(_c(col))), r"\s+")


def word_ngrams(tokens_col: str, n: int) -> Column:
    """Space-joined word n-grams (shingles) of a token-array column.

    `tokens_col` is a column NAME. n=1 returns the array unchanged.
    Documents shorter than n tokens yield an empty array (matching the
    DuckDB oracle formulation with a list comprehension over
    range(1, len - n + 2)).
    """
    if n == 1:
        return F.col(tokens_col)
    # Let-binding via transform(array(x), t -> ...)[0]: Catalyst's
    # CollapseProject happily inlines the tokens-producing expression
    # (e.g. split()) into every element access inside a lambda, turning
    # shingle construction quadratic (re-tokenize per shingle per
    # position). Binding the array to a lambda variable forces exactly
    # one evaluation. Spark SQL array indexing is 0-based.
    joined = ", ".join(f"__tk[i + {j}]" for j in range(n))
    return F.expr(
        f"transform(array({tokens_col}), __tk -> "
        f"CASE WHEN size(__tk) >= {n} THEN "
        f"transform(sequence(0, size(__tk) - {n}), "
        f"i -> concat_ws(' ', {joined})) "
        f"ELSE array() END)[0]"
    )


def composite_key(cols: list[str | Column]) -> Column:
    """P9 — the reference's space-joined composite display key
    ("ORIGIN CARRIER", /root/reference/README.md:201-203). Display-only:
    grouping always uses the real columns; this exists to reproduce the
    reference's output text byte-for-byte."""
    return F.concat_ws(" ", *[_c(c).cast("string") for c in cols])


def cosine_similarity(a_col: str, b_col: str) -> Column:
    """Cosine similarity of two numeric array columns (by NAME),
    computed in float64 — matches DuckDB list_cosine_similarity on
    DOUBLE[] inputs. Pure higher-order-function expression: no UDF,
    stays inside whole-stage codegen.
    """

    def dot(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, "
            f"(p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )

    return F.expr(
        f"{dot(a_col, b_col)} / "
        f"(sqrt({dot(a_col, a_col)}) * sqrt({dot(b_col, b_col)}))"
    )


def finite_measure(col: str | Column) -> Column:
    """Measure-domain guard: value present AND finite (not NULL, not
    NaN, not ±Inf).  Quantile/median/regression/smoothing fixtures
    filter on this on BOTH sides (oracle: ``isfinite(value)``) — the
    engines disagree on where NaN sorts inside quantile_cont vs
    percentile and on NaN-skipping in kernels, and a single Inf
    poisons every fitted statistic it touches (FIXTURES.md §K)."""
    c = _c(col)
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))
