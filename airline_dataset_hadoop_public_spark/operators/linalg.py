"""Distributed dense linear algebra over embedding columns: Gramian
accumulation and PCA-style top-component extraction.

The reference has no linear-algebra surface at all (its numeric tail
ends at the rank/Zipf fit, reference README.md:405-427); these exist
because a training-data pipeline needs covariance/PCA-shaped passes
over embedding tables (whitening, dimensionality checks, projection
pruning).

Scale design (the RowMatrix/gramian pattern): X^T X for an (N x d)
embedding table is computed as one `mapInPandas` pass emitting a
partial d x d Gramian per Arrow batch (numpy BLAS `X.T @ X`, O(d^2)
doubles per batch regardless of batch row count), then a single
hash-aggregate over (i, j) keys — the only shuffled payload is
(#partitions x d^2) rows, independent of N. No driver collect of
anything N-sized; the d x d result is tiny by contract (d <= ~1k).
Compare MLlib's RowMatrix.computeGramianMatrix, which tree-aggregates
the same per-partition BLAS partials.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregates import ROUND_DIGITS

_GRAM_SCHEMA = "i BIGINT, j BIGINT, partial DOUBLE"
_GRAM_SCHEMA_Q = "i BIGINT, j BIGINT, partial BIGINT"

# Module-level so tests can shrink it and exercise the flush path
# without needing 2^32 rows.
_INT64_HEADROOM = 1 << 62


def gram_matrix(
    df: DataFrame,
    vec_col: str,
    ndigits: int = ROUND_DIGITS,
    quantize_bits: int | None = None,
) -> DataFrame:
    """Upper-triangle Gramian of the embedding column: one row per
    (i, j), i <= j, 1-based.

    Default path: ``gram = ROUND(sum_rows(x_i * x_j), ndigits)`` in
    float64 — rounded because cross-partition summation order is not
    deterministic (FIXTURES.md §F: round order-noisy float
    aggregates).  ROUND is a mitigation, not a proof: a sum landing
    within float noise of a half-boundary can still flip the last
    digit between engines (the skew sweep produced exactly that).

    Quantized path (``quantize_bits=b``): every element is quantized
    to ``q = floor(x * 2^b + 0.5)`` — scaling by a power of two is
    EXACT in binary floating point, so q is engine-independent — and
    the Gramian is accumulated as integer ``sum(q_i * q_j)``, which
    is order-independent by integer associativity, then emitted as
    the dyadic double ``sum / 2^(2b)`` with NO rounding.  This is the
    driver-contract mode; it trades ~2^-b relative input precision
    for a deterministic contract, same as the quantized-sum averages
    in the resample fixture.

    Overflow headroom (two tiers, both enforced, not just claimed):

    * Kernel tier (numpy int64): a per-row product is bounded by
      ``(|x|_max * 2^b + 1)^2``, so an int64 accumulator holds only
      ``~2^62 / product_bound`` rows before it can wrap — with b=10
      and |x| < 32 that is ~2^32 rows per accumulator, NOT 1e12
      (1e12 rows would need |x| < ~2.8).  numpy wraps silently, so
      the kernel tracks a conservative running bound and FLUSHES the
      partial (yields it and restarts at zero) before the bound can
      cross 2^62.  A single Arrow batch that alone exceeds the bound
      raises ValueError rather than wrap.
    * Cross-batch tier (Spark SUM): non-ANSI SUM(BIGINT) also wraps
      silently, so flushed partials are summed as DECIMAL(38,0)
      (~1.7e25 x int64 headroom; Spark nulls decimal-sum overflow
      instead of wrapping, and reaching it would take ~1e19 flushed
      partials).

    Net contract: the integer sum is exact for any N; the only
    precision statement left is the final int -> double cast, which
    is correctly-rounded (round-half-even) and engine-independent.
    """
    import numpy as np

    # Conservative per-accumulator bound: every entry of the running
    # int64 Gramian is |sum_rows q_i q_j| <= sum_rows qmax^2, so as
    # long as the accumulated sum of (batch_rows x batch_qmax^2) stays
    # under 2^62, no entry can have wrapped (docstring "kernel tier").
    # Captured here (not read inside the kernel) so the executor-side
    # closure sees a test-time monkeypatch of the module constant.
    _HEADROOM = _INT64_HEADROOM

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        iu: tuple | None = None
        acc = None
        budget = 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            # accumulate in float64 even for float32-stored embeddings:
            # float32 partials drift ~1e-7, visibly flipping rounded
            # output digits (any SQL engine sums these in double)
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if quantize_bits is not None:
                x = np.floor(x * float(1 << quantize_bits) + 0.5).astype(
                    np.int64
                )
                qmax = int(np.abs(x).max()) if x.size else 0
                bound = x.shape[0] * qmax * qmax
                if bound > _HEADROOM:
                    raise ValueError(
                        "quantized Gramian batch exceeds int64 headroom: "
                        f"{x.shape[0]} rows x qmax={qmax}; lower "
                        "quantize_bits or rescale the embeddings"
                    )
                if acc is not None and budget + bound > _HEADROOM:
                    # flush BEFORE the int64 accumulator can wrap; the
                    # decimal(38,0) Spark sum absorbs extra partials
                    yield pd.DataFrame(
                        {"i": iu[0] + 1, "j": iu[1] + 1, "partial": acc[iu]}
                    )
                    acc = None
                    budget = 0
                budget += bound
            g = x.T @ x
            acc = g if acc is None else acc + g
            if iu is None:
                iu = np.triu_indices(x.shape[1])
        if acc is not None and iu is not None:
            yield pd.DataFrame(
                {"i": iu[0] + 1, "j": iu[1] + 1, "partial": acc[iu]}
            )

    schema = _GRAM_SCHEMA if quantize_bits is None else _GRAM_SCHEMA_Q
    # invalid vectors (NULL / non-finite / zero) contribute no outer
    # product — one NaN element would otherwise poison a whole d x d
    # partial; oracles mirror with the valid-embedding fragment.
    from .similarity import vector_is_valid

    partials = (
        df.where(vector_is_valid(vec_col)).select(vec_col)
        .mapInPandas(batches, schema)
    )
    if quantize_bits is None:
        return partials.groupBy("i", "j").agg(
            F.round(F.sum("partial"), ndigits).alias("gram")
        )
    scale = float(1 << (2 * quantize_bits))
    # decimal(38,0) sum: Spark's non-ANSI SUM(BIGINT) wraps silently on
    # overflow; decimal gives ~1e38 exact-integer headroom and nulls
    # (never wraps) if that is somehow exceeded (docstring tier 2).
    return partials.groupBy("i", "j").agg(
        (
            F.sum(F.col("partial").cast("decimal(38,0)")).cast("double")
            / F.lit(scale)
        ).alias("gram")
    )


def top_component(df: DataFrame, vec_col: str) -> list:
    """Principal direction of the (uncentered) Gramian. The N-sized
    work is the single distributed gram_matrix pass; the d x d eigen
    step runs on the driver (d^2 doubles — driver-side by design, like
    MLlib's computePrincipalComponents; exact eigh instead of power
    iteration because the eigengap of real embedding tables is too
    small for fast-iterative convergence guarantees).

    Sign convention: first nonzero coordinate positive. Local-math
    helper (pytest parity vs numpy.linalg.eigh), not a registered
    query: the eigenvector is not ANSI-SQL-expressible for the oracle.
    """
    import numpy as np

    rows = gram_matrix(df, vec_col, ndigits=9).collect()
    d = max(r["j"] for r in rows)
    g = np.zeros((d, d))
    for r in rows:
        g[r["i"] - 1, r["j"] - 1] = r["gram"]
        g[r["j"] - 1, r["i"] - 1] = r["gram"]
    v = np.linalg.eigh(g)[1][:, -1]
    nz = next((x for x in v if abs(x) > 1e-12), 1.0)
    if nz < 0:
        v = -v
    return v.tolist()
