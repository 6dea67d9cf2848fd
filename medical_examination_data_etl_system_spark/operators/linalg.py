"""Distributed exact linear algebra over embedding columns.

- ``quantize_fixed_point``: each ``array<float>`` component to a
  fixed-point BIGINT (``round(v * scale)``), JVM-side, with the same
  ``CAST(v AS DOUBLE) * scale → round → BIGINT`` tree an ANSI oracle
  can mirror.
- ``quantized_gram_matrix``: the d×d Gram (uncentered second-moment)
  matrix of an ``array<float>`` column, computed EXACTLY by summing
  int64 products of the quantized components, so the result is
  engine-independent (no float summation order anywhere). Each Arrow
  batch contributes one ``XᵀX`` partial via a single BLAS-free integer
  matmul; only d(d+1)/2-row partials cross the shuffle (2 080 rows for
  d=64 per batch), never vectors — at any corpus size the reduce side
  is O(d²), not O(rows). Optional column sums and a row count ride
  along in the same sweep (mean-centering needs no second scan).

The reference engine (682-line single-process pandas,
``/root/reference/db_to_dataframe.py``) has no vector analytics; these
extend the §2b mandate (SURVEY.md X77/X78).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_GRAM_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("s", T.LongType(), False),
    ]
)


def quantize_fixed_point(vec_col: str, scale: int):
    # Mirrors the oracle's CAST(v AS DOUBLE) * scale → round → BIGINT:
    # float→double widening is exact, the product is correctly rounded
    # (identical in any IEEE engine), and round() is half-away-from-zero
    # in both Spark (BigDecimal HALF_UP) and DuckDB.
    return F.transform(
        F.col(vec_col),
        lambda v: F.round(v.cast("double") * F.lit(float(scale))).cast("long"),
    )


def quantized_gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    with_col_sums: bool = False,
) -> DataFrame:
    """Upper-triangle Gram matrix rows ``(i, j, s)`` with
    ``s = Σ_rows q_i·q_j`` over quantized components ``q = round(v·scale)``
    (0-based ``i ≤ j``). With ``with_col_sums``, per-column sums ride
    along as ``(i, -1, Σ q_i)`` rows plus a single ``(-1, -1, n_rows)``
    sentinel, so mean-centering AND the row count need no second sweep
    (review finding: a separate count() was a second full corpus scan).

    int64 safety: |q| ≤ scale·|v|; at |v| ≤ 1, a pairwise product is
    ≤ scale² = 1e12 — overflow needs > 9·10⁶ rows per PARTIAL and
    > 9·10⁶ × #batches rows globally; the final sums for a 100 TB corpus
    (10¹¹ rows) fit by switching scale to 1e4. Callers own that knob —
    and the code now ENFORCES it (ADVICE r5): each Arrow batch asserts
    rows·max|q|² < 2⁶³ before the int64 matmul, and the cross-batch
    reduce sums in decimal(38,0) and raise_error()s if the total leaves
    int64 range, instead of wrapping silently. The decimal agg touches
    only the d(d+1)/2-per-batch partial rows, never the corpus.
    """
    # null vectors contribute nothing (np.stack would reject ragged
    # input); dropping them JVM-side keeps the kernel total.
    quantized = df.filter(F.col(vec_col).isNotNull()).select(
        quantize_fixed_point(vec_col, scale).alias("q")
    )
    emit_sums = with_col_sums

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            # int64-exactness precondition for the matmul below: the
            # worst-case accumulator is rows·max|q|² (Python ints — the
            # check itself cannot wrap).
            max_abs = int(np.abs(x).max()) if x.size else 0
            if x.shape[0] * max_abs * max_abs >= 2**63:
                raise OverflowError(
                    f"gram partial would overflow int64: rows={x.shape[0]} "
                    f"max|q|={max_abs}; lower `scale`"
                )
            g = x.T @ x  # int64-exact (guarded above)
            iu, ju = np.triu_indices(g.shape[1])
            out = {"i": iu.astype(np.int32), "j": ju.astype(np.int32), "s": g[iu, ju]}
            part = pd.DataFrame(out)
            if emit_sums:
                sums = pd.DataFrame(
                    {
                        "i": np.arange(x.shape[1], dtype=np.int32),
                        "j": np.full(x.shape[1], -1, dtype=np.int32),
                        "s": x.sum(axis=0),
                    }
                )
                sentinel = pd.DataFrame({"i": [-1], "j": [-1], "s": [x.shape[0]]})
                part = pd.concat([part, sums, sentinel], ignore_index=True)
            yield part

    # Cross-batch reduce in decimal(38,0): a too-large corpus/scale now
    # fails loudly at execution time instead of wrapping (ADVICE r5).
    # Only O(d² × batches) partial rows pay the decimal cost.
    dec_sum = F.sum(F.col("s").cast("decimal(38,0)"))
    int64_max = F.lit(str(2**63 - 1)).cast("decimal(38,0)")
    guarded = F.when(
        F.abs(dec_sum) > int64_max,
        F.raise_error(
            F.lit("gram sum overflows int64 — lower `scale` (see quantized_gram_matrix docstring)")
        ).cast("decimal(38,0)"),
    ).otherwise(dec_sum)
    return (
        quantized.mapInPandas(partials, schema=_GRAM_SCHEMA)
        .groupBy("i", "j")
        .agg(guarded.cast("long").alias("s"))
    )


