"""Sketch kernels shared by the batch operators and their streaming and
lake twins.

Each kernel is the one definition of its cell rule: the batch row
(``analytics``) and the incremental maintainer (``streaming``) or
writer (``lake``) call the same function, so the streamed summary is
the batch summary by construction. The DuckDB oracle SQL strings spell
the rules out independently and do not use these kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import MINHASH_COEFFS, affine

# HyperLogLog over the 60-bit h64 hash (q62 and its twins)
Q62_M = 64                     # registers (b = 6 bucket bits)
Q62_W_BITS = 54                # 60-bit h64 minus 6 bucket bits
Q62_SHIFT = Q62_W_BITS + 1     # rho ∈ [1, 55]
Q62_ALPHA = 0.709              # alpha_m for m = 64 (Flajolet et al. 2007)
# exact double literal, inlined into BOTH engines so the one float
# division is performed on identical operands
Q62_NUM = repr(Q62_ALPHA * Q62_M * Q62_M * float(2 ** Q62_SHIFT))

# count-min grid (q51 and its streaming twin)
CM_D = 4  # hash rows
CM_W = 1024  # buckets per row


def hll_cells(h: Column) -> tuple[Column, Column, Column]:
    """HyperLogLog cells of the 60-bit hash ``h``: ``bucket = h % M``
    and ``w = h DIV M`` as named columns, plus rho, the register value
    ``SHIFT - length(bin(w))`` (``SHIFT`` for w = 0). rho reads the
    projected ``w`` column, so callers select bucket and w and then
    aggregate ``max(rho)``. ``DIV`` stays integral: ``h / M`` would
    detour through a 53-bit double and can truncate differently from
    DuckDB's exact ``//`` near 2^60."""
    w = F.col("w")
    return (
        (h % Q62_M).alias("bucket"),
        F.call_function("div", h, F.lit(Q62_M)).alias("w"),
        F.when(w == 0, F.lit(Q62_SHIFT))
        .otherwise(F.lit(Q62_SHIFT) - F.length(F.bin(w)))
        .cast("long"),
    )


def countmin_cells(h: Column) -> Column:
    """The CM_D ``(d, bucket)`` count-min cells of the 60-bit hash
    ``h``, as an array of structs to explode: row d hashes with the
    d-th affine rehash, modulo CM_W."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                (affine(h, a, b) % CM_W).alias("bucket"),
            )
            for i, (a, b) in enumerate(MINHASH_COEFFS[:CM_D])
        ]
    )


def with_zvalue(
    df: DataFrame,
    x: str,
    y: str,
    bounds: tuple[str, str, str, str],
    bits: int,
    z: str,
) -> DataFrame:
    """``df`` plus the Morton/Z-value column ``z`` of the numeric
    columns ``x`` and ``y``. Each dimension is normalized onto
    ``bits`` bits by integral division against its observed bounds
    (``bounds`` names the min-x, max-x, min-y, max-y columns already on
    ``df``); the bits then interleave in a fold, x on odd bits and y on
    even ones. All operands are nonnegative, so Spark ``div`` equals
    DuckDB ``//``."""
    n_b = 1 << bits
    lo_x, hi_x, lo_y, hi_y = bounds
    return (
        df.withColumn("_zx", F.expr(f"({n_b} * ({x} - {lo_x})) div ({hi_x} - {lo_x} + 1)"))
        .withColumn("_zy", F.expr(f"({n_b} * ({y} - {lo_y})) div ({hi_y} - {lo_y} + 1)"))
        .withColumn(
            z,
            F.expr(
                f"aggregate(sequence(0, {bits - 1}), cast(0 as long), "
                "(acc, i) -> acc"
                " + shiftleft(shiftright(_zx, i) & 1, 2*i + 1)"
                " + shiftleft(shiftright(_zy, i) & 1, 2*i))"
            ),
        )
        .drop("_zx", "_zy")
    )
