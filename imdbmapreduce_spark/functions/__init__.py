"""Shared column-expression helpers (all JVM-side, codegen-friendly).

Money math runs in **long cents**: double sums depend on accumulation
order (nondeterministic under parallelism) and Spark DECIMAL aggregation
with result precision >18 falls off the compact-long fast path (~20×
slower, measured in BENCH). ``round(x*100)`` as BIGINT is exact for
2-decimal inputs, sums stay in whole-stage codegen as plain long adds,
and DuckDB reproduces every bit. Final division by the scale factor
happens once, on identical integers, in both engines.

Top-k rankings go through :func:`top_k`, the one place that spells a
ranking's order: the global form is a bounded heap plus a rank over its
survivors, the per-group form a window rank that Spark cuts early.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["cents", "cents_sum", "one_minus_cents", "one_plus_cents", "tokens", "top_k"]


def cents(col: str | Column) -> Column:
    """2-decimal double → exact BIGINT hundredths (scale 1e2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def cents_sum(col: str | Column, alias: str) -> Column:
    """Order-independent exact sum of a money column, surfaced as DOUBLE."""
    return (F.sum(cents(col)).cast("double") / F.lit(100.0)).alias(alias)


def one_minus_cents(col: str | Column) -> Column:
    """``100 - cents(col)`` — the factor ``(1 - x)`` at scale 1e2."""
    return F.lit(100) - cents(col)


def one_plus_cents(col: str | Column) -> Column:
    """``100 + cents(col)`` — the factor ``(1 + x)`` at scale 1e2."""
    return F.lit(100) + cents(col)


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization with empty-token removal.

    Generalizes the reference's per-use cast tokenizer
    (/root/reference/Code/mapReduce.erl:140-148): split + trim, done once,
    producing ArrayType(StringType).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def top_k(
    df: DataFrame,
    k: int,
    *order: str | Column,
    by: str | Column | list | None = None,
    rank: str = "rank",
) -> DataFrame:
    """The first ``k`` rows of ``df`` by ``order``, with a long 1-based
    ``rank`` column appended. Make ``order`` total (end it on a unique
    id) so the cut and the ranks are deterministic.

    ``by=None`` ranks globally: ``orderBy(...).limit(k)`` plans as
    TakeOrderedAndProject (per-partition heaps, no global sort), so the
    rank window sees at most ``k`` rows. ``by`` (a column or a list of
    columns) ranks within each group: a ``row_number`` over
    ``partitionBy(by)`` filtered to ``<= k``, which Spark plans as
    WindowGroupLimit (each partition keeps only its first ``k`` rows per
    group before the window). ``k <= 0`` returns no rows in both forms.
    """
    if by is None:
        return df.orderBy(*order).limit(max(k, 0)).withColumn(
            rank, F.row_number().over(Window.orderBy(*order)).cast("long")
        )
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w).cast("long")).filter(
        F.col(rank) <= k
    )
