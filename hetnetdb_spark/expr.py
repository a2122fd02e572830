"""Shared column-expression helpers used across query modules.

Everything here returns Catalyst ``Column`` expressions (or their
SQL text) evaluated JVM-side. Nothing crosses into Python at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def r6(c: Column | str) -> Column:
    """Round a double expression to 6 decimals for oracle hash parity.

    Double aggregates accumulate in partition order; Spark and DuckDB
    can differ in the last ulp. Both sides round to 6 decimals so the
    hashes compare stably (SURVEY §5 float discipline).
    """
    return F.round(F.col(c) if isinstance(c, str) else c, 6)


def zround(c: Column | str, scale: int = 6) -> Column:
    """Round AND collapse IEEE negative zero: ``round(c, scale) + 0.0``.

    ``round(-1e-9, 6)`` is ``-0.0`` — numerically equal to ``0.0`` but a
    different bit pattern, and the driver's correctness gate hashes raw
    bytes, so a Spark ``0.0`` vs DuckDB ``-0.0`` is a hash FAIL even
    though every comparison operator calls them equal (this was a19's
    only red). IEEE 754 guarantees ``-0.0 + 0.0 == +0.0``, so adding a
    positive-zero literal after rounding canonicalizes the sign on any
    column that can round to zero from below (corr/covar/regr/slope/
    log-ratio families). The paired oracle must apply the same
    ``ROUND(...) + 0.0`` so both engines emit identical bytes.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col, scale) + F.lit(0.0)


def z6(c: Column | str) -> Column:
    """``zround`` at 6 decimals — signed-zero-safe twin of :func:`r6`."""
    return zround(c, 6)


def revenue() -> Column:
    """TPC-H style revenue term: l_extendedprice * (1 - l_discount)."""
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def charge() -> Column:
    """Revenue with tax: extendedprice * (1 - discount) * (1 + tax)."""
    return revenue() * (F.lit(1.0) + F.col("l_tax"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double.

    Built from higher-order functions (``zip_with`` + ``aggregate``):
    no UDF, no Arrow crossing, but NOT whole-stage codegen —
    ``ZipWith`` and ``ArrayAggregate`` are ``CodegenFallback``
    expressions in Spark 4.1, evaluated by the interpreter per row.
    The cast to double before multiply matters: float32 accumulation
    drifts past the 6-decimal rounding window at dim=64.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` — the same left fold from ``0.0``, the
    same casts — for plans built as one ``F.expr`` string instead of
    a Py4J call per Column node."""
    return (
        f"aggregate(zip_with({a}, {b}, (_x, _y) -> "
        "CAST(_x AS DOUBLE) * CAST(_y AS DOUBLE)), 0.0D, (_acc, _v) -> _acc + _v)"
    )
