"""The engine's exact-sum arithmetic, defined once.

A floating-point aggregate whose result a contract hash or a label
decision sees is never a plain double sum: a double sum depends on the
order Spark adds the values in, so on the partitioning. Such values are
summed as DECIMAL(38,9): each value (a term or a product, computed once
in IEEE double) becomes a 1e-9 fixed-point number, the fixed-point sum
is exact and order-independent, and the sum is cast back to double for
one final IEEE expression. The result is bit-identical at any
partitioning or parallelism, and a SQL engine that sums the same
DECIMAL values replays it exactly (the DuckDB oracles do).

Each caller keeps one choice, fixed by its oracle: ``quantize=True``
rounds the double to 9 places before the cast, ``quantize=False``
leaves the rounding to the cast itself.

Two closed-form statistics are built on these sums:

- Pearson r from the count and the five moment sums
  (``pearson_sums`` / ``pearson_r``);
- the OLS slope from the count and four sums
  (``ols_sums`` / ``ols_slope``).

A chained DECIMAL add inside one projection needs a narrower type (see
``plans.tiers.psi_sum``), and integer-exact sums use scale 0; both keep
their own types.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F


def exact_sum(c: Column, *, quantize: bool = True,
              over: WindowSpec | None = None) -> Column:
    """The double value of ``sum(c)`` taken exactly as DECIMAL(38,9):
    an aggregate, or a window aggregate ``over`` the given spec."""
    s = F.sum((F.round(c, 9) if quantize else c).cast("decimal(38,9)"))
    return (s if over is None else s.over(over)).cast("double")


def pearson_sums(x: Column, y: Column, *, quantize: bool = False,
                 over: WindowSpec | None = None) -> list[Column]:
    """``n`` and the exact moment sums ``sx, sy, sxx, syy, sxy`` of the
    pairs (x, y), the inputs of ``pearson_r``."""
    n = F.count("*")
    return [
        (n if over is None else n.over(over)).alias("n"),
        *[exact_sum(c, quantize=quantize, over=over).alias(name)
          for name, c in (("sx", x), ("sy", y), ("sxx", x * x),
                          ("syy", y * y), ("sxy", x * y))],
    ]


def pearson_r() -> Column:
    """Pearson r from ``pearson_sums``' columns, rounded once to 6
    places; NULL where either side has zero variance."""
    n = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt((n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy))
    return F.round(num / den, 6)


def ols_sums(x: Column, y: Column) -> list[Column]:
    """The 1e-9-quantized exact sums ``_sx, _sy, _sxy, _sxx`` of the
    points (x, y), the inputs of ``ols_slope``."""
    return [exact_sum(c).alias(name)
            for name, c in (("_sx", x), ("_sy", y), ("_sxy", x * y),
                            ("_sxx", x * x))]


def ols_slope(n_col: str) -> tuple[Column, Column]:
    """The least-squares slope of y on x from ``ols_sums``' columns and
    the point count ``n_col``, as ``(numerator, denominator)``: the
    denominator is n^2 Var(x), which a caller may floor before it
    divides."""
    n = F.col(n_col).cast("double")
    sx = F.col("_sx")
    return (n * F.col("_sxy") - sx * F.col("_sy"),
            n * F.col("_sxx") - sx * sx)
