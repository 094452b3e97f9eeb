"""Scalar expression helpers — the reference's derived-value surface.

Every helper is a pure Column expression (no UDFs — SURVEY §2.11 notes
the reference registers zero UDFs; its Python helper functions are
re-expressed as `when` chains / arithmetic so they stay inside
whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bin_by_width(col: Column | str, width: int | float) -> Column:
    """Histogram bucket lower bound: floor(col / width) * width
    (EDA `pd.cut` with uniform bins, `EDA_premios.ipynb` cell 52)."""
    return (F.floor(_c(col) / F.lit(width)) * F.lit(width)).cast("double")


def ticket_price(monto_premio: Column | str) -> Column:
    """Tiered ticket price from prize amount — the notebook's if/elif
    ladder (`visualization_sorteos_premios.ipynb` cell 59) as a native
    `when` chain. Tiers: monto >= 500000 → 150, >= 50000 → 100,
    >= 5000 → 50, else 25 (quetzales)."""
    m = _c(monto_premio)
    return (
        F.when(m >= 500000, F.lit(150.0))
        .when(m >= 50000, F.lit(100.0))
        .when(m >= 5000, F.lit(50.0))
        .otherwise(F.lit(25.0))
    )


def calculate_winning_percentage(winners: Column | str, tickets_issued: Column | str) -> Column:
    """100 * winners / tickets_issued, rounded to 4 decimals
    (`visualization_sorteos_premios.ipynb` cell 45)."""
    return F.round(F.lit(100.0) * _c(winners) / _c(tickets_issued).cast("double"), 4)


def calculate_odds(tickets_issued: Column | str, winners: Column | str) -> Column:
    """'1 in N' odds denominator: tickets / winners, rounded to 1
    decimal (`visualization_sorteos_premios.ipynb` cell 45)."""
    return F.round(_c(tickets_issued).cast("double") / F.nullif(_c(winners).cast("double"), F.lit(0.0)), 1)
