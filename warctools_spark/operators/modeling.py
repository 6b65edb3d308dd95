"""Exact moments for closed-form model fitting over corpus features —
the distributed half of a quality-classifier training stage (e.g. a
linear scorer on integer quality features against a weak label like
lang == 'en').

Scale shape: ONE aggregate. The Gram moments X'X (with intercept)
and X'y are k(k+1)/2 + k + 2 sums of products — all map-side
combinable expressions, so the cluster sees a single partial-agg
pass over the corpus and the driver receives one row of exact
integer sums (integer features => bit-exact, SQL-oracle-able). The
(k+1)x(k+1) solve on that row is O(k^2) driver work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_moments(
    df: DataFrame, feature_cols: list[str], label_col: str
) -> DataFrame:
    """One-row exact moment table for ridge/OLS: n, sums s_i, cross
    moments m_i_j (i <= j, including the label as the last column).
    With integer features and label every value is an exact integer —
    the distributed half of the fit, checkable bit-for-bit in SQL."""
    cols = list(feature_cols) + [label_col]
    aggs = [F.count("*").alias("n")]
    for i, a in enumerate(cols):
        aggs.append(F.sum(F.col(a)).alias(f"s_{i}"))
        for j, b in enumerate(cols[i:], start=i):
            aggs.append(
                F.sum(F.col(a) * F.col(b)).alias(f"m_{i}_{j}")
            )
    return df.agg(*aggs)
