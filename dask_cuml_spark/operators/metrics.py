"""Model-quality metrics (reference: cuml/metrics + cuml/dask/metrics;
SURVEY.md §2A A19). All are single aggregates / small groupBys — no
driver-side iteration over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def accuracy(df: DataFrame, label_col: str, pred_col: str) -> float:
    row = df.agg(
        F.avg(
            F.when(F.col(label_col) == F.col(pred_col), 1.0).otherwise(0.0)
        ).alias("acc")
    ).collect()[0]
    return float(row["acc"])


def mse(df: DataFrame, label_col: str, pred_col: str) -> float:
    d = F.col(label_col) - F.col(pred_col)
    return float(df.agg(F.avg(d * d).alias("mse")).collect()[0]["mse"])


def mae(df: DataFrame, label_col: str, pred_col: str) -> float:
    return float(
        df.agg(
            F.avg(F.abs(F.col(label_col) - F.col(pred_col))).alias("mae")
        ).collect()[0]["mae"]
    )


def r2_score(df: DataFrame, label_col: str, pred_col: str) -> float:
    """1 - SS_res/SS_tot computed in one pass from sum leaves."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col)).alias("sy"),
        F.sum(F.col(label_col) * F.col(label_col)).alias("syy"),
        F.sum(
            (F.col(label_col) - F.col(pred_col))
            * (F.col(label_col) - F.col(pred_col))
        ).alias("ss_res"),
    ).collect()[0]
    ss_tot = row["syy"] - row["sy"] * row["sy"] / row["n"]
    return float(1.0 - row["ss_res"] / ss_tot)


def adjusted_rand_score(df: DataFrame, label_col: str, pred_col: str) -> float:
    """ARI between two labelings (reference: cuml.metrics
    adjusted_rand_score; SURVEY §2A A19). One distributed contingency
    aggregate; the O(k²) pair-counting closes on the driver."""
    cont = (
        df.groupBy(label_col, pred_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    def comb2(x: float) -> float:
        return x * (x - 1) / 2.0

    n = sum(r["n"] for r in cont)
    sum_ij = sum(comb2(r["n"]) for r in cont)
    a: dict = {}
    b: dict = {}
    for r in cont:
        a[r[label_col]] = a.get(r[label_col], 0) + r["n"]
        b[r[pred_col]] = b.get(r[pred_col], 0) + r["n"]
    sum_a = sum(comb2(v) for v in a.values())
    sum_b = sum(comb2(v) for v in b.values())
    expected = sum_a * sum_b / comb2(n)
    max_index = (sum_a + sum_b) / 2.0
    if max_index == expected:
        return 1.0
    return float((sum_ij - expected) / (max_index - expected))
