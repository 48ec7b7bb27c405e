"""Preprocessing operators (reference: cuml/dask/preprocessing + cuml
preprocessing used around dask workflows; SURVEY.md §2A A15-A17).

StandardScaler / MinMaxScaler — fit computes O(k) stats in one aggregate;
transform is a pure column expression (codegen, broadcast-free since the
stats are literals by transform time).
LabelEncoder — distinct + dense_rank, returned as a small mapping frame
joined back (broadcast).
train_test_split — seeded hash-based split: deterministic, reproducible
across runs AND across cluster sizes (unlike randomSplit, which is
partition-dependent) — at 100 TB that reproducibility matters.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class StandardScaler:
    """z = (x - mean) / stddev_samp per column."""

    with_mean: bool = True
    with_std: bool = True
    stats_: dict[str, tuple[float, float]] = field(default_factory=dict, init=False)

    def fit(self, df: DataFrame, cols: list[str]) -> "StandardScaler":
        aggs = []
        for c in cols:
            aggs.append(F.avg(c).alias(f"mu_{c}"))
            aggs.append(F.stddev_samp(c).alias(f"sd_{c}"))
        row = df.agg(*aggs).collect()[0]
        self.stats_ = {c: (row[f"mu_{c}"], row[f"sd_{c}"]) for c in cols}
        return self

    def transform(self, df: DataFrame, suffix: str = "_z") -> DataFrame:
        out = df
        for c, (mu, sd) in self.stats_.items():
            expr = F.col(c)
            if self.with_mean:
                expr = expr - float(mu)
            if self.with_std:
                expr = expr / float(sd)
            out = out.withColumn(f"{c}{suffix}", expr)
        return out


@dataclass
class MinMaxScaler:
    """x01 = (x - min) / (max - min) per column."""

    stats_: dict[str, tuple[float, float]] = field(default_factory=dict, init=False)

    def fit(self, df: DataFrame, cols: list[str]) -> "MinMaxScaler":
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"lo_{c}"))
            aggs.append(F.max(c).alias(f"hi_{c}"))
        row = df.agg(*aggs).collect()[0]
        self.stats_ = {c: (row[f"lo_{c}"], row[f"hi_{c}"]) for c in cols}
        return self

    def transform(self, df: DataFrame, suffix: str = "_01") -> DataFrame:
        out = df
        for c, (lo, hi) in self.stats_.items():
            out = out.withColumn(
                f"{c}{suffix}", (F.col(c) - float(lo)) / (float(hi) - float(lo))
            )
        return out


def train_test_split(
    df: DataFrame,
    id_col: str,
    test_fraction: float = 0.25,
    seed: int = 42,
    method: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic hash split on the id column. Same rows land in the
    same side regardless of partitioning/cluster size.

    method="xxhash64" (default) gives the best mixing; method=
    "multiplicative" uses Knuth's multiplicative hash
    ((id * 2654435761) mod 10000) — weaker mixing but expressible
    identically in ANSI SQL, which is what lets q96 put the whole split
    under a full-value cross-engine oracle."""
    if method == "xxhash64":
        bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(10_000))
    elif method == "multiplicative":
        # pre-mod before the multiply: bucket-identical to
        # (id * M) % 10000 (the difference is a multiple of 10000·M) but
        # overflow-free for any id width — the raw multiply wraps
        # silently for id ≳ 2^31 under default Spark while DuckDB
        # computes exactly (cross-engine divergence), and errors under
        # spark.sql.ansi.enabled (advisor-r5 finding class).
        bucket = F.pmod(
            F.pmod(F.col(id_col), F.lit(10_000)) * F.lit(2654435761),
            F.lit(10_000),
        )
    else:
        raise ValueError(f"unknown split method: {method}")
    cut = int(test_fraction * 10_000)
    test = df.filter(bucket < cut)
    train = df.filter(bucket >= cut)
    return train, test


def stratified_split_labels(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    train_num: int = 4,
    train_den: int = 5,
    buckets: int = 4096,
) -> DataFrame:
    """EXACT stratified split (cuml.train_test_split's ``stratify=``
    semantics): every stratum contributes floor(train_num/train_den ·
    n_stratum) rows to train — per-stratum proportions hold exactly,
    not in expectation like the hash-predicate split above (whose
    per-stratum counts are binomial around the rate).

    PRECONDITION: ``id_col`` values must be UNIQUE (advisor r12; the
    SQL oracle assumes the same). Duplicate ids make the row_number
    tie order nondeterministic — breaking the partitioning-invariance
    guarantee — and multiply rows through
    ``stratified_train_test_split``'s label join.

    The ratio is a RATIONAL (num, den), never a float: the cutoff is
    (num · n) div den in pure integer arithmetic, so any SQL engine
    reproduces the assignment bit-for-bit (no floor(0.8·n) double
    hazard at den-divisible n).

    Scale shape — the q126 two-level prefix sum, not a per-stratum
    global window: rows get a multiplicative-hash bucket (the shuffled
    order); ranking windows partition by (stratum, bucket) — ``buckets``
    independent windows per stratum, no stratum-sized single partition
    at 100 TB; bucket offsets come from a window over the
    (strata × buckets)-row COUNTS frame, which is model-state-sized
    and broadcast back. Global rank = bucket offset + in-bucket rank,
    ordered by (bucket, id) — deterministic and partitioning-free.

    Returns df's (id, stratum) plus a 'split' column ('train'/'test').

    NULL strata form their own stratum (window PARTITION BY semantics,
    matching the SQL-oracle formulation) — the internal grouping/join
    key is null-coalesced to a sentinel because a bare equi-join would
    silently DROP null-stratum rows (null != null), the dirty-input
    divergence class the r11 advisor flagged on q131's size gate.
    """
    from pyspark.sql.window import Window

    bucket = F.pmod(
        F.pmod(F.col(id_col), F.lit(buckets)) * F.lit(2654435761),
        F.lit(buckets),
    )
    skey = F.coalesce(F.col(stratum_col).cast("string"), F.lit("\x00null"))
    rows = df.select(
        F.col(id_col),
        F.col(stratum_col),
        skey.alias("_sk"),
        bucket.alias("_bkt"),
    )
    counts = rows.groupBy("_sk", "_bkt").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    woff = (
        Window.partitionBy("_sk")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "_sk",
        "_bkt",
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
    )
    tot = counts.groupBy("_sk").agg(F.sum("_cnt").alias("_n"))
    wr = Window.partitionBy("_sk", "_bkt").orderBy(id_col)
    cut = F.expr(f"({train_num} * _n) div {train_den}")
    return (
        rows.withColumn("_rkb", F.row_number().over(wr))
        .join(F.broadcast(offs), ["_sk", "_bkt"])
        .join(F.broadcast(tot), "_sk")
        .select(
            id_col,
            stratum_col,
            F.when(F.col("_off") + F.col("_rkb") <= cut, "train")
            .otherwise("test")
            .alias("split"),
        )
    )


def stratified_train_test_split(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    train_num: int = 4,
    train_den: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """(train, test) frames under the exact stratified assignment —
    the cuml stratify API shape; a broadcast-joined label keeps the
    caller's full column set."""
    labels = stratified_split_labels(
        df, id_col, stratum_col, train_num, train_den
    ).select(id_col, "split")
    both = df.join(labels, id_col)
    return (
        both.filter(F.col("split") == "train").drop("split"),
        both.filter(F.col("split") == "test").drop("split"),
    )
