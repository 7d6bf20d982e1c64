"""Normalization / feature transforms (SURVEY §2.4 N1-N5).

Reference semantics:
- N1 MinMaxScaler().fit_transform per feature, fit separately on the
  split being transformed (Evaluation_Auxiliary/Data_prep.py:72-76 —
  the refit-per-call quirk is preserved by fitting on whatever
  DataFrame is passed).
- N3 mean-centering (Simulation_Auxiliary/mocss.py:40-41).
- N4 label encoding via explicit dict (Data_prep.py:86-91).

Scale-first design: statistics come from ``groupBy().agg`` and are
attached with a broadcast join (or literal fold for array features) —
never an unpartitioned Window, which would funnel the table through
one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ae_data_integration_spark.functions.arrays import to_double
from ae_data_integration_spark.functions.portable import Q20, fpavg


def minmax_scale_scalar(
    df: DataFrame, value_col: str, by: list[str] | None = None, out_col: str | None = None
) -> DataFrame:
    """Min-max scale a scalar column, optionally per group (N1).

    (x - min) / (max - min); constant groups map to 0.0 (sklearn maps
    them to 0 as well since data_range is clamped to 1).
    """
    out_col = out_col or f"{value_col}_scaled"
    keys = by or []
    aggs = [
        F.min(value_col).alias("_lo"),
        F.max(value_col).alias("_hi"),
    ]
    stats = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    joined = df.join(F.broadcast(stats), on=keys) if keys else df.crossJoin(F.broadcast(stats))
    rng = F.col("_hi") - F.col("_lo")
    scaled = F.when(rng == 0, F.lit(0.0)).otherwise((F.col(value_col) - F.col("_lo")) / rng)
    return joined.withColumn(out_col, scaled).drop("_lo", "_hi")


def minmax_scale_features(df: DataFrame, features_col: str = "features") -> DataFrame:
    """Per-feature min-max over an array<double> column.

    Element-wise min/max via explode + groupBy(feature index) — the
    shuffle output is only d rows, then folded back as a broadcast
    join + zip_with. Scales to arbitrarily many rows; d (feature
    count) bounded by array width.
    """
    stats = (
        df.select(F.posexplode(to_double(features_col)).alias("idx", "v"))
        .groupBy("idx")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("idx", "lo", "hi"))).alias("stats")
        )
    )
    rescaled = F.zip_with(
        to_double(features_col),
        F.col("_s.stats"),
        lambda x, s: F.when(s["hi"] == s["lo"], F.lit(0.0)).otherwise(
            (x - s["lo"]) / (s["hi"] - s["lo"])
        ),
    )
    return (
        df.crossJoin(F.broadcast(stats).alias("_s"))
        .withColumn(features_col, rescaled)
        .drop("stats")
    )


def minmax_scale_per_split(
    df: DataFrame, features_cols: list[str], split_col: str = "is_train"
) -> DataFrame:
    """N1 on several array columns, fit separately on each value of
    ``split_col`` (the reference's refit-per-split quirk).

    Equal, element for element, to minmax_scale_features run on each
    column of each split on its own, but with ONE min/max aggregate:
    grouped by (split, idx) over the concatenation of the columns.
    Each split's sorted stats array is broadcast-joined back and
    sliced per column by the row's own widths. Every column must have
    one width on every row.
    """
    stats = (
        df.select(
            split_col,
            F.posexplode(F.concat(*[to_double(c) for c in features_cols])).alias("idx", "v"),
        )
        .groupBy(split_col, "idx")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .groupBy(split_col)
        .agg(F.array_sort(F.collect_list(F.struct("idx", "lo", "hi"))).alias("_stats"))
    )
    scaled, start = {}, F.lit(1)
    for c in features_cols:
        scaled[c] = F.zip_with(
            to_double(c),
            F.slice("_stats", start, F.size(c)),
            lambda x, s: F.when(s["hi"] == s["lo"], F.lit(0.0)).otherwise(
                (x - s["lo"]) / (s["hi"] - s["lo"])
            ),
        )
        start = start + F.size(c)
    return (
        df.join(F.broadcast(stats), split_col)
        .withColumns(scaled)
        .select(*df.columns)
    )


def mean_center(df: DataFrame, value_col: str, out_col: str | None = None) -> DataFrame:
    """N3: x - mean(x), with the mean computed as an exact decimal
    sum / count so the result is independent of partition order."""
    out_col = out_col or f"{value_col}_centered"
    # Fixed-point sum (functions/portable.py): exact, partition-order
    # independent, and bit-portable to the DuckDB oracle — double→
    # decimal casts are NOT (engines disagree in the tail).
    stats = df.agg(fpavg(value_col, Q20).alias("_mu"))
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, F.col(value_col) - F.col("_mu"))
        .drop("_mu")
    )


def label_encode(df: DataFrame, label_col: str, out_col: str = "label_id") -> DataFrame:
    """N4: dense integer codes via a broadcast dimension built from
    distinct labels ordered lexicographically (the reference's dicts
    are insertion-ordered over a fixed class list; lexicographic is
    the deterministic engine-portable equivalent)."""
    # The code table is DISTINCT labels — k rows, model-sized — so
    # enumerate it on the driver instead of a global rank window (a
    # lit-partitioned window still constant-folds to an unpartitioned
    # WindowExec). Same lexicographic codes, zero single-partition
    # stages.
    from pyspark.sql.types import LongType, StructField, StructType

    labels = [
        r[0] for r in df.select(label_col).distinct().orderBy(label_col).collect()
    ]
    schema = StructType(
        [df.schema[label_col], StructField(out_col, LongType(), False)]
    )
    dim = df.sparkSession.createDataFrame(
        [(lab, i) for i, lab in enumerate(labels)], schema
    )
    return df.join(F.broadcast(dim), on=label_col)


def batchnorm1d(
    df: DataFrame,
    key_col: str,
    vec_col: str,
    eps: float = 1e-5,
) -> DataFrame:
    """L2: BatchNorm1d over an array feature column, long form.

    Train-mode semantics on the given batch (= the DataFrame):
    y = (x − μ_dim) / sqrt(σ²_dim + eps) with default γ=1, β=0 —
    torch.nn.BatchNorm1d's normalization (ref model_structures.py
    Linear→BatchNorm1d→activation stacks). Eval mode with running
    stats is the same expression with stored μ/σ² (a broadcast join
    of a stats table — identical plan shape).

    Scale: per-dim statistics via one posexplode + groupBy(dim)
    (map-side combined, d groups), attached back with a broadcast
    join — never a window. Returns (key, dim, y) long form; fixed-
    point μ/E[x²] keep the result bit-portable across engines.
    """
    from ae_data_integration_spark.functions.portable import Q30, fpsum

    long = df.select(
        F.col(key_col).alias("id"),
        F.posexplode(to_double(vec_col)).alias("dim", "x"),
    )
    stats = long.groupBy("dim").agg(
        (fpsum("x", Q30) / F.count(F.lit(1)).cast("double")).alias("mu"),
        (fpsum(F.col("x") * F.col("x"), Q30) / F.count(F.lit(1)).cast("double")).alias("m2"),
    ).select(
        "dim", "mu", (F.col("m2") - F.col("mu") * F.col("mu")).alias("var"),
    )
    return (
        long.join(F.broadcast(stats), "dim")
        .select(
            "id",
            # posexplode yields int32; the oracle's generate_subscripts
            # is int64 — align for type-strict schema compares.
            F.col("dim").cast("long").alias("dim"),
            ((F.col("x") - F.col("mu")) / F.sqrt(F.col("var") + F.lit(eps))).alias("y"),
        )
    )
