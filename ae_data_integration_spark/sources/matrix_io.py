"""Omics matrix ingestion/egress (SURVEY §2.1 S1-S12).

The reference reads features×samples TSVs and immediately transposes
(`pd.read_csv(path, sep='\\t').T`, Simulation_Models/
CNC_AE_model_selection.py:507-508). A 20,531-column transpose is a
non-starter as a wide pivot at 100 TB, so the engine standardizes on
the **long form** (sample_id, feature_idx, value) and assembles
per-sample dense vectors with a sorted collect_list — the shuffle is
keyed on sample_id, each vector builds in one reduce, and no row ever
exceeds the vector width.

Layout contract: wide form is `(sample_id string, features
array<double>)` with features ordered by the source row order of the
matrix file (feature_idx), exactly matching the reference's column
order after `.T`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_matrix_long(
    spark: SparkSession, path: str, sep: str = "\t"
) -> DataFrame:
    """S1: features×samples delimited matrix → long (sample_id,
    feature_id, feature_idx, value).

    The header row carries sample ids; each data row is one feature.
    `feature_idx` is the 0-based source row position — the vector
    slot after transpose. Implemented scan-side: every data row
    explodes into (sample, value) pairs zipped with the header, so
    the transpose is a streaming melt, never a wide pivot
    (SURVEY §4.2b).
    """
    # Parse as raw text + one split per line, not a 1,866-column CSV
    # scan: at the reference's real width the per-row build of one
    # struct per sample column dominated the melt (measured 20 s for
    # the 20,531x1,866 matrix vs 1.7 s for this form — the generated
    # code is a single split + slice + vectorized cast). The header
    # line is fetched once (first line of the first file) and becomes
    # a broadcast literal array; sample_id attaches by position via
    # element_at, so no per-sample expression exists anywhere.
    txt = spark.read.text(path)
    header = txt.first()["value"]
    sample_ids = header.split(sep)[1:]
    parts = F.split(F.regexp_replace("value", "\r$", ""), sep)
    # Stable feature index from source order: the file is one feature
    # per row; use a monotonic id over a single input file ordering.
    # (monotonically_increasing_id is partition-ordered; for
    # multi-part inputs a source row number column is required.)
    # try_cast, not cast: (a) the CSV reader this replaced produced
    # NULL for malformed numerics, and (b) InferFiltersFromGenerate
    # derives a `size(_vals) > 0` predicate from the posexplode that
    # the optimizer may evaluate BEFORE the header-line filter — an
    # ANSI cast there aborts the job on the header's sample-id fields.
    n_s = len(sample_ids)
    vals = F.transform(
        F.slice(parts, 2, n_s), lambda x: x.try_cast("double")
    )
    # Pad ragged data rows to the header width with NULLs: a line with
    # fewer fields than the header must surface as NULL values per
    # sample (the semantics of the CSV reader this form replaced), not
    # silently posexplode into fewer (sample, value) rows — a short row
    # would otherwise drop trailing samples and downstream align/NB
    # stats would quietly compute on a misaligned matrix.
    pad = F.array_repeat(F.lit(None).cast("double"), n_s)
    data = txt.filter(F.col("value") != F.lit(header)).select(
        F.monotonically_increasing_id().alias("feature_idx"),
        parts.getItem(0).alias("feature_id"),
        F.slice(F.concat(vals, pad), 1, n_s).alias("_vals"),
    )
    ids_lit = F.array(*[F.lit(s) for s in sample_ids])
    return data.select(
        "feature_id",
        "feature_idx",
        F.posexplode("_vals").alias("_spos", "value"),
    ).select(
        F.element_at(ids_lit, F.col("_spos") + 1).alias("sample_id"),
        "feature_id",
        "feature_idx",
        "value",
    )


def long_to_wide(long_df: DataFrame) -> DataFrame:
    """Assemble (sample_id, features array<double>) from long form.

    array_sort on (feature_idx, value) structs → transform extracts
    values in feature order. One shuffle keyed by sample_id; dense
    vector built in a single aggregation (no 20k-column pivot).
    """
    return (
        long_df.groupBy("sample_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("feature_idx", "value"))
            ).alias("_fv")
        )
        .select(
            "sample_id",
            F.transform(F.col("_fv"), lambda s: s["value"]).alias("features"),
        )
    )


def read_matrix_wide(spark: SparkSession, path: str, sep: str = "\t") -> DataFrame:
    """S1 end-to-end: matrix file → (sample_id, features) transposed."""
    return long_to_wide(read_matrix_long(spark, path, sep))


def derive_labels(df: DataFrame, sample_col: str = "sample_id") -> DataFrame:
    """P2: label = sample_id.split('.')[0] (ref CNC_AE_model_selection.py:514)."""
    return df.withColumn("label", F.split(F.col(sample_col), r"\.")[0])


def align_views(
    v1: DataFrame, v2: DataFrame, on: str = "sample_id", how: str = "inner"
) -> DataFrame:
    """P1+J1: replace the reference's positional-index alignment assert
    (np.alltrue(df1.index == df2.index), CNC_AE_model_selection.py:510-512)
    with an explicit join; callers compare counts to detect misalignment.
    """
    a = v1.select(on, F.col("features").alias("features_v1"))
    b = v2.select(on, F.col("features").alias("features_v2"))
    return a.join(b, on, how)


def assert_aligned(v1: DataFrame, v2: DataFrame, on: str = "sample_id") -> None:
    """Alignment gate: abort when the sample universes differ.

    One job: per key, c1 and c2 count its rows in each view. Then
    |v1| = Σc1, |v2| = Σc2 and |v1⋈v2| = Σc1·c2 over non-null keys
    (an inner join pairs every copy of a key with every copy on the
    other side), so duplicated ids are caught like missing ones.
    """
    tagged = v1.select(on, F.lit(1).alias("_c1"), F.lit(0).alias("_c2")).unionByName(
        v2.select(on, F.lit(0).alias("_c1"), F.lit(1).alias("_c2"))
    )
    per_key = tagged.groupBy(on).agg(F.sum("_c1").alias("c1"), F.sum("_c2").alias("c2"))
    n1, n2, nj = per_key.agg(
        F.coalesce(F.sum("c1"), F.lit(0)),
        F.coalesce(F.sum("c2"), F.lit(0)),
        F.coalesce(
            F.sum(F.when(F.col(on).isNotNull(), F.col("c1") * F.col("c2"))), F.lit(0)
        ),
    ).first()
    if not (n1 == n2 == nj):
        raise ValueError(
            f"views misaligned: |v1|={n1} |v2|={n2} |v1⋈v2|={nj}"
        )


def read_headerless_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: pd.read_csv(path, header=None) parity (ref mocss.py:370-373)."""
    return spark.read.option("header", False).csv(path)


def read_numpy_text(
    spark: SparkSession, path: str, delimiter: str | None = None
) -> DataFrame:
    """S4: np.loadtxt parity (ref Simulation_Auxiliary/test_metrics.py:5)
    — whitespace- (or delimiter-) separated numeric rows as
    (row_idx, vec array<double>). row_idx is np.loadtxt's positional
    row number; at scale prefer keyed formats, but the reader itself
    is distributed (spark.read.text + JVM split/cast, no Python UDF).
    """
    txt = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("_file_pos"), "value"
    )
    # For a single-file text read the split order follows file offset,
    # so monotonically_increasing_id preserves line order (partition
    # index in the high bits); the rank densifies it to 0..n-1.
    from pyspark.sql import Window

    sep = delimiter if delimiter is not None else r"\s+"
    return (
        txt.filter(F.trim("value") != "")
        .withColumn(
            "row_idx",
            F.row_number().over(Window.orderBy("_file_pos")).cast("long") - 1,
        )
        .select(
            "row_idx",
            F.transform(
                F.split(F.trim("value"), sep), lambda x: x.cast("double")
            ).alias("vec"),
        )
    )


def read_results_json(spark: SparkSession, path: str) -> DataFrame:
    """S5: json.load of metric dicts (ref AE_results.ipynb cell 22)."""
    return spark.read.option("multiLine", True).json(path)


def write_tsv(df: DataFrame, path: str, mode: str = "append") -> None:
    """S6/S7/S12: delimited result sink (ref CNC_AE_model_selection.py:375-379)."""
    df.write.mode(mode).option("sep", "\t").option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S10: embedding/result sink — parquet is the engine's native sink."""
    df.write.mode(mode).parquet(path)


def parse_hyper_report(spark: SparkSession, path: str) -> DataFrame:
    """S11: parse 'key: value'-per-line best-trial reports
    (ref CNC_AE_retraining.py hyper_dict parse, ~lines 266-277).
    """
    txt = spark.read.text(path)
    kv = txt.select(
        F.regexp_extract("value", r"^\s*([^:]+):\s*(.+)$", 1).alias("key"),
        F.regexp_extract("value", r"^\s*([^:]+):\s*(.+)$", 2).alias("val"),
    ).filter(F.col("key") != "")
    return kv
