"""The §3.3 evaluation "report query" (AE_results.ipynb cells 67-134).

The reference's final deliverable is a table comparing GaussianNB
5-fold CV accuracy across 12 feature sets (AE_results.ipynb cells
119-124, nb_classification.py:27-29): the three raw inputs (Gene,
miRNA, concat), the 8 AE embeddings, and the JIVE baseline features.
``nb_feature_set_report`` is that query on this engine, end to end
from the two raw matrix files:

    ingest both views (S1 melt-transpose) → align (P1) → labels (P2)
    → seed-42 stratified split (R1) → per-split min-max scale (N1)
    → per-feature-set vectors (raw / C8 spec inference / J6 concat)
    → GaussianNB k-fold CV of every set in shared passes (C6)
    → tidy summary table

Scale design: a fixed handful of Spark jobs, whatever the number of
feature sets — the matrices stream through one sample-keyed shuffle
(sources/matrix_io) and are persisted; the alignment gate is one
job; the stratified split runs on the (sample_id, label) keys only
and its flags are broadcast back; ONE min/max aggregate grouped by
(split, feature) over the concatenated views scales both views of
both splits (operators/scale.minmax_scale_per_split). Then every
feature set shares one GaussianNB statistics pass and one Arrow
scoring pass (operators/nb.gaussian_nb_cv_accuracy_sets) over one
sample-keyed frame: the views plus every derived vector (AE
inference, Arrow-batched with broadcast weights; JIVE scores;
extras), gathered by one union + groupBy and broadcast onto the
views. What is collected is model-sized (class counts, NB sufficient
statistics, the summary rows); per-sample rows reach the driver only
as broadcasts of split flags and the narrow derived vectors.

JIVE note: the reference does not COMPUTE JIVE — it loads component
scores produced offline by the R `r.jive` package and concatenates
them (J6, AE_results.ipynb cells 108-116). The engine mirrors that
contract: `projection_scores` produces deterministic per-view +
joint component scores (md5-seeded Gaussian projections — the
loadable-scores stand-in) and the J6 concat is exercised for real;
swap in genuine JIVE score files via the same (sample_id, scores)
frame when they exist.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ae_data_integration_spark.functions.arrays import to_double
from ae_data_integration_spark.models.specs import ARCHITECTURES, embedding_dim
from ae_data_integration_spark.operators.inference import embed_and_recon
from ae_data_integration_spark.operators.nb import gaussian_nb_cv_accuracy_sets
from ae_data_integration_spark.operators.scale import minmax_scale_per_split
from ae_data_integration_spark.operators.splits import stratified_split
from ae_data_integration_spark.sources.matrix_io import (
    align_views,
    assert_aligned,
    derive_labels,
    read_matrix_wide,
)


def scale_views_per_split(df: DataFrame) -> DataFrame:
    """N1 on both views, fit per value of ``is_train`` (the reference's
    refit-per-split quirk: scaler fit on train and test INDEPENDENTLY,
    Data_prep.py:61-67) — one min/max aggregate for both views and
    both splits."""
    return minmax_scale_per_split(df, ["features_v1", "features_v2"], "is_train")


def projection_scores(
    df: DataFrame,
    view_dims: tuple[int, int],
    rank: int = 8,
    salt: str = "jive",
    key_col: str = "sample_id",
    v1_col: str = "features_v1",
    v2_col: str = "features_v2",
) -> DataFrame:
    """J6 feature build: joint + per-view component scores, concatenated
    [joint | v1 | v2] into one 3*rank vector per sample.

    Stand-in for the reference's externally-computed JIVE scores (R
    `r.jive`, loaded from CSV in AE_results.ipynb cells 108-116): the
    projection matrices are md5-seeded Gaussian (deterministic on any
    machine), broadcast once per executor (~(d1+d2)*rank doubles), and
    applied in Arrow-batched mapInPandas — the exact plumbing genuine
    JIVE score files would flow through via S2 + J6.
    """
    import hashlib

    spark = df.sparkSession
    d1, d2 = view_dims

    def _mat(name: str, d: int) -> np.ndarray:
        seed = int(hashlib.md5(f"{salt}:{name}".encode()).hexdigest()[:12], 16)
        rng = np.random.default_rng(seed)
        return rng.standard_normal((d, rank)) / math.sqrt(d)

    bp = spark.sparkContext.broadcast(
        {"j": _mat("joint", d1 + d2), "v1": _mat("v1", d1), "v2": _mat("v2", d2)}
    )
    schema = f"{key_col} string, scores array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = bp.value
        for pdf in batches:
            if not len(pdf):
                continue
            x1 = np.stack(pdf[v1_col].to_numpy())
            x2 = np.stack(pdf[v2_col].to_numpy())
            xj = np.concatenate([x1, x2], axis=1)
            scores = np.concatenate(
                [xj @ p["j"], x1 @ p["v1"], x2 @ p["v2"]], axis=1
            )
            yield pd.DataFrame(
                {key_col: pdf[key_col].astype(str), "scores": list(scores)}
            )

    return df.mapInPandas(run, schema)


def prepare_scaled_views(
    spark: SparkSession,
    view1_path: str,
    view2_path: str,
    train_prop: float = 0.8,
) -> tuple[DataFrame, dict, tuple[int, int]]:
    """Ingest → align → label → split → per-split scale. Returns
    (all_scaled with int labels, split_counts, (d1, d2))."""
    # The melt-transpose is the expensive lineage step at real width
    # (38M cells through one sample-keyed shuffle); persist both views
    # so the alignment gate, the split and the scale pass never
    # recompute it.
    v1 = read_matrix_wide(spark, view1_path).persist()
    v2 = read_matrix_wide(spark, view2_path).persist()
    assert_aligned(v1, v2)
    both = derive_labels(align_views(v1, v2))
    # R1 on the (sample_id, label) keys only: the per-class window
    # sorts keys, not vector rows, and the flags are broadcast back.
    flags = stratified_split(
        both.select("sample_id", "label"), "label", "sample_id", train_prop, salt="42"
    ).persist()
    try:
        per_class = flags.groupBy("label").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_train").cast("int")).alias("n_train"),
        ).collect()
        n_train = sum(r["n_train"] for r in per_class)
        split_counts = {
            "n_train": n_train, "n_test": sum(r["n"] for r in per_class) - n_train
        }
        # N4 codes from the same class list: position among the sorted
        # distinct labels, the numbering label_encode gives
        labels = F.array(*[F.lit(lab) for lab in sorted(r["label"] for r in per_class)])
        all_scaled = (
            scale_views_per_split(
                both.join(F.broadcast(flags.select("sample_id", "is_train")), "sample_id")
            )
            .select(
                "sample_id",
                (F.array_position(labels, F.col("label")) - 1).cast("int").alias("label"),
                "features_v1",
                "features_v2",
            )
            .persist()
        )
        # materialize, then release the source caches; the same job reads
        # the view widths
        d1, d2 = all_scaled.agg(
            F.max(F.size("features_v1")), F.max(F.size("features_v2"))
        ).first()
    finally:
        flags.unpersist()
    v1.unpersist()
    v2.unpersist()
    return all_scaled, split_counts, (int(d1), int(d2))


def nb_feature_set_report(
    spark: SparkSession,
    view1_path: str,
    view2_path: str,
    n_folds: int = 5,
    archs: tuple[str, ...] | None = None,
    jive_rank: int = 8,
    train_prop: float = 0.8,
    prepared: tuple[DataFrame, dict, tuple[int, int]] | None = None,
    extra_sets: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, dict]:
    """The cells-121/124 comparison table: one row per feature set with
    GaussianNB k-fold CV accuracy mean/std (np.std ddof=0, the
    notebook's convention). Returns (summary DataFrame, split_counts).

    Feature sets, matching the notebook's 12: raw_gene, raw_mirna,
    raw_concat, ae_<each of the 8 architectures>, jive_concat.

    ``prepared`` short-circuits ingestion with an existing
    prepare_scaled_views result (the caller keeps ownership of its
    persist). ``extra_sets`` appends caller-supplied feature frames
    (sample_id, vec) to the comparison — e.g. the embedding of an
    actually-RETRAINED model from run_reference_pipeline, the
    notebook's cells 88-106 flow. An extra frame must hold one vector
    for every sample; it is scored against the report's labels.
    """
    archs = tuple(ARCHITECTURES) if archs is None else archs
    if prepared is None:
        all_scaled, split_counts, (d1, d2) = prepare_scaled_views(
            spark, view1_path, view2_path, train_prop
        )
    else:
        all_scaled, split_counts, (d1, d2) = prepared

    # Raw feature sets (cells 119-120: Gene / miRNA / concatenated).
    sets = {
        "raw_gene": ["features_v1"],
        "raw_mirna": ["features_v2"],
        "raw_concat": ["features_v1", "features_v2"],
    }
    widths = {"features_v1": d1, "features_v2": d2}
    # Derived sets, one (sample_id, vec) frame and width each: the 8
    # AE embeddings (cells 88-106 extraction → 121 comparison) from
    # spec-built deterministic weights at the REAL view widths, the
    # JIVE baseline (cells 108-116 → 124: J6 concat of joint +
    # per-view component scores) and the caller's extras.
    derived = {
        f"ae_{arch}": (
            embed_and_recon(
                all_scaled, arch, "sample_id", view_dims=(d1, d2), key_type="string"
            ).select("sample_id", F.col("embedding").alias("vec")),
            embedding_dim(arch),
        )
        for arch in archs
    }
    derived["jive_concat"] = (
        projection_scores(all_scaled, (d1, d2), rank=jive_rank)
        .select("sample_id", F.col("scores").alias("vec")),
        3 * jive_rank,
    )
    extras = extra_sets or {}
    derived.update({name: (df.select("sample_id", "vec"), None) for name, df in extras.items()})

    # One sample-keyed frame of every derived vector (a union and one
    # groupBy, whatever the number of sets), persisted so the NB
    # statistics and scoring passes run the inference once, then
    # broadcast onto the scaled views.
    cols = {name: f"_d{i}" for i, name in enumerate(derived)}
    long = reduce(DataFrame.unionByName, [
        df.select("sample_id", F.lit(cols[name]).alias("_set"), to_double("vec").alias("vec"))
        for name, (df, _) in derived.items()
    ])
    wide = long.groupBy("sample_id").agg(*[
        F.first(F.when(F.col("_set") == c, F.col("vec")), ignorenulls=True).alias(c)
        for c in cols.values()
    ]).persist()
    sets.update({name: [c] for name, c in cols.items()})
    widths.update({cols[name]: w for name, (_, w) in derived.items()})
    try:
        if extras:
            extra_cols = [cols[name] for name in extras]
            widths.update(zip(extra_cols, wide.select(*map(F.size, extra_cols)).first()))
        acc = gaussian_nb_cv_accuracy_sets(
            all_scaled.join(F.broadcast(wide), "sample_id"), sets, "sample_id", "label",
            n_folds=n_folds, salt="nb", widths=widths,
        ).collect()
    finally:
        wide.unpersist()
    if prepared is None:
        all_scaled.unpersist()

    accs: dict[str, list[float]] = {name: [] for name in sets}
    n_scored = dict.fromkeys(sets, 0)
    for r in acc:  # ordered by (feature_set, fold)
        accs[r["feature_set"]].append(r["accuracy"])
        n_scored[r["feature_set"]] += r["n_test"]
    n_samples = split_counts["n_train"] + split_counts["n_test"]
    for name in extras:
        if n_scored[name] != n_samples:
            raise ValueError(
                f"extra set {name!r} scored {n_scored[name]} of {n_samples} samples"
            )
    out = []
    for name, set_cols in sets.items():
        mean = sum(accs[name]) / len(accs[name])
        out.append({
            "feature_set": name,
            "dim": sum(widths[c] for c in set_cols),
            "folds": len(accs[name]),
            "acc_mean": mean,
            "acc_std": math.sqrt(
                sum((a - mean) ** 2 for a in accs[name]) / len(accs[name])
            ),
        })
    summary = spark.createDataFrame(
        pd.DataFrame(out),
        "feature_set string, dim int, folds int, acc_mean double, acc_std double",
    )
    return summary, split_counts
