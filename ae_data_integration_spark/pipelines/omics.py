"""The reference's full workflow, end to end (SURVEY §3.1-§3.3).

A user of wangc90/AE_Data_Integration runs, per dataset:

    ingest two omics TSVs → transpose → align → derive labels →
    stratified 80/20 split (seed) → per-split min-max scale →
    label encode → AE model selection (k-fold CV) → retrain →
    extract embeddings → per-subject recon loss → GaussianNB CV →
    clustering metrics → report tables

`run_reference_pipeline` is that workflow on this engine: one call,
DataFrames end to end, every stage the Spark-native operator built in
operators/ and sources/. The torch layer is the numpy executor
(operators/train.py, operators/inference.py) — swap points documented
there.

Citations: ingest/align CNC_AE_model_selection.py:507-516; prep
:518-524; selection :319-381,528-552; embeddings + NB + metrics
AE_results.ipynb cells 67-134.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import math

from ae_data_integration_spark.functions.portable import Q30, fpsum
from ae_data_integration_spark.operators.artifacts import save_weights
from ae_data_integration_spark.operators.inference import _l2norm_rows, embed_with_params
from ae_data_integration_spark.operators.metrics import cluster_metrics, munkres_accuracy
from ae_data_integration_spark.operators.nb import gaussian_nb_cv_accuracy
from ae_data_integration_spark.operators.kmeans import kmeans_relational
from ae_data_integration_spark.operators.scale import label_encode
from ae_data_integration_spark.operators.splits import stratified_split
from ae_data_integration_spark.operators.train import (
    _seed_from,
    objective_cv,
    sample_params,
    train_ae_numpy,
    train_full_on_executor,
)
from ae_data_integration_spark.functions.caching import persist_tracked
from ae_data_integration_spark.pipelines.report_full import scale_views_per_split
from ae_data_integration_spark.sources.matrix_io import (
    align_views,
    assert_aligned,
    derive_labels,
    read_matrix_wide,
)


@dataclass
class PipelineResult:
    aligned: DataFrame
    split_counts: dict
    best_trial: dict
    embeddings: DataFrame
    recon_stats: dict
    nb_accuracy: list
    metrics: dict
    artifacts_path: str | None = None
    trials: list = field(default_factory=list)


def _driver_side_stages(
    spark: SparkSession,
    train_scaled: DataFrame,
    test_scaled: DataFrame,
    n_trials: int,
    n_folds: int,
):
    """Fixture-scale twin of steps 4-6: collect-to-driver numpy loops
    (the reference's literal shape). Shares fold assignment and seeds
    with the distributed path, so both produce identical results —
    keep for toy-data cross-checks only; the default path never
    materializes the matrix on the driver."""
    pdf = (
        train_scaled.select("sample_id", "features_v1", "features_v2")
        .orderBy("sample_id")
        .toPandas()
    )
    x = np.concatenate(
        [np.stack(pdf["features_v1"].to_numpy()), np.stack(pdf["features_v2"].to_numpy())],
        axis=1,
    )
    trials = []
    for t in range(n_trials):
        hyper = sample_params(t)
        hyper["epochs"] = min(int(hyper["epochs"]), 5)
        fold = np.array(
            [int(_seed_from(f"cv:{sid}") % n_folds) for sid in pdf["sample_id"]]
        )
        vals = []
        for k in range(n_folds):
            _, _, vl = train_ae_numpy(
                x[fold != k], x[fold == k], hyper, seed=_seed_from(f"trial{t}:fold{k}")
            )
            vals.append(vl)
        trials.append({"trial": t, "hyper": hyper, "cv_loss": float(np.mean(vals))})
    best = min(trials, key=lambda r: r["cv_loss"])

    params, _losses, _ = train_ae_numpy(x, None, best["hyper"], seed=_seed_from("retrain"))

    def embed(df: DataFrame):
        p = df.select("sample_id", "label", "features_v1", "features_v2").orderBy(
            "sample_id"
        ).toPandas()
        xx = np.concatenate(
            [np.stack(p["features_v1"].to_numpy()), np.stack(p["features_v2"].to_numpy())],
            axis=1,
        )
        xn = _l2norm_rows(xx)
        h = np.tanh(xn @ params["W1"] + params["b1"])
        xhat = h @ params["W2"] + params["b2"]
        recon = np.sqrt(((xhat - xn) ** 2).sum(axis=1))
        return p, h, recon

    p_all, z_all, recon_all = embed(train_scaled.unionByName(test_scaled))
    emb = spark.createDataFrame(
        [
            (str(s), [float(v) for v in z], int(lab_id), float(r))
            for s, z, lab_id, r in zip(
                p_all["sample_id"],
                z_all,
                p_all["label"].astype("category").cat.codes,
                recon_all,
            )
        ],
        "sample_id string, embedding array<double>, label int, recon_loss double",
    )
    recon_stats = {
        "mean": float(recon_all.mean()),
        "std": float(recon_all.std()),  # ddof=0, numpy/reference convention
    }
    return trials, best, params, emb, recon_stats


def run_reference_pipeline(
    spark: SparkSession,
    view1_path: str,
    view2_path: str,
    train_prop: float = 0.8,
    n_trials: int = 2,
    n_folds: int = 3,
    artifacts_dir: str | None = None,
    fixture_scale: bool = False,
) -> PipelineResult:
    """One dataset through the whole reference workflow.

    Default path is fully distributed: CV folds train as parallel
    applyInPandas tasks (operators/train.objective_cv), the retrain
    runs on an executor (train_full_on_executor), and embeddings +
    recon stream through mapInPandas (inference.embed_with_params) —
    the driver never holds a feature matrix. ``fixture_scale=True``
    keeps the original collect-to-driver twin (toy data only); both
    paths share fold assignment (md5('cv:'‖sample_id)) and seeds, so
    they produce IDENTICAL cv losses and weights — asserted in
    tests/test_pipeline_e2e.py.
    """
    # §3.1 step 1-2: ingest + transpose + align + labels (S1/P1/P2)
    v1 = read_matrix_wide(spark, view1_path)
    v2 = read_matrix_wide(spark, view2_path)
    assert_aligned(v1, v2)
    both = derive_labels(align_views(v1, v2))

    # step 3: stratified split (R1) + per-split min-max scale (N1,
    # refit-per-split quirk) on each view
    split = stratified_split(both, "label", "sample_id", train_prop, salt="42")
    scaled = scale_views_per_split(split)
    train_scaled = scaled.filter(F.col("is_train"))
    test_scaled = scaled.filter(~F.col("is_train"))
    split_counts = {
        "n_train": split.filter(F.col("is_train")).count(),
        "n_test": split.filter(~F.col("is_train")).count(),
    }

    # step 4: model selection — n_trials × k-fold CV on the training
    # split (O1-O3). step 5: retrain on the full training split (O4).
    # step 6: embeddings + per-subject recon loss (C8/A2) for ALL rows.
    if fixture_scale:
        trials, best, params, emb, recon_stats = _driver_side_stages(
            spark, train_scaled, test_scaled, n_trials, n_folds
        )
    else:
        # Distributed: the training matrix never lands on the driver.
        # fold_salt='cv:' makes md5('cv:'‖sid) ≡ the fixture path's
        # _seed_from(f'cv:{sid}'), so both paths use identical folds.
        with_vec = train_scaled.select(
            "sample_id", F.concat("features_v1", "features_v2").alias("vec")
        ).persist()
        trials = []
        for t in range(n_trials):
            hyper = sample_params(t)
            hyper["epochs"] = min(int(hyper["epochs"]), 5)
            rows = objective_cv(
                with_vec, "sample_id", "vec", hyper=hyper, n_folds=n_folds,
                fold_salt="cv:", seed_salt=f"trial{t}",
            ).collect()
            trials.append({
                "trial": t, "hyper": hyper,
                "cv_loss": float(np.mean([r["val_loss"] for r in rows])),
            })
        best = min(trials, key=lambda r: r["cv_loss"])

        params = train_full_on_executor(
            with_vec, "sample_id", "vec", hyper=best["hyper"],
            seed=_seed_from("retrain"),
        )
        with_vec.unpersist()

        # Per-split scaling (the reference's refit quirk) for both halves.
        all_scaled = train_scaled.unionByName(test_scaled)
        emb_raw = embed_with_params(
            all_scaled, params, "sample_id", "features_v1", "features_v2"
        )
        enc = label_encode(
            split.select("sample_id", "label"), "label", "label_id"
        ).select("sample_id", F.col("label_id").cast("int").alias("label"))
        emb = emb_raw.join(F.broadcast(enc), "sample_id").select(
            "sample_id", "embedding", "label", "recon_loss"
        ).transform(persist_tracked)
        st = emb.agg(
            (fpsum("recon_loss", Q30) / F.count(F.lit(1)).cast("double")).alias("m"),
            (
                fpsum(F.col("recon_loss") * F.col("recon_loss"), Q30)
                / F.count(F.lit(1)).cast("double")
            ).alias("m2"),
        ).first()
        recon_stats = {
            "mean": float(st["m"]),
            # ddof=0, numpy/reference convention
            "std": float(math.sqrt(max(st["m2"] - st["m"] * st["m"], 0.0))),
        }

    artifacts_path = None
    if artifacts_dir:
        artifacts_path = f"{artifacts_dir}/retrained"
        save_weights(spark, params, artifacts_path, meta={"trial": str(best["trial"])})

    # step 7: GaussianNB CV on embeddings (C6), clustering metrics
    # (C1+C3/C4) — the evaluation queries of AE_results.ipynb.
    nb = gaussian_nb_cv_accuracy(
        emb, "sample_id", "label", "embedding", n_folds=n_folds, salt="nb"
    ).collect()
    clustered = kmeans_relational(emb, "sample_id", "embedding", k=3, n_iter=2)
    joined = emb.select(F.col("sample_id").alias("id"), "label").join(clustered, "id")
    cm = cluster_metrics(joined, "label", "cluster").first().asDict()
    cm["munkres_accuracy"] = munkres_accuracy(joined, "label", "cluster").first()[0]

    return PipelineResult(
        aligned=both,
        split_counts=split_counts,
        best_trial=best,
        embeddings=emb,
        recon_stats=recon_stats,
        nb_accuracy=[(r["fold"], r["accuracy"]) for r in nb],
        metrics=cm,
        artifacts_path=artifacts_path,
        trials=trials,
    )
