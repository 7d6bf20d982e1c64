"""The feature-set report's shared passes, checked against per-set runs.

nb_feature_set_report fits and scores every feature set in one
GaussianNB statistics pass and one Arrow scoring pass, and
prepare_scaled_views scales both views of both splits with one min/max
aggregate. On a small generated pair, every summary row must equal,
bit for bit, separate relational gaussian_nb_cv_accuracy runs, and the
scaled rows must equal per-view, per-split minmax_scale_features.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ae_data_integration_spark.operators.inference import embed_and_recon
from ae_data_integration_spark.operators.nb import (
    gaussian_nb_cv_accuracy,
    gaussian_nb_cv_accuracy_sets,
)
from ae_data_integration_spark.operators.scale import label_encode, minmax_scale_features
from ae_data_integration_spark.operators.splits import stratified_split
from ae_data_integration_spark.pipelines.report_full import (
    nb_feature_set_report,
    prepare_scaled_views,
    projection_scores,
)
from ae_data_integration_spark.sources.matrix_io import (
    align_views,
    derive_labels,
    read_matrix_wide,
)

MIX = (("breast", 20), ("kidney", 9), ("liver", 15), ("lung", 12))
D1, D2 = 48, 16


@pytest.fixture(scope="module")
def small_pair(tmp_path_factory):
    """Two class-structured features×samples TSVs, 2-decimal values."""
    tmp = tmp_path_factory.mktemp("report_small")
    rng = np.random.default_rng(11)
    labels = [lab for lab, n in MIX for _ in range(n)]
    labels = [labels[i] for i in rng.permutation(len(labels))]
    ids = [f"{lab}.S{j:03d}" for j, lab in enumerate(labels)]
    y = np.array([[lab for lab, _ in MIX].index(lab) for lab in labels])
    paths = []
    for name, d in (("v1.tsv", D1), ("v2.tsv", D2)):
        centres = rng.normal(0.0, 0.6, size=(d, len(MIX)))
        values = centres[:, y] + rng.normal(0.0, 1.0, size=(d, len(y)))
        path = tmp / name
        with open(path, "w") as fh:
            fh.write("feature\t" + "\t".join(ids) + "\n")
            for f, row in enumerate(values):
                fh.write(f"g{f}\t" + "\t".join(f"{v:.2f}" for v in row) + "\n")
        paths.append(str(path))
    return paths[0], paths[1]


@pytest.fixture(scope="module")
def prepared(spark, small_pair):
    out = prepare_scaled_views(spark, *small_pair)
    yield out
    out[0].unpersist()


def _summary_row(name: str, dim: int, rows) -> dict:
    accs = [r["accuracy"] for r in sorted(rows, key=lambda r: r["fold"])]
    mean = sum(accs) / len(accs)
    return {
        "feature_set": name, "dim": dim, "folds": len(accs), "acc_mean": mean,
        "acc_std": math.sqrt(sum((a - mean) ** 2 for a in accs) / len(accs)),
    }


def test_prepare_matches_per_view_per_split_scaling(spark, small_pair, prepared):
    """One (split, idx) aggregate == four minmax_scale_features fits;
    keys-only split flags == the full-row stratified split."""
    all_scaled, counts, dims = prepared
    v1 = read_matrix_wide(spark, small_pair[0])
    v2 = read_matrix_wide(spark, small_pair[1])
    split = stratified_split(
        derive_labels(align_views(v1, v2)), "label", "sample_id", 0.8, salt="42"
    )

    def fit(df, col):
        return minmax_scale_features(
            df.withColumnRenamed(col, "features"), "features"
        ).withColumnRenamed("features", col)

    ref = None
    for flag in (F.col("is_train"), ~F.col("is_train")):
        part = fit(fit(split.filter(flag), "features_v1"), "features_v2")
        ref = part if ref is None else ref.unionByName(part)
    enc = label_encode(split.select("sample_id", "label"), "label", "label_id")
    ref = ref.join(enc.select("sample_id", "label_id"), "sample_id")
    want = {
        r["sample_id"]: (r["label_id"], r["features_v1"], r["features_v2"])
        for r in ref.collect()
    }
    got = {
        r["sample_id"]: (r["label"], r["features_v1"], r["features_v2"])
        for r in all_scaled.collect()
    }
    assert got == want
    assert counts == {
        "n_train": split.filter(F.col("is_train")).count(),
        "n_test": split.filter(~F.col("is_train")).count(),
    }
    assert dims == (D1, D2)


def test_report_equals_per_set_relational_runs(spark, prepared):
    all_scaled, counts, (d1, d2) = prepared
    labels = all_scaled.select("sample_id", "label")
    extra = all_scaled.select(
        "sample_id", "label",
        F.slice("features_v1", 1, 6).cast("array<float>").alias("vec"),
    )
    summary, got_counts = nb_feature_set_report(
        spark, "", "", archs=("CNC",), prepared=prepared,
        extra_sets={"extra": extra},
    )
    assert got_counts == counts

    def vec(col):
        return all_scaled.select("sample_id", "label", col.alias("vec"))

    per_set = {
        "raw_gene": (vec(F.col("features_v1")), d1),
        "raw_mirna": (vec(F.col("features_v2")), d2),
        "raw_concat": (vec(F.concat("features_v1", "features_v2")), d1 + d2),
        "ae_CNC": (
            embed_and_recon(all_scaled, "CNC", "sample_id", view_dims=(d1, d2),
                            key_type="string")
            .join(labels, "sample_id")
            .select("sample_id", "label", F.col("embedding").alias("vec")),
            8,
        ),
        "jive_concat": (
            projection_scores(all_scaled, (d1, d2), rank=8)
            .join(labels, "sample_id")
            .select("sample_id", "label", F.col("scores").alias("vec")),
            24,
        ),
        "extra": (extra, 6),
    }
    want = [
        _summary_row(name, dim, gaussian_nb_cv_accuracy(
            df, "sample_id", "label", "vec", n_folds=5, salt="nb",
            scorer="relational",
        ).collect())
        for name, (df, dim) in per_set.items()
    ]
    assert [r.asDict() for r in summary.collect()] == want


def test_report_rejects_extra_set_missing_samples(spark, prepared):
    all_scaled = prepared[0]
    partial = all_scaled.filter(~F.col("sample_id").startswith("kidney")).select(
        "sample_id", "label", F.slice("features_v2", 1, 3).alias("vec")
    )
    with pytest.raises(ValueError, match="scored"):
        nb_feature_set_report(
            spark, "", "", archs=(), prepared=prepared,
            extra_sets={"partial": partial},
        )


def test_sets_slice_shared_and_reordered_bases(spark, prepared):
    """Sets reuse and reorder base columns; each set still gets exactly
    the relational model of its own concatenated vector."""
    all_scaled = prepared[0]
    df = all_scaled.select(
        "sample_id", "label",
        F.col("features_v1").alias("a"),
        F.slice("features_v2", 1, 5).alias("b"),
    )
    sets = {"b": ["b"], "ab": ["a", "b"], "ba": ["b", "a"], "a": ["a"]}
    got = gaussian_nb_cv_accuracy_sets(df, sets, "sample_id", "label").collect()
    for name, cols in sets.items():
        one = df.select("sample_id", "label", F.concat(*cols).alias("vec"))
        want = gaussian_nb_cv_accuracy(
            one, "sample_id", "label", "vec", scorer="relational"
        ).collect()
        assert [
            (r["fold"], r["n_test"], r["accuracy"])
            for r in got if r["feature_set"] == name
        ] == [(r["fold"], r["n_test"], r["accuracy"]) for r in want], name
