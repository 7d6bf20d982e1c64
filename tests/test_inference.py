"""Golden tests: the mapInPandas inference bridge must equal a local
numpy forward bit-for-bit (same kernels, Arrow round-trip in between)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ae_data_integration_spark.functions.arrays import slice_features, to_double
from ae_data_integration_spark.models.specs import (
    ARCHITECTURES,
    build_weights,
    embedding_dim,
)
from ae_data_integration_spark.operators.inference import (
    _l2norm_rows,
    ae_forward,
    embed_and_recon,
)
from ae_data_integration_spark.tables import table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def views(spark):
    e = table(spark, SF_SMOKE, "embeddings")
    df = e.select(
        F.col("vec_id").alias("sample_id"),
        slice_features(to_double("embedding"), 1, 32).alias("features_v1"),
        slice_features(to_double("embedding"), 33, 32).alias("features_v2"),
    )
    pdf = df.toPandas().sort_values("sample_id").reset_index(drop=True)
    return df, pdf


@pytest.mark.parametrize("arch", sorted(ARCHITECTURES))
def test_spark_inference_matches_numpy(spark, views, arch):
    df, pdf = views
    got = (
        embed_and_recon(df, arch)
        .toPandas()
        .sort_values("sample_id")
        .reset_index(drop=True)
    )
    x1 = np.stack(pdf["features_v1"].to_numpy())
    x2 = np.stack(pdf["features_v2"].to_numpy())
    w = build_weights(arch, (32, 32))
    z, x1_hat, x2_hat = ae_forward(x1, x2, arch, w)
    r1 = _l2norm_rows(x1_hat) - _l2norm_rows(x1)
    r2 = _l2norm_rows(x2_hat) - _l2norm_rows(x2)
    want_loss = np.sqrt((r1 * r1).sum(axis=1)) + np.sqrt((r2 * r2).sum(axis=1))

    assert (got["sample_id"].to_numpy() == pdf["sample_id"].to_numpy()).all()
    got_z = np.stack(got["embedding"].to_numpy())
    # BLAS GEMM blocking depends on batch shape, so Arrow-batched
    # execution differs from the one-shot local matmul at ulp level —
    # semantics equality is 1e-10-relative, not bit equality.
    np.testing.assert_allclose(got_z, z, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(got["recon_loss"].to_numpy(), want_loss, rtol=1e-10, atol=1e-12)


def test_embedding_dims_follow_spec(spark, views):
    df, _ = views
    dims = {
        arch: embed_and_recon(df, arch).select(F.size("embedding")).first()[0]
        for arch in ("CNC", "MM", "JISAE", "MOCSS")
    }
    # CNC: joint 8; MM: 8+8; JISAE: 8+8+8; MOCSS: mean-shared 8 + 8 + 8.
    assert dims == {"CNC": 8, "MM": 16, "JISAE": 24, "MOCSS": 24}
    # the spec-side width the report uses instead of a probe job
    assert {arch: embedding_dim(arch) for arch in dims} == dims
    for arch in ARCHITECTURES:
        z, _, _ = ae_forward(np.zeros((1, 32)), np.zeros((1, 32)), arch,
                             build_weights(arch))
        assert z.shape[1] == embedding_dim(arch), arch


def test_weights_deterministic():
    w1 = build_weights("CNC", (32, 32))
    w2 = build_weights("CNC", (32, 32))
    assert set(w1) == set(w2)
    for k in w1:
        np.testing.assert_array_equal(w1[k], w2[k])
