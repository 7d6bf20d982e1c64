"""Sources layer: matrix TSV ingestion + transpose round-trip
(SURVEY S1/S2/P1/P2), verified against a pandas .T golden."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ae_data_integration_spark.sources.matrix_io import (
    align_views,
    assert_aligned,
    derive_labels,
    long_to_wide,
    read_matrix_long,
    read_matrix_wide,
)


@pytest.fixture(scope="module")
def matrix_tsv(tmp_path_factory):
    """features×samples TSV shaped like Simulation_Data/*.csv."""
    tmp = tmp_path_factory.mktemp("omics")
    samples = [f"Group{g}.Time{t}.Rep{r}" for g in (1, 2) for t in (1, 2) for r in (1, 2)]
    feats = [f"feat-{i}" for i in range(10)]
    data = {s: [round(0.1 * i + j, 3) for i in range(10)] for j, s in enumerate(samples)}
    pdf = pd.DataFrame(data, index=feats)
    path = tmp / "mat.tsv"
    pdf.to_csv(path, sep="\t", index_label="feature")
    return str(path), pdf


def test_matrix_transpose_matches_pandas(spark, matrix_tsv):
    path, pdf = matrix_tsv
    wide = read_matrix_wide(spark, path).toPandas().set_index("sample_id")
    want = pdf.T  # the reference's read_csv(...).T
    assert set(wide.index) == set(want.index)
    for s in want.index:
        assert list(wide.loc[s, "features"]) == list(want.loc[s].to_numpy())


def test_long_form_columns(spark, matrix_tsv):
    path, pdf = matrix_tsv
    long = read_matrix_long(spark, path)
    assert set(long.columns) == {"sample_id", "feature_id", "feature_idx", "value"}
    assert long.count() == pdf.shape[0] * pdf.shape[1]


def test_label_derivation(spark, matrix_tsv):
    path, _ = matrix_tsv
    wide = derive_labels(read_matrix_wide(spark, path))
    labels = {r["label"] for r in wide.select("label").distinct().collect()}
    assert labels == {"Group1", "Group2"}


def test_alignment_gate(spark, matrix_tsv):
    path, _ = matrix_tsv
    v = read_matrix_wide(spark, path)
    assert_aligned(v, v)  # self-aligned passes
    joined = align_views(v, v)
    assert joined.columns == ["sample_id", "features_v1", "features_v2"]
    bad = v.filter(F.col("sample_id") != "Group1.Time1.Rep1")
    with pytest.raises(ValueError, match="misaligned"):
        assert_aligned(v, bad)


def test_alignment_gate_duplicate_and_missing_ids(spark):
    """The one-job gate counts |v1⋈v2| as Σ c1·c2 per key: a duplicated
    id on either side or in both, and a missing id, each raise."""
    def view(ids):
        return spark.createDataFrame(
            [(s, [1.0]) for s in ids], "sample_id string, features array<double>"
        )

    ids = ["a.1", "a.2", "b.1"]
    assert_aligned(view(ids), view(list(reversed(ids))))
    for v1, v2 in (
        (ids + ["a.1"], ids),            # duplicated on one side
        (ids + ["a.1"], ids + ["a.1"]),  # duplicated on both: 4 join rows
        (ids[:-1], ids),                 # missing
        (ids, ids[:-1] + ["c.1"]),       # same sizes, different ids
    ):
        with pytest.raises(ValueError, match="misaligned"):
            assert_aligned(view(v1), view(v2))


def test_long_to_wide_orders_by_feature_idx(spark):
    rows = [("s1", 2, 30.0), ("s1", 0, 10.0), ("s1", 1, 20.0)]
    long = spark.createDataFrame(rows, "sample_id string, feature_idx long, value double")
    wide = long_to_wide(long).collect()
    assert wide[0]["features"] == [10.0, 20.0, 30.0]


# --- JDBC round-trip (embedded Derby inside the Spark JVM) -------------------


def test_jdbc_roundtrip_partitioned(spark, tmp_path):
    from ae_data_integration_spark.sources.jdbc import (
        DERBY_EMBEDDED_DRIVER,
        derby_url,
        read_jdbc,
        write_jdbc,
    )
    from tests.conftest import SF_SMOKE

    url = derby_url(str(tmp_path / "derbydb"))
    orders = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(500)
    )
    write_jdbc(orders, url, "orders_rt", mode="overwrite", driver=DERBY_EMBEDDED_DRIVER)

    bounds = orders.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    back = read_jdbc(
        spark, url, "orders_rt",
        partition_column="o_orderkey",
        lower_bound=int(bounds["lo"]),
        upper_bound=int(bounds["hi"]) + 1,
        num_partitions=4,
        driver=DERBY_EMBEDDED_DRIVER,
    )
    # the partition spec actually split the scan
    assert back.rdd.getNumPartitions() == 4
    got = sorted((r["o_orderkey"], r["o_custkey"]) for r in back.collect())
    want = sorted((r["o_orderkey"], r["o_custkey"]) for r in orders.collect())
    assert got == want
    # filter pushdown reaches the database (PushedFilters in the scan)
    from ae_data_integration_spark.plans.explain import formatted_plan

    plan = formatted_plan(back.filter(F.col("o_totalprice") > 1000.0))
    assert "PushedFilters" in plan and "o_totalprice" in plan


def test_jdbc_partition_spec_validation(spark, tmp_path):
    from ae_data_integration_spark.sources.jdbc import read_jdbc

    with pytest.raises(ValueError, match="partition_column requires"):
        read_jdbc(spark, "jdbc:derby:x", "t", partition_column="a")


def test_numpy_text_scan(spark, tmp_path):
    """S4: np.loadtxt parity on a whitespace-delimited numeric file."""
    import numpy as np

    from ae_data_integration_spark.sources.matrix_io import read_numpy_text

    rng = np.random.default_rng(3)
    x = rng.normal(size=(20, 5)).round(6)
    p = tmp_path / "m.txt"
    np.savetxt(p, x)
    got = read_numpy_text(spark, str(p)).orderBy("row_idx").collect()
    want = np.loadtxt(p)
    assert len(got) == 20
    for r in got:
        assert np.allclose(r["vec"], want[r["row_idx"]])
