"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (out_dir, seed): the same seed
writes byte-identical files. The program under test sees only these
files, never the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from scripts.make_report_fixture import BENCH_D1, BENCH_D2, FULL_MIX

# report_tcga: the TCGA_Data/labels.csv class mix (6 cancer types) at
# 1/6 of its 1,866 samples, with the report bench fixture's view widths
# (raw_gene and raw_concat take the Arrow NB scorer, the rest the
# relational one)
TCGA_SCALE = 6
TCGA_DIMS = (BENCH_D1, BENCH_D2)

# catalog_omics: the two tables the ten catalog queries read, at the
# row counts of the sf0.1 test tables
CATALOG_CUSTOMERS = 15_000
CATALOG_VECTORS, CATALOG_DIM, CATALOG_LABELS = 2_000, 64, 10
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _write_view(path: str, sample_ids: list[str], values: np.ndarray) -> None:
    """features×samples TSV: header of sample ids, one row per feature.
    Values are 2-decimal fixed point, so every reader parses the same
    doubles."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("feature\t" + "\t".join(sample_ids) + "\n")
        for f, row in enumerate(values):
            fh.write(f"g{f}\t" + "\t".join(f"{v:.2f}" for v in row) + "\n")
    os.replace(tmp, path)


def _two_views(
    out_dir: str, seed: int, labels: list[str], sample_ids: list[str],
    d1: int, d2: int,
) -> tuple[str, str]:
    """Class-structured views: per-class centre per feature + noise."""
    rng = np.random.default_rng(seed)
    classes = sorted(set(labels))
    y = np.array([classes.index(lab) for lab in labels])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, d in (("view1.tsv", d1), ("view2.tsv", d2)):
        centres = rng.normal(0.0, 0.5, size=(d, len(classes)))
        values = centres[:, y] + rng.normal(0.0, 1.0, size=(d, len(y)))
        path = os.path.join(out_dir, name)
        _write_view(path, sample_ids, values)
        paths.append(path)
    return paths[0], paths[1]


def tcga_views(out_dir: str, seed: int) -> tuple[str, str]:
    """report_tcga input: 312 samples named <cancer type>.S<i>."""
    rng = np.random.default_rng([seed, 2])
    labels = [lab for lab, c in FULL_MIX for _ in range(round(c / TCGA_SCALE))]
    labels = [labels[i] for i in rng.permutation(len(labels))]
    sample_ids = [f"{lab}.S{j:04d}" for j, lab in enumerate(labels)]
    return _two_views(out_dir, seed, labels, sample_ids, *TCGA_DIMS)


def catalog_tables(out_dir: str, seed: int) -> str:
    """catalog_omics input: ``customer`` and ``embeddings`` parquet with
    the column types of the star-schema test tables."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = CATALOG_CUSTOMERS
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
    })
    pq.write_table(customer, os.path.join(out_dir, "customer.parquet"))

    m, d = CATALOG_VECTORS, CATALOG_DIM
    label = rng.integers(0, CATALOG_LABELS, m)
    centres = rng.normal(0.0, 0.1, size=(CATALOG_LABELS, d))
    vecs = (centres[label] + rng.normal(0.0, 0.08, size=(m, d))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
