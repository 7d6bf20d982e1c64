"""The benchmark workloads: inputs, set-up, one timed pass, output checks.

Each workload is a closed loop with one client: ``run_pass`` issues
the workload's requests back to back and returns (name, seconds,
result) per request. ``compute_reference`` runs once after the timed
passes, and ``check`` compares each result with that reference,
returning the failure description or "".
"""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext

from ae_data_integration_spark.catalog import load_all, oracle_for
from ae_data_integration_spark.catalog import (
    arrays_q, kmeans_q, linalg_q, metrics_q, nb_q, prep_q, similarity_q, train_q,
)
from ae_data_integration_spark.functions.caching import release_tracked
from ae_data_integration_spark.oracle import compare_frames
from ae_data_integration_spark.pipelines import report_full

import inputs


def _no_span(layer: str, name: str):
    return nullcontext()


def _header_ids(path: str) -> list[str]:
    with open(path) as fh:
        return fh.readline().rstrip("\n").split("\t")[1:]


def _expected_split(sample_ids, train_prop: float = 0.8) -> dict:
    """Σ_c round-half-up(train_prop · n_c): the stratified split sizes."""
    counts: dict[str, int] = {}
    for sid in sample_ids:
        lab = sid.split(".")[0]
        counts[lab] = counts.get(lab, 0) + 1
    n_train = sum(math.floor(c * train_prop + 0.5) for c in counts.values())
    return {"n_train": n_train, "n_test": sum(counts.values()) - n_train}


class ReportTcga:
    """The GaussianNB feature-set report (nb_feature_set_report) on the
    TCGA class mix: TSV ingest, split, per-split scaling and NB CV on
    the raw gene, raw miRNA, raw concat and JIVE-stand-in sets. The AE
    embedding sets are left out (``archs=()``): each adds an inference
    pass and an NB set, about 14 s to a cold run on 4 cores."""

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed

    def trace_modules(self):
        return (report_full,)

    def make_inputs(self) -> None:
        self.v1, self.v2 = inputs.tcga_views(os.path.join(self.work_dir, "inputs"), self.seed)
        self.split = _expected_split(_header_ids(self.v1))
        d1, d2 = inputs.TCGA_DIMS
        self.dims = {"raw_gene": d1, "raw_mirna": d2, "raw_concat": d1 + d2,
                     "jive_concat": 24}
        self.first = None

    def run_pass(self, spark, span=_no_span):
        t0 = time.perf_counter()
        summary, split = report_full.nb_feature_set_report(
            spark, self.v1, self.v2, archs=()
        )
        out = ([r.asDict() for r in summary.collect()], split)
        return [("nb_feature_set_report", time.perf_counter() - t0, out)]

    def compute_reference(self, spark) -> None:
        """The expectations follow from the inputs (make_inputs)."""

    def check(self, name, result) -> str:
        rows, split = result
        if split != self.split:
            return f"split counts {split} != {self.split}"
        if {r["feature_set"]: r["dim"] for r in rows} != self.dims:
            return f"feature sets {[(r['feature_set'], r['dim']) for r in rows]}"
        # the generator separates the classes in every feature, so a
        # correct GaussianNB is near perfect on the raw sets (the 24-d
        # random JIVE stand-in projection keeps less: 0.76-0.83 seen)
        for r in rows:
            floor = 0.9 if r["feature_set"].startswith("raw_") else 0.0
            if r["folds"] != 5 or not floor <= r["acc_mean"] <= 1.0 or r["acc_std"] < 0:
                return f"summary row {r}"
        # every pass of one run reads the same files: same summary
        if self.first is None:
            self.first = rows
        elif rows != self.first:
            return "summary differs between passes on the same files"
        return ""


class CatalogOmics:
    """Catalog queries of the paper's operator families, back to back on
    generated parquet. The first eight are value-checked against their
    DuckDB oracles; the last two (a CV training trial, one AE inference
    pass) have no SQL oracle and are checked by their registered
    row/schema/semantic contracts."""

    QUERIES = (
        "prep_pipeline", "c6_gaussian_nb_cv", "y_c1_kmeans_relational",
        "c5_silhouette_exact", "l4_relu_mlp", "s1b_ann_fixed_probes",
        "y_a2_recon_loss", "y_c3_cluster_metrics", "z_o3_objective_cv",
        "z_c8_infer_cnc",
    )

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.registry = load_all()

    def make_inputs(self) -> None:
        self.sf_dir = inputs.catalog_tables(os.path.join(self.work_dir, "tables"), self.seed)

    def trace_modules(self):
        return (arrays_q, kmeans_q, linalg_q, metrics_q, nb_q, prep_q, similarity_q, train_q)

    def run_pass(self, spark, span=_no_span):
        out = []
        for q in self.QUERIES:
            release_tracked()
            t0 = time.perf_counter()
            with span("catalog", q):
                pdf = self.registry[q].fn(spark, self.sf_dir).toPandas()
            out.append((q, time.perf_counter() - t0, pdf))
        release_tracked()
        return out

    def compute_reference(self, spark) -> None:
        """Every oracled query's DuckDB result on the same parquet."""
        import duckdb

        self.spark = spark
        con = duckdb.connect()
        try:
            for t in ("customer", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.reference = {
                q: con.execute(oracle_for(self.registry[q], self.sf_dir)).fetchdf()
                for q in self.QUERIES if self.registry[q].oracle is not None
            }
        finally:
            con.close()

    def check(self, name, result) -> str:
        q = self.registry[name]
        if q.oracle is not None:
            rel_tol = 1e-9 if "approx" in q.tags else 0.0
            return compare_frames(result, self.reference[name], rel_tol)
        if len(result) < q.min_rows:
            return f"{len(result)} rows < {q.min_rows}"
        if q.columns is not None and sorted(result.columns) != sorted(q.columns):
            return f"columns {sorted(result.columns)}"
        return q.check(result, self.spark, self.sf_dir) if q.check else ""


WORKLOADS = {
    "report_tcga": ReportTcga,
    "catalog_omics": CatalogOmics,
}
