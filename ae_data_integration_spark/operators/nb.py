"""Gaussian Naive Bayes with k-fold CV, purely as DataFrame aggs.

The reference's flagship evaluation classifier
(Evaluation_Auxiliary/nb_classification.py:1-38: sklearn
cross_validate(GaussianNB(), cv=5)). MLlib's NaiveBayes is
multinomial-only, so the engine implements the Gaussian variant
natively (SURVEY §2.8 C6) — it is *trivially relational*: per
(class, dim) mean/variance aggregates + a log-likelihood scoring
projection + an argmax aggregation.

Scale design: TWO distributed passes over the data, total.

1. Sufficient statistics: one explode + groupBy producing fixed-point
   partial sums per (fold, class, dim). The result is MODEL-sized
   (folds × classes × dims cells — independent of row count, like a
   kmeans centroid table), so it is collected and the per-fold
   train statistics (total − fold), the adaptive sklearn smoothing
   epsilon, and the class priors are assembled DRIVER-SIDE with the
   same IEEE double ops the previous all-relational formulation ran
   engine-side. This removes ~8 shuffle/broadcast stages over
   1600-row relations from the critical path — at any SF the model
   never grows, so driver assembly is scale-safe.
2. Scoring: the model re-enters the plan as a broadcast literal
   DataFrame; one explode + broadcast join + two hash aggregations
   produce per-fold accuracy. Partial sums are fixed-point (decimal
   exact, partition-order independent); only log/ln is sub-ulp
   engine-variant, which can flip an argmax only on near-exact
   score ties.

Several feature sets, one pass each (gaussian_nb_cv_accuracy_sets):
a report comparing feature sets of the same samples (raw views, their
concatenation, embeddings) shares both passes instead of paying two
per set. A set is an ordered list of base vector columns of one
frame; the statistics pass explodes the concatenation of all base
columns once, each set's cells are sliced out of those per-dim cells
and assembled by the same _assemble_model (so each set keeps its own
adaptive epsilon and priors), and one Arrow mapInPandas pass scores
every row against every set's broadcast model. The job count is
fixed whatever the number of sets. gaussian_nb_cv_accuracy_wide is
the one-set case.
"""

from __future__ import annotations

import bisect
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ae_data_integration_spark.functions.arrays import to_double
from ae_data_integration_spark.functions.hashing import md5_bucket
from ae_data_integration_spark.functions.portable import Q30, Q40, np_round_half_away
from ae_data_integration_spark.functions.routing import route_wide

_LN_2PI = float(math.log(2 * math.pi))


def _suff_stats(base: DataFrame) -> list:
    """PASS 1 — one-shuffle sufficient statistics per (fold, class,
    dim), fixed-point exact. cnt is constant across dims of a
    (fold, class), so class/fold row counts fall out of the same
    aggregate: no separate count pass. The result is MODEL-sized."""
    long = base.select(
        "id", "y", "fold", F.posexplode("vec").alias("dim", "x")
    )
    return (
        long.groupBy("fold", "y", "dim")
        .agg(
            F.sum(F.round(F.col("x") * F.lit(Q40)).cast("long")).alias("s1"),
            F.sum(F.round(F.col("x") * F.col("x") * F.lit(Q40)).cast("long")).alias("s2"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )


def gaussian_nb_cv_accuracy(
    df: DataFrame,
    key_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    n_folds: int = 5,
    salt: str = "nb",
    var_smoothing: float = 1e-9,
    scorer: str = "auto",
    dim: int | None = None,
) -> DataFrame:
    """Per-fold CV accuracy of Gaussian NB. Returns (fold, n_test, accuracy).

    ``scorer`` picks the scoring pass (the model fit is shared and
    identical): "relational" = per-class row-expansion join + hash
    agg, fully SQL-replayable; "arrow" = broadcast-model numpy kernel
    (gaussian_nb_cv_accuracy_wide), zero scoring shuffle; "auto" =
    arrow when the vector is wide (functions.routing.route_wide,
    width > 256 — measured at 100x data: 66 s relational vs 8.4 s
    arrow on 6.4M x 64-d rows, the x-classes row expansion is the
    relational path's scale term), else relational. Both scorers are
    bit-equal (c6b_nb_wide_scorer passes the identical DuckDB
    oracle); catalog queries pin the scorer so their physical plans
    stay stable under the gate.

    ``dim``: the known vector width; passing it lets "auto" route
    without the one-job width probe (report_full knows its view
    widths and passes them).
    """
    if scorer not in ("auto", "relational", "arrow"):
        raise ValueError(scorer)
    if scorer == "arrow" or (
        scorer == "auto" and route_wide(df, vec_col, dim=dim)
    ):
        return gaussian_nb_cv_accuracy_wide(
            df, key_col, label_col, vec_col, n_folds, salt, var_smoothing
        )
    spark = df.sparkSession
    base = df.select(
        F.col(key_col).alias("id"),
        F.col(label_col).alias("y"),
        md5_bucket(key_col, n_folds, salt).alias("fold"),
        to_double(vec_col).alias("vec"),
    )
    # the statistics pass and the scoring join each re-derive the
    # exploded form — at corpus scale a 64x-exploded cache costs more
    # than the second scan-side explode.
    long = base.select(
        "id", "y", "fold", F.posexplode("vec").alias("dim", "x")
    )
    cells = _suff_stats(base)
    cand_rows, prior_rows = _assemble_model(cells, n_folds, var_smoothing)

    cand = spark.createDataFrame(
        cand_rows, "fold int, cls long, dim int, mu double, var double"
    )
    priors = spark.createDataFrame(
        prior_rows, "fold int, cls long, log_prior double"
    )

    # PASS 2 — score every test row against every class of its fold's
    # model. Clamp at -1e4 so a degenerate (class, dim) variance cannot
    # overflow the fixed-point accumulator (argmax is unaffected).
    ll_dim = F.greatest(
        F.lit(-0.5) * (F.lit(_LN_2PI) + F.log(F.col("var")))
        - (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))
        / (F.lit(2.0) * F.col("var")),
        F.lit(-1e4),
    )
    scored = (
        long.join(F.broadcast(cand), ["fold", "dim"])
        .groupBy("id", "y", "fold", "cls")
        .agg((F.sum(F.round(ll_dim * F.lit(Q30)).cast("long")) / F.lit(float(Q30))).alias("ll"))
        .join(F.broadcast(priors), ["fold", "cls"])
        .withColumn("score", F.col("ll") + F.col("log_prior"))
    )
    # Argmax as a max-of-struct aggregation, not a row_number window:
    # a window would exchange + SORT the whole scored table by id; the
    # hash agg partial-aggregates map-side and never sorts. Tie-break
    # matches ORDER BY score DESC, cls ASC via the -cls struct field.
    pred = (
        scored.groupBy("id", "y", "fold")
        .agg(
            F.max(
                F.struct(F.col("score"), (-F.col("cls")).alias("_nc"), F.col("cls"))
            )["cls"].alias("pred")
        )
    )
    return _fold_accuracy(pred)


def _fold_accuracy(pred: DataFrame, keys: tuple[str, ...] = ("fold",)) -> DataFrame:
    return (
        pred.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            (
                F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("accuracy"),
        )
        .orderBy(*keys)
    )


def _assemble_model(cells: list, n_folds: int, var_smoothing: float):
    """Driver-side model assembly (pure-integer partials → the exact
    double expressions the engine-side plan used to run). Returns
    (cand_rows, prior_rows): per-(test-fold, class) train-split
    means/variances with sklearn's ADAPTIVE smoothing, and log
    priors."""
    s1 = {(c["fold"], c["y"], c["dim"]): c["s1"] for c in cells}
    s2 = {(c["fold"], c["y"], c["dim"]): c["s2"] for c in cells}
    cnt = {(c["fold"], c["y"], c["dim"]): c["cnt"] for c in cells}
    classes = sorted({k[1] for k in s1})
    dims = sorted({k[2] for k in s1})
    folds = range(n_folds)

    # totals per (class, dim) and per dim (classes pooled), exact ints
    t1 = {(y, d): sum(s1.get((f, y, d), 0) for f in folds) for y in classes for d in dims}
    t2 = {(y, d): sum(s2.get((f, y, d), 0) for f in folds) for y in classes for d in dims}
    tc = {(y, d): sum(cnt.get((f, y, d), 0) for f in folds) for y in classes for d in dims}

    # sklearn GaussianNB smoothing is ADAPTIVE: epsilon = var_smoothing
    # * max over dims of Var(x) on the fold's training rows (classes
    # pooled), not an absolute 1e-9 — matching the reference's
    # nb_classification.py classifier exactly.
    eps = {}
    for f in folds:
        vmax = None
        for d in dims:
            u1 = (sum(t1[(y, d)] for y in classes)
                  - sum(s1.get((f, y, d), 0) for y in classes)) / float(Q40)
            u2 = (sum(t2[(y, d)] for y in classes)
                  - sum(s2.get((f, y, d), 0) for y in classes)) / float(Q40)
            n_d = (sum(tc[(y, d)] for y in classes)
                   - sum(cnt.get((f, y, d), 0) for y in classes))
            if n_d <= 0:
                continue
            mud = u1 / n_d
            vard = u2 / n_d - mud * mud
            vmax = vard if vmax is None or vard > vmax else vmax
        eps[f] = var_smoothing * (vmax or 0.0)

    # train stats for test-fold f = totals − fold-f partials
    cand_rows = []
    for f in folds:
        for y in classes:
            n_tr = tc[(y, dims[0])] - cnt.get((f, y, dims[0]), 0)
            if n_tr <= 0:
                continue  # class absent from training split: no candidate
            for d in dims:
                sum1 = (t1[(y, d)] - s1.get((f, y, d), 0)) / float(Q40)
                sum2 = (t2[(y, d)] - s2.get((f, y, d), 0)) / float(Q40)
                mu = sum1 / n_tr
                var = sum2 / n_tr - mu * mu + eps[f]
                cand_rows.append((f, y, d, mu, var))

    # class priors per test fold, same total-minus-fold trick
    n_fold = {f: sum(cnt.get((f, y, dims[0]), 0) for y in classes) for f in folds}
    n_tot = sum(n_fold.values())
    prior_rows = []
    for f in folds:
        for y in classes:
            n_tr_y = tc[(y, dims[0])] - cnt.get((f, y, dims[0]), 0)
            if n_tr_y <= 0:
                continue
            prior_rows.append(
                (f, y, math.log(n_tr_y / float(n_tot - n_fold[f])))
            )

    return cand_rows, prior_rows


def gaussian_nb_cv_accuracy_wide(
    df: DataFrame,
    key_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    n_folds: int = 5,
    salt: str = "nb",
    var_smoothing: float = 1e-9,
) -> DataFrame:
    """C6 at WIDE vector dimensionality (the reference's raw 20,531-
    feature Gene view, nb_classification.py on the un-embedded
    inputs): the one-set case of gaussian_nb_cv_accuracy_sets. Same
    model as gaussian_nb_cv_accuracy, scored by the broadcast-model
    Arrow kernel instead of the per-class row-expansion join (at
    d=21,577 that join explodes 1,866 rows into 40M (dim, x) rows and
    re-expands them x classes). Returns (fold, n_test, accuracy).
    """
    return gaussian_nb_cv_accuracy_sets(
        df, {"": [vec_col]}, key_col, label_col, n_folds, salt, var_smoothing
    ).drop("feature_set")


def gaussian_nb_cv_accuracy_sets(
    df: DataFrame,
    sets: dict[str, list[str]],
    key_col: str = "vec_id",
    label_col: str = "label",
    n_folds: int = 5,
    salt: str = "nb",
    var_smoothing: float = 1e-9,
    widths: dict[str, int] | None = None,
) -> DataFrame:
    """GaussianNB k-fold CV for several feature sets of one frame in one
    statistics pass and one scoring pass. Returns (feature_set, fold,
    n_test, accuracy) ordered by (feature_set, fold).

    A feature set is an ordered list of base vector columns of ``df``
    whose concatenation is the set's vector: ``{"raw_gene": ["v1"],
    "raw_concat": ["v1", "v2"]}``. Each base column must have one
    width on every row, and a row with a null base vector takes part
    in no set. Every set gets exactly the model gaussian_nb_cv_accuracy
    fits on its vector (same folds, fixed-point statistics, adaptive
    epsilon and tie-break):

    1. Statistics: ONE _suff_stats job over the concatenation of all
       base columns, each base counted once however many sets use it.
       Each set's cells are sliced out of those per-dim cells and
       renumbered, then assembled by _assemble_model on the driver.
    2. Scoring: every set's model is broadcast once; one Arrow
       mapInPandas pass scores each row against every set (int64-
       quantized per-dim log-likelihoods, so the per-row score does
       not depend on batching or partitioning), then one
       groupBy(feature_set, fold) aggregate counts hits.

    ``widths`` gives known base widths. The width of every base but
    the last (in order of first use) is needed to slice the cells;
    the missing ones are read from one row in one job.
    """
    spark = df.sparkSession
    bases = list(dict.fromkeys(c for cols in sets.values() for c in cols))
    widths = {c: widths[c] for c in bases if widths and c in widths}
    missing = [c for c in bases[:-1] if c not in widths]
    if missing:
        row = df.select(*[F.size(c) for c in missing]).first()
        widths.update(zip(missing, row or [0] * len(missing)))
    bcols = [f"_b{i}" for i in range(len(bases))]
    base = df.select(
        F.col(key_col).alias("id"),
        F.col(label_col).cast("long").alias("y"),
        md5_bucket(key_col, n_folds, salt).alias("fold"),
        *[to_double(c).alias(b) for c, b in zip(bases, bcols)],
    )
    cells = _suff_stats(base.select("id", "y", "fold", F.concat(*bcols).alias("vec")))

    starts = [0]
    for c in bases[:-1]:
        starts.append(starts[-1] + widths[c])
    if cells:
        widths[bases[-1]] = max(c["dim"] for c in cells) + 1 - starts[-1]
    base_cells: dict[str, list] = {c: [] for c in bases}
    for c in cells:
        i = bisect.bisect_right(starts, c["dim"]) - 1
        base_cells[bases[i]].append(
            (c["fold"], c["y"], c["dim"] - starts[i], c["s1"], c["s2"], c["cnt"])
        )
    models = {}
    for name, cols in sets.items():
        set_cells, off = [], 0
        for c in cols:
            set_cells += [
                {"fold": f, "y": y, "dim": d + off, "s1": s1, "s2": s2, "cnt": n}
                for f, y, d, s1, s2, n in base_cells[c]
            ]
            off += widths.get(c, 0)
        models[name] = _fold_models(
            *_assemble_model(set_cells, n_folds, var_smoothing), n_folds
        )
    bmodel = spark.sparkContext.broadcast(models)
    set_bcols = {name: [bcols[bases.index(c)] for c in cols] for name, cols in sets.items()}

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bmodel.value
        for pdf in batches:
            pdf = pdf.dropna(subset=bcols)
            if not len(pdf):
                continue
            xs = {b: np.stack(pdf[b].to_numpy()) for b in bcols}
            fold = pdf["fold"].to_numpy()
            y = pdf["y"].to_numpy()
            out = []
            for name, cols in set_bcols.items():
                x_set = (np.concatenate([xs[b] for b in cols], axis=1)
                         if len(cols) > 1 else xs[cols[0]])
                for f in np.unique(fold):
                    if int(f) not in m[name]:
                        # fold with test rows but no training cells
                        # anywhere: the relational path emits no
                        # predictions for that fold — match it.
                        continue
                    sel = fold == f
                    out.append(pd.DataFrame({
                        "feature_set": name, "fold": int(f), "y": y[sel],
                        "pred": _predict(m[name][int(f)], x_set[sel]),
                    }))
            if out:  # every fold skipped → no predictions this batch
                yield pd.concat(out, ignore_index=True)

    # fold as long: the relational twin's fold (md5_bucket modulo) is
    # bigint, and the driver's dtype-strict compare flags int32 vs the
    # oracle's int64.
    pred = base.select("fold", "y", *bcols).mapInPandas(
        score, "feature_set string, fold long, y long, pred long"
    )
    return _fold_accuracy(pred, ("feature_set", "fold"))


def _fold_models(cand_rows: list, prior_rows: list, n_folds: int) -> dict[int, dict]:
    """Per test fold: the classes present in training and their
    (classes x dims) means, variances and log priors as arrays."""
    dims = sorted({d for _, _, d, _, _ in cand_rows})
    model: dict[int, dict] = {}
    for f in range(n_folds):
        classes = sorted({y for ff, y, *_ in cand_rows if ff == f})
        if not classes:
            continue
        c_idx = {y: i for i, y in enumerate(classes)}
        mu = np.zeros((len(classes), len(dims)))
        var = np.ones((len(classes), len(dims)))
        for ff, y, d, m, v in cand_rows:
            if ff == f:
                mu[c_idx[y], d] = m
                var[c_idx[y], d] = v
        lp = np.zeros(len(classes))
        for ff, y, p in prior_rows:
            if ff == f:
                lp[c_idx[y]] = p
        model[f] = {"classes": np.array(classes), "mu": mu, "var": var, "lp": lp}
    return model


def _predict(fm: dict, x: np.ndarray) -> np.ndarray:
    """Most likely class per row of x under one fold's model."""
    scores = np.empty((len(x), len(fm["classes"])))
    for ci in range(len(fm["classes"])):
        ll = (
            -0.5 * (_LN_2PI + np.log(fm["var"][ci]))
            - (x - fm["mu"][ci]) ** 2 / (2.0 * fm["var"][ci])
        )
        np.maximum(ll, -1e4, out=ll)  # same degenerate-var clamp
        # half-away-from-zero, NOT np.rint (ties-to-even): Spark/DuckDB
        # round() ties away from zero, and an exact-half ll*Q30 under
        # rint would put this kernel one grid step off the relational
        # twin / oracle.
        q = np_round_half_away(ll * Q30).sum(axis=1)
        scores[:, ci] = q / float(Q30) + fm["lp"][ci]
    # argmax returns the FIRST max: classes ascending == the relational
    # score-DESC-then-cls-ASC tie-break
    return fm["classes"][np.argmax(scores, axis=1)]
