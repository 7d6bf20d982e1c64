"""Per-layer spans recorded from outside the package.

A layer is a module of the package. The tracer replaces each public
layer function in the namespaces that call it (the pipeline and
catalog modules) with a wrapper that opens a span. Every span runs
its Spark jobs under its own job group, so the jobs and tasks each
layer owns are read back from the status store when the pass ends.

A DataFrame a layer returns is forced (a ``noop`` write) before its
span closes, so the jobs that build it land in the layer that planned
it. That is what separates ``plan_s`` (driver time of the span that
no Spark job and no child span covers) from ``exec_s`` (the union of
the span's own job intervals). Forcing runs those jobs once more than
an untraced run does; ``trace_overhead_s`` reports the cost.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

PKG = "ae_data_integration_spark"
# module -> layer name; "pipelines" (self time of the root span) and
# "catalog" (the query functions) are added by the workloads
LAYER_OF_MODULE = {
    f"{PKG}.sources.matrix_io": "sources",
    **{
        f"{PKG}.operators.{m}": f"operators.{m}"
        for m in (
            "splits", "scale", "train", "inference", "nb", "kmeans",
            "metrics",
        )
    },
}
LAYERS = ("pipelines", "catalog", "sources") + tuple(
    sorted(set(LAYER_OF_MODULE.values()) - {"sources"})
)
STATS = ("calls", "plan_s", "exec_s", "jobs", "tasks")
EXTRA = ("operators.train.fold_fits", "operators.inference.rows", "trace_overhead_s")
METRIC_NAMES = tuple(f"{layer}.{s}" for layer in LAYERS for s in STATS) + EXTRA


class Tracer:
    """Spans of one traced pass, kept in memory until ``write``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.fold_fits = 0
        self.inference_rows = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str | None, name: str):
        """``layer=None`` marks tracer bookkeeping: excluded from every
        layer, but still subtracted from its parent's self time."""
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans), "parent": parent["id"] if parent else None,
            "trace": self.run_id, "layer": layer, "name": name,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, layer: str):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out.write.format("noop").mode("overwrite").save()
            if fn.__name__ == "objective_cv":  # fits one model per fold
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                self.fold_fits += bound.arguments["n_folds"]
            if layer == "operators.inference" and isinstance(out, DataFrame):
                with self.span(None, "count_rows"):
                    self.inference_rows += out.count()
            return out

        return traced

    def install(self, modules) -> None:
        """Wrap every public layer function the given modules import."""
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                layer = LAYER_OF_MODULE.get(getattr(obj, "__module__", None))
                if layer and inspect.isfunction(obj) and not name.startswith("_"):
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, self._wrap(obj, layer))

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()

    def _job_rows(self) -> dict[str, list[tuple[float, float, int]]]:
        """(submitted, completed, tasks run) per job, by span group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            rows = []
            for job_id in tracker.getJobIdsForGroup(s["group"]):
                j = store.job(job_id)
                rows.append((
                    j.submissionTime().get().getTime() / 1000.0,
                    j.completionTime().get().getTime() / 1000.0,
                    j.numCompletedTasks(),
                ))
            out[s["group"]] = rows
        return out

    def metrics(self) -> dict[str, float]:
        jobs = self._job_rows()
        child_wall = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child_wall[s["parent"]] += s["end"] - s["start"]
        m = {name: 0.0 if name.endswith("_s") else 0 for name in METRIC_NAMES}
        for s in self.spans:
            rows = jobs[s["group"]]
            s["jobs"] = len(rows)
            s["tasks"] = sum(r[2] for r in rows)
            s["exec_s"] = _union_length([(a, b) for a, b, _ in rows])
            s["plan_s"] = max(
                0.0, s["end"] - s["start"] - child_wall[s["id"]] - s["exec_s"]
            )
            if s["layer"] is None:
                continue
            for stat in STATS:
                m[f"{s['layer']}.{stat}"] += 1 if stat == "calls" else s[stat]
        m["operators.train.fold_fits"] = self.fold_fits
        m["operators.inference.rows"] = self.inference_rows
        return m

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
