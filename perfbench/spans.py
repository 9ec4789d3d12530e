"""Spans around the public module functions the workloads call.

The engine calls its layers as module attributes (``det.score_distributed``,
``dd.dedup_exact``...), so replacing those attributes with wrappers traces
every call without touching the program. A wrapper:

- opens a span (name, start, end, parent) and points the Spark job group
  at it, so the jobs and tasks the call launches are counted against the
  innermost open span;
- forces a DataFrame result to materialize inside the span (persist +
  count), because the engine is lazy and the call alone only builds a
  plan. The persisted frames are released when the pass ends.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

PKG = "dataquality_ml_spark"

# (module, attribute path, span name)
TARGETS = {
    "telemetry_batch": [
        ("sources.readers", "read_parquet", "readers.read_parquet"),
        ("operators.profile", "profile", "profile.profile"),
        ("operators.profile", "prune_low_quality", "profile.prune_low_quality"),
        ("ml.features", "fit_features", "features.fit_features"),
        ("ml.features", "apply_features", "features.apply_features"),
        ("ml.detectors", "collect_feature_sample", "detectors.collect_feature_sample"),
        ("ml.detectors", "IsolationForest.fit", "detectors.IsolationForest.fit"),
        ("ml.detectors", "score_distributed", "detectors.score_distributed"),
        ("operators.thresholds", "percentile_threshold", "thresholds.percentile_threshold"),
        ("operators.drift", "feature_drift_report", "drift.feature_drift_report"),
        ("operators.evaluate", "confusion_metrics", "evaluate.confusion_metrics"),
        ("operators.evaluate", "roc_auc", "evaluate.roc_auc"),
        ("operators.relational", "top_k", "relational.top_k"),
        ("sources.writers", "write_parquet", "writers.write_parquet"),
    ],
    "corpus_curate": [
        ("operators.text", "text_quality", "text.text_quality"),
        ("operators.dedup", "dedup_exact", "dedup.dedup_exact"),
        ("operators.dedup", "ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs"),
        ("operators.graph", "dedup_clusters", "graph.dedup_clusters"),
        ("operators.relational", "leakage_safe_split", "relational.leakage_safe_split"),
        ("operators.dedup", "minhash_signatures", "dedup.minhash_signatures"),
        ("operators.dedup", "minhash_candidates", "dedup.minhash_candidates"),
        ("operators.dedup", "jaccard_verify", "dedup.jaccard_verify"),
    ],
}

# spans whose DataFrame result size is reported as ``<span>.pairs``
PAIR_SPANS = ("dedup.ngram_jaccard_pairs", "dedup.minhash_candidates", "dedup.jaccard_verify")


def span_names() -> list[str]:
    seen: list[str] = []
    for targets in TARGETS.values():
        for _, _, name in targets:
            if name not in seen:
                seen.append(name)
    return seen


def settle(spark) -> None:
    """Wait until the status tracker has seen every job end (the listener
    bus updates it asynchronously)."""
    st = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 10
    while st.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)


def group_counts(st, group: str) -> tuple[int, int, int]:
    """(jobs, completed tasks, failed tasks) of one Spark job group."""
    ids = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            if stage:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return len(ids), tasks, failed


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    unit: int
    start: float
    end: float = 0.0
    group: str = ""
    prev_group: str | None = None
    rows: int | None = None
    child_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class Tracer:
    """Wraps the workload's targets while ``enabled``; ``unit`` names the
    pass the next spans belong to."""

    spark: object
    workload: str
    enabled: bool = False
    unit: int = 0
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _persisted: list = field(default_factory=list)
    _restore: list = field(default_factory=list)

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, name in TARGETS[self.workload]:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            fn = vars(owner)[leaf]  # the plain function, also on a class
            self._restore.append((owner, leaf, fn))
            setattr(owner, leaf, self._wrap(name, fn))

    def uninstall(self) -> None:
        for owner, leaf, fn in reversed(self._restore):
            setattr(owner, leaf, fn)
        self._restore.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    span.rows = out.count()
                    tracer._persisted.append(out)
                return out
            finally:
                tracer._close(span)

        return wrapper

    # -- spans -------------------------------------------------------------
    def _open(self, name: str) -> Span:
        sc = self.spark.sparkContext
        sid = len(self.spans)
        span = Span(sid, name, self._stack[-1].id if self._stack else None, self.unit, 0.0)
        self.spans.append(span)
        span.group = f"trace-{sid}-{name}"
        span.prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", span.group)
        self._stack.append(span)
        span.start = time.perf_counter()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", span.prev_group)
        if self._stack:
            self._stack[-1].child_s += span.end - span.start

    def release(self) -> None:
        """End of a pass: drop what the wrappers persisted."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def resolve_counts(self) -> None:
        """Fill jobs/tasks from the status tracker; call after
        ``settle``."""
        st = self.spark.sparkContext.statusTracker()
        for span in self.spans:
            span.jobs, span.tasks, span.failed_tasks = group_counts(st, span.group)

    def top_level_s(self, unit: int) -> float:
        return sum(s.end - s.start for s in self.spans if s.unit == unit and s.parent is None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["self_s"] = s.self_s
                f.write(json.dumps(d) + "\n")
