"""Span recording around the engine's public functions, from outside.

``Tracer.install`` swaps each function listed in ``LAYERS`` for a
wrapper that records a span — name, start, end, parent, run id — in
memory and tags every Spark job started inside it with
``setJobGroup(<span name>, "span=<id>")``. The Spark event log then
attributes each job's tasks to exactly one span (the innermost open
one). ``uninstall`` restores the originals; no engine file is touched.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass

# (module the caller looks the name up in at call time, attribute path,
# span name). Methods are patched on their class, so calls through any
# instance — including the engine's own ``self.compact()`` — are seen.
# Names a module bound with ``from x import f`` at ITS import time are
# patched in that module (runner's dedup/lineage helpers, reconcile's
# skew join).
LAYERS = [
    ("etl_reconciliate_spark.streaming.runner", "replay", "runner.replay"),
    ("etl_reconciliate_spark.sources.changelog", "ChangeLogSource.__init__", "sources.open"),
    ("etl_reconciliate_spark.plans.metrics", "footer_index", "plans.footer_index"),
    ("etl_reconciliate_spark.streaming.runner", "slice_lineage", "plans.slice_lineage"),
    ("etl_reconciliate_spark.plans.checkpoint", "CheckpointManager.plan_slices", "plans.plan_slices"),
    ("etl_reconciliate_spark.streaming.runner", "dedup_max_lsn_agg", "dedup.max_lsn_agg"),
    ("etl_reconciliate_spark.operators.dedup", "dedup_max_lsn", "dedup.max_lsn"),
    ("etl_reconciliate_spark.target.table", "TargetTable.merge_apply", "table.merge_apply"),
    ("etl_reconciliate_spark.target.table", "TargetTable.compact", "table.compact"),
    ("etl_reconciliate_spark.target.table", "TargetTable.expire_snapshots", "table.expire"),
    ("etl_reconciliate_spark.target.table", "TargetTable.count_live", "table.count_live"),
    ("etl_reconciliate_spark.target.table", "TargetTable.read", "table.read"),
    ("etl_reconciliate_spark.target.table", "TargetTable.read_changes", "table.read_changes"),
    # reconcile_job materializes the lazy change read with
    # localCheckpoint(); its Spark jobs belong to the change read
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint", "table.read_changes.materialize"),
    ("etl_reconciliate_spark.operators.reconcile", "reconcile", "reconcile.reconcile"),
    ("etl_reconciliate_spark.operators.reconcile", "reconcile_incremental", "reconcile.incremental"),
    ("etl_reconciliate_spark.operators.reconcile", "rollup_conversations", "reconcile.rollup"),
    ("etl_reconciliate_spark.operators.reconcile", "status_counts", "reconcile.status_counts"),
    ("etl_reconciliate_spark.operators.reconcile", "salted_full_outer", "skew.salted_full_outer"),
    ("etl_reconciliate_spark.sinks.report", "write_result_table", "sinks.write_result_table"),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, attr


class Tracer:
    """In-memory span recorder for one traced phase."""

    def __init__(self, spark_context, run_id: str):
        self.sc = spark_context
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.name, f"span={span.id}")

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.time(), float("nan"), parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self._set_group(self._stack[-1] if self._stack else None)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for module, path, name in LAYERS:
            owner, attr = _resolve(module, path)
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)
        self._set_group(None)
