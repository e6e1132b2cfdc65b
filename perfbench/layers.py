"""Per-layer metrics from a traced phase: spans (wall, self time) joined
with the event log's per-stage task metrics (CPU, bytes, GC, spill).

Pure: takes the spans, the parsed event log and the phase's counters,
returns one value per per-layer metric. A layer the workload does not
run reads 0.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from eventlog import EventLog, totals
from stats import covered, self_time


@dataclass
class Counters:
    """What the traced phase did, counted by the benchmark itself."""
    units: int = 0            # replay calls (bulk), cycles (trickle)
    replay_calls: int = 0
    events: int = 0           # events applied by replay calls
    verifies: int = 0
    changed_keys: int = 0     # summed over verifies
    deltas_at_read: int = 0   # summed over verifies
    keys: int = 0             # classified keys summed over reconcile calls
    reconcile_calls: int = 0
    python_cpu_s: float = 0.0  # Python (UDF) worker CPU during traced job calls
    extra: dict = field(default_factory=dict)  # computed outside: overhead, scaling


class Tree:
    def __init__(self, spans):
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def named(self, name: str):
        return [s for s in self.by_id.values() if s.name == name]

    def subtree_ids(self, roots) -> set[int]:
        out, todo = set(), [r.id for r in roots]
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(c.id for c in self.children.get(i, []))
        return out

    def self_s(self, s) -> float:
        kids = [(c.start, c.end) for c in self.children.get(s.id, [])]
        return self_time((s.start, s.end), kids)


def _dur(spans) -> float:
    return sum(s.end - s.start for s in spans)


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def compute(spans, log: EventLog, c: Counters) -> dict:
    t = Tree(spans)
    stages_of = lambda ids: [st for st in log.stages.values() if st.span in ids]  # noqa: E731
    jobs_of = lambda ids: [j for j in log.jobs.values() if j.span in ids]  # noqa: E731

    replay_ids = t.subtree_ids(t.named("job.replay"))
    recon_ids = t.subtree_ids(t.named("job.reconcile"))
    all_ids = set(t.by_id)
    merge = t.named("table.merge_apply")
    merge_stages = stages_of({s.id for s in merge})
    scan = [st for st in merge_stages if st.map_tasks and st.m["input_records"]]
    write = [st for st in merge_stages if st not in scan]
    scan_t, write_t = totals(scan), totals(write)

    # merge_apply's driver time: its wall minus child spans (compaction)
    # minus the wall of the Spark jobs it started itself
    merge_driver = 0.0
    for s in merge:
        own_jobs = [(j.start_ms / 1e3, (j.end_ms or j.start_ms) / 1e3)
                    for j in log.jobs.values() if j.span == s.id]
        merge_driver += t.self_s(s) - covered((s.start, s.end), own_jobs)

    compacts = t.named("table.compact")
    compact_t = totals(stages_of(t.subtree_ids(compacts)))
    recon_t = totals(stages_of(recon_ids))
    sinks = t.named("sinks.write_result_table")
    sink_t = totals(stages_of(t.subtree_ids(sinks)))
    everything = totals(stages_of(all_ids))
    items = c.events or c.keys
    calls = c.replay_calls

    return {
        "sources.open_s": _div(_dur(t.named("sources.open")), calls),
        "plans.plan_slices_s": _div(_dur(t.named("plans.plan_slices")), calls),
        "table.count_live_s": _div(_dur([s for s in t.named("table.count_live")
                                         if s.id in replay_ids]), calls),
        "table.expire_s": _div(_dur(t.named("table.expire")), calls),
        "table.merge_apply_driver_s": _div(merge_driver, calls),
        "runner.self_s": _div(sum(t.self_s(s) for s in t.named("runner.replay")), calls),
        "runner.spark_jobs_per_call": _div(len(jobs_of(replay_ids)), calls),
        "sources.rows_read_per_event": _div(scan_t["input_records"], c.events),
        "dedup.map_cpu_us_per_event": _div(scan_t["cpu_ns"] / 1e3, c.events),
        "dedup.shuffle_bytes_per_event": _div(scan_t["shuffle_write_bytes"], c.events),
        "dedup.rows_out_per_event": _div(write_t["output_records"], c.events),
        "table.write_cpu_us_per_event": _div(write_t["cpu_ns"] / 1e3, c.events),
        "table.write_bytes_per_event": _div(write_t["output_bytes"], c.events),
        "jvm.gc_ms_per_event": _div(everything["gc_ms"], items),
        "jvm.spill_bytes": _div(everything["spill_bytes"], c.units),
        "table.compact_count": _div(len(compacts), c.units),
        "table.compact_s": _div(_dur(compacts), len(compacts)),
        "table.compact_bytes_rewritten": _div(compact_t["output_bytes"], len(compacts)),
        "table.read_changes_s": _div(_dur(t.named("table.read_changes"))
                                     + _dur(t.named("table.read_changes.materialize")),
                                     c.verifies),
        "table.changed_keys": _div(c.changed_keys, c.verifies),
        "table.deltas_at_read": _div(c.deltas_at_read, c.verifies),
        "reconcile.verify_cpu_us_per_changed_key": _div(recon_t["cpu_ns"] / 1e3, c.changed_keys),
        "reconcile.cpu_us_per_key": _div(recon_t["cpu_ns"] / 1e3, c.keys),
        "reconcile.shuffle_bytes_per_key": _div(recon_t["shuffle_write_bytes"], c.keys),
        "reconcile.spark_jobs": _div(len(jobs_of(recon_ids)), c.reconcile_calls),
        "text.udf_python_cpu_us_per_key": _div(c.python_cpu_s * 1e6, c.keys),
        "sinks.write_result_table_s": _div(_dur(sinks), c.reconcile_calls),
        "sinks.bytes_per_key": _div(sink_t["output_bytes"], c.keys),
        **c.extra,
    }
