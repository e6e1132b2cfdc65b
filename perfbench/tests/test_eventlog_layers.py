import os

import pytest

from eventlog import parse_lines
from layers import Counters, compute
from trace import Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "events_tiny.jsonl")


def load():
    with open(FIXTURE) as f:
        return parse_lines(f)


def spans():
    # job.replay > runner.replay > {merge_apply > compact, count_live}
    rows = [(0, "job.replay", 0.0, 10.0, None), (1, "runner.replay", 0.5, 9.5, 0),
            (2, "table.merge_apply", 2.0, 6.0, 1), (3, "table.compact", 4.0, 5.5, 2),
            (4, "table.count_live", 7.0, 9.0, 1)]
    return [Span(i, n, a, b, p, "t") for i, n, a, b, p in rows]


def test_jobs_and_stages_map_to_the_span_that_started_them():
    log = load()
    assert {j.id: j.span for j in log.jobs.values()} == {0: 2, 1: 3, 2: 4, 3: None}
    assert (log.jobs[0].start_ms, log.jobs[0].end_ms) == (2000, 3000)
    assert {s.id: s.span for s in log.stages.values()} == {0: 2, 1: 2, 2: 3, 3: 4, 4: None}
    st = log.stages[0]
    assert st.map_tasks == 2
    assert st.m["cpu_ns"] == 2_000_000 and st.m["input_records"] == 100
    assert st.m["shuffle_write_bytes"] == 600
    assert log.stages[1].map_tasks == 0 and log.stages[1].m["output_records"] == 40
    assert log.stages[2].m["spill_bytes"] == 64


def test_layer_metrics_from_spans_and_task_metrics():
    c = Counters(units=1, replay_calls=1, events=100)
    m = compute(spans(), load(), c)
    # merge_apply: 4 s wall - 1.5 s compaction child - 1 s of its own job
    assert m["table.merge_apply_driver_s"] == pytest.approx(1.5)
    assert m["runner.self_s"] == pytest.approx(9.0 - 4.0 - 2.0)
    assert m["runner.spark_jobs_per_call"] == 3  # the span-less job is not counted
    assert m["sources.rows_read_per_event"] == pytest.approx(1.0)
    assert m["dedup.map_cpu_us_per_event"] == pytest.approx(20.0)
    assert m["dedup.shuffle_bytes_per_event"] == pytest.approx(6.0)
    assert m["dedup.rows_out_per_event"] == pytest.approx(0.4)
    assert m["table.write_cpu_us_per_event"] == pytest.approx(20.0)
    assert m["table.write_bytes_per_event"] == pytest.approx(4.0)
    assert m["table.compact_count"] == 1
    assert m["table.compact_s"] == pytest.approx(1.5)
    assert m["table.compact_bytes_rewritten"] == 1000
    assert m["table.count_live_s"] == pytest.approx(2.0)
    assert m["jvm.gc_ms_per_event"] == pytest.approx(0.02)
    assert m["jvm.spill_bytes"] == 64
    # layers this phase never ran read 0
    assert m["reconcile.cpu_us_per_key"] == 0 and m["table.read_changes_s"] == 0
