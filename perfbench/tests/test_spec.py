import json
import os

import pytest

from layers import Counters, compute
from eventlog import EventLog
from stats import check_metric_names

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_has_exactly_the_contract_keys(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
               for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_metric_names_are_valid_and_unique(spec):
    check_metric_names(spec["end_to_end"] + spec["per_layer"])
    check_metric_names(spec["workloads"] and [{"name": w["name"], "unit": "x"}
                                               for w in spec["workloads"]])


@pytest.mark.parametrize("bad", [
    [{"name": "_lead", "unit": "s"}],
    [{"name": "a b", "unit": "s"}],
    [{"name": "x" * 65, "unit": "s"}],
    [{"name": "ok", "unit": "seconds per call!"}],
    [{"name": "dup", "unit": "s"}, {"name": "dup", "unit": "ms"}],
])
def test_metric_name_validation_rejects(bad):
    with pytest.raises(ValueError):
        check_metric_names(bad)


def test_every_per_layer_metric_is_computed(spec):
    extra = {"trace.overhead_s": 0.0, "runner.scaling_eff_1_to_4": 0.0, "jvm.peak_rss_mb": 0.0}
    got = compute([], EventLog(), Counters(extra=extra))
    assert set(got) == {m["name"] for m in spec["per_layer"]}


def test_workloads_match_the_implemented_ones(spec):
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
