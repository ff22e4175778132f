"""BENCHMARK.json, the metric catalogue and the inputs agree."""

import json
import os

import inputs
import metrics
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_reported_metrics():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_golden_covers_every_nesting_depth():
    golden = inputs.load_golden()
    lo, hi = inputs.NEST_DEPTHS
    assert set(golden) == set(range(lo, hi + 1))


def test_generators_repeat_for_a_seed():
    assert inputs.flat_texts(3, 50) == inputs.flat_texts(3, 50)
    assert inputs.flat_texts(3, 50) != inputs.flat_texts(4, 50)
    a, b = inputs.heavy_tail(3, 200, 0.02), inputs.heavy_tail(3, 200, 0.02)
    assert a.texts == b.texts and a.nested == b.nested and a.nested
    c = inputs.curated(3, 300)
    assert c.texts == inputs.curated(3, 300).texts and len(c.texts) == 300
    assert c.distinct_texts < len(c.texts)  # exact duplicate clusters exist
    assert len(set(c.source)) < c.distinct_texts  # and near duplicates
