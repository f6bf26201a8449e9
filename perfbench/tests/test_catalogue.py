"""BENCHMARK.json agrees with the metric catalogue in layers.py."""

import json
import os

from perfbench import layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_is_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == layers.benchmark_json()


def test_catalogue_limits():
    spec = layers.benchmark_json()
    assert 1 <= len(spec["per_layer"]) <= 128
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(len(n) <= 64 for n in names)
    assert all(e2e in {m["name"] for m in spec["end_to_end"]}
               for _, _, e2e, _ in layers.PER_LAYER.values())


def test_query_names_are_the_registry():
    from film_crawler_spark.queries import REGISTRY

    assert sorted(layers.QUERY_NAMES) == sorted(REGISTRY)
