"""Tests of the benchmark's own helpers.

    python3 -m pytest graftbench/test_graftbench.py -q -p no:cacheprovider

The generator tests start a one-core SparkSession (the domain schemas are
Spark DDL); everything else is pure Python.
"""

from __future__ import annotations

import json
import os
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from spans import (  # noqa: E402
    CountingDict,
    Span,
    Tracer,
    event_log_totals,
    median,
    percentile,
    self_times,
)


@pytest.mark.parametrize("values", [[3.0], [2.0, 1.0], [5, 1, 4, 2, 3], [0.5, 9, 9, 1, 7, 2]])
@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 100])
def test_percentile_matches_numpy(values, q):
    assert percentile(values, q) == pytest.approx(np.percentile(values, q))


def test_median_of_even_count_is_midpoint():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_merged_clipped_children():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 5.0, 0, 0),      # overlaps a: union [1, 5]
        Span("c", 8.0, 12.0, 0, 0),     # clipped to [8, 10]
        Span("a.1", 1.5, 2.0, 1, 0),    # grandchild: only a's self time
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.5, 2.0, 4.0, 0.5])


def test_self_times_of_nested_spans_sum_to_top_level_wall():
    tracer = Tracer()
    tracer.iteration = 0
    with tracer.span("top"):
        with tracer.span("child"):
            with tracer.span("grandchild"):
                pass
        with tracer.span("child"):
            pass
    spans = tracer.iteration_spans(0)
    top = spans[0][0]
    assert sum(st for _, st in spans) == pytest.approx(top.end - top.start)
    assert [s.parent for s, _ in spans] == [None, 0, 1, 0]


def test_tracer_restores_every_wrapped_and_replaced_attribute():
    mod = types.ModuleType("fake_plans")
    mod.f = lambda x: x + 1
    mod.g = lambda: "g"
    mod.CACHE = {"k": 1}
    originals = dict(vars(mod))
    seen = []
    tracer = Tracer()
    tracer.wrap(mod, "f", "span.f", lambda a, k, r: seen.append(r))
    tracer.wrap(mod, "g", "span.g")
    tracer.replace(mod, "CACHE", CountingDict(mod.CACHE, tracer))
    assert mod.f(1) == 2 and mod.g() == "g"
    assert seen == [2]
    assert [s.name for s in tracer.spans] == ["span.f", "span.g"]
    tracer.restore()
    assert vars(mod) == originals
    assert all(vars(mod)[k] is v for k, v in originals.items())
    tracer.restore()  # idempotent
    assert vars(mod) == originals


def test_counting_dict_counts_hits_builds_and_build_time():
    tracer = Tracer()
    tracer.iteration = 3
    cache = CountingDict({}, tracer)
    assert cache.get("k") is None          # miss starts the build clock
    cache["k"] = "artifact"                # build
    assert cache.get("k") == "artifact"    # hit
    assert cache.get("k") == "artifact"    # hit
    counters = tracer.counters[3]
    assert counters["memo.builds"] == 1
    assert counters["memo.hits"] == 2
    assert counters["memo.build_s"] >= 0.0


def test_event_log_totals_sum_task_bytes_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "it2:q"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 93},
            "Disk Bytes Spilled": 5}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1}}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    totals = event_log_totals(str(tmp_path))
    assert dict(totals["it2:q"]) == {
        "shuffle.write_bytes": 100, "shuffle.read_bytes": 100, "spill.bytes": 5,
    }
    assert totals[None]["shuffle.write_bytes"] == 1


def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    a = gen.write_catalog_tables(str(tmp_path / "a"), 1, 200)
    b = gen.write_catalog_tables(str(tmp_path / "b"), 1, 200)
    c = gen.write_catalog_tables(str(tmp_path / "c"), 2, 200)
    assert a == b != c
    for name in ("orders", "lineitem"):
        assert (tmp_path / "a" / f"{name}.parquet").read_bytes() == (
            tmp_path / "b" / f"{name}.parquet"
        ).read_bytes()


def test_catalog_lineitems_reference_existing_orders():
    tables = gen.catalog_arrays(5, 300)
    orders = set(tables["orders"]["o_orderkey"].to_pylist())
    assert set(tables["lineitem"]["l_orderkey"].to_pylist()) <= orders


@pytest.fixture(scope="module")
def spark():
    from platform_etl_drug_disease_spark.session import get_spark

    session = get_spark(app_name="graftbench-test", master="local[1]",
                        shuffle_partitions=1)
    yield session
    session.stop()


def test_dag_domain_is_a_function_of_the_seed(spark, tmp_path):
    a = gen.write_dag_domain(str(tmp_path / "a"), 1, 300)
    b = gen.write_dag_domain(str(tmp_path / "b"), 1, 300)
    c = gen.write_dag_domain(str(tmp_path / "c"), 2, 300)
    assert a == b != c


def test_dag_domain_matches_program_schemas_and_plants_the_hub(spark, tmp_path):
    from platform_etl_drug_disease_spark.schemas import domain_schema

    gen.write_dag_domain(str(tmp_path), 3, 300)
    for name in gen.domain_rows(3, 10):
        df = spark.read.parquet(str(tmp_path / f"{name}.parquet"))
        want = domain_schema(name)
        assert [(f.name, f.dataType) for f in df.schema.fields] == [
            (f.name, f.dataType) for f in want.fields
        ]
    edges = spark.read.parquet(str(tmp_path / "interactions.parquet"))
    hub = edges.where("interactorA_uniprot_name = 'P1'").count()
    assert hub >= 300 // 2 - 2
