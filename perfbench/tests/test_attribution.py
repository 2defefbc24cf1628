"""Job-group attribution reads the run's own event log: a planted extra
``count()`` inside one operation shows up as exactly one more job for
that operation, and for no other.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the checkout

import harness  # noqa: E402
import tracing  # noqa: E402


@pytest.fixture(scope="module")
def traced_ops(tmp_path_factory):
    from tube_spark.session import get_spark

    run_dir = str(tmp_path_factory.mktemp("run"))
    event_dir = os.path.join(run_dir, "eventlog")
    conf = harness.session_conf(run_dir, event_dir)
    spark = get_spark("perfbench-test", master="local[2]", extra_conf=conf)
    try:
        tracer = tracing.Tracer(True, "wl")
        df = spark.range(1000).selectExpr("id % 7 AS k").filter("k > 0")
        rdd = spark.sparkContext.parallelize(range(100), 2)
        sc = spark.sparkContext

        def own_group():
            # the program sets a job group of its own, as a streaming
            # query does with its run id
            sc.setJobGroup("own-group", "")
            tracer.alias_group("own-group")
            rdd.count()

        plants = {
            "plain": lambda: None,
            "planted": df.count,  # a hidden driver action while building
            "planted_rdd": rdd.count,  # an action that is exactly one job
            "aliased": own_group,
        }
        for name, plant in plants.items():
            with tracer.op(spark, name):
                with tracer.span("plans.build", spark, phase="build"):
                    plant()
                with tracer.span("plans.action", spark, phase="action"):
                    df.count()
        spark.range(10).count()  # outside any operation
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    attr = tracing.attribute(tracing.event_log_file(event_dir, app_id))
    return tracing.by_operation(attr, "wl", tracer.group_aliases), tracer


def test_planted_count_is_one_more_job(traced_ops):
    ops, _ = traced_ops
    assert ops["planted_rdd"]["jobs"] == ops["plain"]["jobs"] + 1
    assert ops["planted_rdd"]["build_jobs"] == 1
    assert ops["plain"].get("build_jobs", 0) == 0


def test_planted_frame_count_adds_one_counts_jobs(traced_ops):
    # under adaptive execution a frame's count() is several jobs; the
    # planted one adds exactly as many as the operation's own count()
    ops, _ = traced_ops
    one_count = ops["plain"]["action_jobs"]
    assert ops["planted"]["jobs"] == ops["plain"]["jobs"] + one_count
    assert ops["planted"]["build_jobs"] == one_count
    assert ops["planted"]["action_jobs"] == one_count


def test_aliased_job_group_counts_for_its_operation(traced_ops):
    ops, _ = traced_ops
    assert ops["aliased"]["jobs"] == ops["planted_rdd"]["jobs"]


def test_work_outside_operations_is_not_attributed(traced_ops):
    ops, _ = traced_ops
    assert set(ops) == {"plain", "planted", "planted_rdd", "aliased"}
    assert ops["planted"]["tasks"] > ops["plain"]["tasks"] > 0


def test_span_self_time_excludes_children(traced_ops):
    _, tracer = traced_ops
    layers = tracer.layer_times()
    assert layers["op"]["calls"] == 4
    assert layers["plans.action"]["calls"] == 4
    children = layers["plans.build"]["total_s"] + layers["plans.action"]["total_s"]
    assert layers["op"]["self_s"] == pytest.approx(layers["op"]["total_s"] - children, abs=1e-6)
