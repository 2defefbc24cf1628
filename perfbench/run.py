"""Layered benchmark of tube_spark.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``.perfbench_work/``, outside the timed region), settles the machine,
sets the Spark session up cold (a new driver JVM), runs the workload's
closed loop for ``--seconds`` (whole passes), checks every output, and
prints one JSON line last: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  A full record of the run
(identity, conditions, every operation, spans, Spark work per
operation) is written to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def end_to_end(setup_s: float, outcome, peak_rss_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": _median(outcome.passes),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(outcome, tracer, attr_ops: dict, cpus: int) -> tuple[dict, dict]:
    """(metrics, units): sums are per pass; ratios are whole-run."""
    passes = max(1, len(outcome.passes))
    wall = sum(outcome.passes)
    ops = max(1, len(outcome.ops))
    lt = tracer.layer_times()

    def t(layer: str) -> float:
        return lt.get(layer, {}).get("total_s", 0.0)

    tot = dict.fromkeys(tracing.FIELDS, 0.0)
    build_jobs = 0.0
    for row in attr_ops.values():
        for k in tracing.FIELDS:
            tot[k] += row[k]
        build_jobs += row.get("build_jobs", 0.0)
    # only the sinks write output inside an operation
    publish_out = tot["output_bytes"]
    c = tracer.counters
    files = sum(f for _, f in outcome.facts.get("index_bytes_files", {}).values())
    docs = 0
    truth = outcome.facts.get("truth")
    if truth:
        docs = truth["participants"] + truth["samples"]
    m = {
        "config.parse_s": (t("config.parse") / passes, "s"),
        "plans.translate_s": (t("plans.translate") / passes, "s"),
        "plans.build_s": (t("plans.build") / passes, "s"),
        "plans.build_jobs": (build_jobs / passes, "count"),
        "plans.action_s": (t("plans.action") / passes, "s"),
        "lifecycle.persisted_rdds": (c["lifecycle.persisted_rdds"] / passes, "count"),
        "lifecycle.jobs_per_query": (tot["jobs"] / ops, "count"),
        "lifecycle.release_s": (t("lifecycle.release") / passes, "s"),
        "pqread.calls": (c["pqread.calls"] / passes, "count"),
        "pqread.s": (t("pqread") / passes, "s"),
        "pqread.hit_ratio": (c["pqread.hits"] / c["pqread.calls"] if c["pqread.calls"] else 0.0, "ratio"),
        "sources.input_bytes": (tot["input_bytes"] / passes, "bytes"),
        "sources.input_records": (tot["input_records"] / passes, "count"),
        "sources.scan_s": (tot["scan_run_s"] / passes, "s"),
        "sinks.publish_s": (t("sinks.publish") / passes, "s"),
        "sinks.output_bytes": (publish_out / passes, "bytes"),
        "sinks.files_written": (float(files), "count"),
        "sinks.bytes_per_doc": (publish_out / passes / docs if docs else 0.0, "bytes"),
        "streaming.curation_s": (t("streaming.curation") / passes, "s"),
        "streaming.dedup_groups_s": (t("streaming.dedup_groups") / passes, "s"),
        "streaming.cms_s": (t("streaming.cms") / passes, "s"),
        "streaming.state_bytes_per_input_byte": (
            outcome.facts.get("state_bytes_per_input_byte", 0.0), "ratio"),
        "spark.jobs": (tot["jobs"] / passes, "count"),
        "spark.stages": (tot["stages"] / passes, "count"),
        "spark.tasks": (tot["tasks"] / passes, "count"),
        "spark.failed_tasks": (tot["failed_tasks"] / passes, "count"),
        "spark.executor_run_s": (tot["executor_run_s"] / passes, "s"),
        "spark.executor_cpu_s": (tot["executor_cpu_s"] / passes, "s"),
        "spark.gc_s": (tot["gc_s"] / passes, "s"),
        "spark.input_bytes": (tot["input_bytes"] / passes, "bytes"),
        "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"] / passes, "bytes"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / passes, "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"] / passes, "bytes"),
        "spark.core_util": (tot["executor_run_s"] / (wall * cpus) if wall else 0.0, "ratio"),
        "trace.pass_s": (_median(outcome.passes), "s"),
    }
    return {k: v for k, (v, _) in m.items()}, {k: u for k, (_, u) in m.items()}


def _repo_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "tube_spark", "__init__.py")) and os.path.isfile(
        os.path.join(root, "__spark_entry__.py")
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not _repo_present(root):
        print("perfbench: run from the root of a tube_spark checkout "
              "(tube_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        record, units = _run(args, root, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=float)
    print(f"# record: {rec_path}", file=sys.stderr)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in record["metrics"].items()},
    }))
    return 0


def _run(args, root: str, work: str, run_dir: str) -> tuple[dict, dict]:
    harness.prepare_env(root, run_dir)
    traced = bool(args.trace)
    event_dir = os.path.join(run_dir, "eventlog") if traced else None

    wl = WORKLOADS[args.workload](work, run_dir, args.seed)
    t_gen = time.perf_counter()
    warm_path = wl.prepare()
    gen_s = time.perf_counter() - t_gen

    settled_s = harness.settle()
    start = harness.conditions()
    tracer = tracing.Tracer(traced, args.workload)
    # memory is sampled over set-up and the loop, not the checks
    with harness.RssSampler() as rss:
        spark, setup_s = harness.start_session(harness.session_conf(run_dir, event_dir), warm_path)
    try:
        import pyspark

        ident = harness.identity(root, args.seed, pyspark.__version__)
        app_id = spark.sparkContext.applicationId
        with rss:
            t_loop = time.perf_counter()
            outcome = wl.run(spark, tracer, args.seconds)
            loop_s = time.perf_counter() - t_loop
        wl.finish(spark, outcome)
    finally:
        shutdown = harness.shutdown(spark)  # also flushes the event log
    end = harness.conditions()

    attempted = len(outcome.ops) + len(outcome.checks)
    failed = sum(not o["ok"] for o in outcome.ops) + sum(not c["ok"] for c in outcome.checks)
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "identity": ident,
        "conditions": {"start": start, "end": end, "settle_wait_s": settled_s},
        "generation_s": gen_s,
        "setup_s": setup_s,
        "loop_s": loop_s,
        "shutdown_s": shutdown,
        "passes_s": outcome.passes,
        "ops": outcome.ops,
        "checks": outcome.checks,
        "facts": outcome.facts,
        "attempted": attempted,
        "failed": failed,
        "failed_ops_ratio": failed / attempted if attempted else 0.0,
    }
    lat = [o["seconds"] for o in outcome.ops]
    record["latency"] = {
        "n": len(lat), "p50_s": _median(lat), "p90_s": _quantile(lat, 0.9),
        "n_beyond_p90": len(lat) - int(0.9 * len(lat)) - 1 if lat else 0,
    }
    if traced:
        attr = tracing.attribute(tracing.event_log_file(event_dir, app_id))
        attr_ops = tracing.by_operation(attr, args.workload, tracer.group_aliases)
        metrics, units = per_layer(outcome, tracer, attr_ops, harness.CPUS)
        record["spark_by_operation"] = attr_ops
        record["layers"] = tracer.layer_times()
        record["spans"] = tracer.spans
    else:
        metrics = end_to_end(setup_s, outcome, rss.peak_mb)
        units = E2E_UNITS
    record["metrics"] = metrics
    return record, units


if __name__ == "__main__":
    sys.exit(main())
