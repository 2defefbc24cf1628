"""Fold run records into the committed layered baseline.

Usage (from the root of a checkout, after one ``--trace 0`` and one
``--trace 1`` run of each workload)::

    python3 perfbench/report.py perfbench/records/baseline.json perfbench/records/TOP10.md

or, to refresh the committed per-query expectations from the newest
untraced ``query_mix`` and ``iterative_graph`` records::

    python3 perfbench/report.py expected perfbench/data/sf0.01-expected.json

For each workload it takes the newest untraced and traced record in
``.perfbench_work/records/`` and writes: run identity and conditions,
the end-to-end metrics, the per-layer metrics, the tracing overhead
(traced minus untraced pass time), and one row per operation with its
latency, build and action seconds, and Spark work.  The markdown file
ranks the registry queries (query_mix + iterative_graph) by build
seconds, shuffle-write bytes and Spark jobs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

WORKLOADS = ["graph_etl", "query_mix", "iterative_graph", "incremental_refresh"]
OP_FIELDS = ("jobs", "build_jobs", "stages", "tasks", "executor_run_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "spill_bytes")


def _newest(rec_dir: str, workload: str, trace: int) -> dict | None:
    paths = glob.glob(os.path.join(rec_dir, f"{workload}-seed*-trace{trace}-*.json"))
    if not paths:
        return None
    with open(max(paths, key=os.path.getmtime)) as fh:
        return json.load(fh)


def _op_rows(untraced: dict, traced: dict) -> dict[str, dict]:
    rows: dict[str, dict] = {}
    for o in untraced["ops"]:
        rows.setdefault(o["name"], {"latency_s": []})["latency_s"].append(o["seconds"])
    for row in rows.values():
        row["latency_s"] = statistics.median(row["latency_s"])
    for s in traced.get("spans", []):
        if s["op"] is None or s["end"] is None or s["layer"] not in ("plans.build", "plans.action"):
            continue
        key = s["layer"].split(".")[1] + "_s"
        row = rows.setdefault(s["op"], {})
        row[key] = row.get(key, 0.0) + s["end"] - s["start"]
    passes = max(1, len(traced["passes_s"]))
    for op, spark in traced.get("spark_by_operation", {}).items():
        row = rows.setdefault(op, {})
        for k in OP_FIELDS:
            row[k] = spark.get(k, 0.0) / passes
    for row in rows.values():
        for k in ("build_s", "action_s"):
            if k in row:
                row[k] /= passes
    return rows


def summarize(rec_dir: str) -> dict:
    out = {}
    for wl in WORKLOADS:
        u, t = _newest(rec_dir, wl, 0), _newest(rec_dir, wl, 1)
        if u is None or t is None:
            continue
        out[wl] = {
            "identity": u["identity"],
            "conditions": {"untraced": u["conditions"], "traced": t["conditions"]},
            "seed": {"untraced": u["identity"]["seed"], "traced": t["identity"]["seed"]},
            "seconds": u["seconds"],
            "attempted": u["attempted"] + t["attempted"],
            "failed": u["failed"] + t["failed"],
            "end_to_end": u["metrics"],
            "latency": u["latency"],
            "per_layer": t["metrics"],
            "layers_self_s": {k: v["self_s"] for k, v in t["layers"].items()},
            "tracing_overhead_s": t["metrics"]["trace.pass_s"] - u["metrics"]["pass_s"],
            "facts": {k: v for k, v in u["facts"].items() if k != "results"},
            "operations": _op_rows(u, t),
        }
    return out


def top10_markdown(summary: dict) -> str:
    ops = {}
    for wl in ("query_mix", "iterative_graph"):
        for name, row in summary.get(wl, {}).get("operations", {}).items():
            ops[name] = {**row, "workload": wl}
    lines = ["# Top 10 registry queries by layer", ""]
    ident = next(iter(summary.values()))["identity"] if summary else {}
    lines.append(
        f"One traced pass per workload at `{ident.get('master')}`, heap "
        f"{ident.get('heap')}, Spark {ident.get('spark')}, git `{ident.get('git_sha', '')[:12]}`. "
        "Seconds are driver wall time inside the builder call (`plans.build_s`); "
        "bytes and jobs come from the event log, attributed by job group."
    )
    for key, title, fmt in (
        ("build_s", "plans.build_s (seconds in the builder call)", "{:.3f}"),
        ("shuffle_write_bytes", "spark.shuffle_write_bytes", "{:,.0f}"),
        ("jobs", "spark.jobs", "{:.0f}"),
    ):
        lines += ["", f"## {title}", "",
                  "| # | query | workload | value | latency_s | build_jobs |",
                  "|---|---|---|---|---|---|"]
        ranked = sorted(ops.items(), key=lambda kv: -kv[1].get(key, 0.0))[:10]
        for i, (name, row) in enumerate(ranked, 1):
            lines.append(
                f"| {i} | {name} | {row['workload']} | {fmt.format(row.get(key, 0.0))} "
                f"| {row.get('latency_s', 0.0):.3f} | {row.get('build_jobs', 0.0):.0f} |"
            )
    return "\n".join(lines) + "\n"


def expected(rec_dir: str) -> dict:
    """Row count and value hash per registry query, from the warm-up
    pass of the newest untraced query_mix and iterative_graph records."""
    out = {}
    for wl in ("query_mix", "iterative_graph"):
        rec = _newest(rec_dir, wl, 0)
        if rec is not None:
            out.update(rec["facts"]["results"])
    return out


def main(argv: list[str]) -> int:
    rec_dir = os.path.join(os.getcwd(), ".perfbench_work", "records")
    if len(argv) == 2 and argv[0] == "expected":
        with open(argv[1], "w") as fh:
            json.dump(expected(rec_dir), fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    summary = summarize(rec_dir)
    if not summary:
        print("no paired records found", file=sys.stderr)
        return 1
    with open(argv[0], "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    with open(argv[1], "w") as fh:
        fh.write(top10_markdown(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
