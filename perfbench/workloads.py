"""The four workloads.  Each is a closed loop with one client: the next
operation starts when the previous one returns.

A workload repeats its *pass* (one rebuild, one pass over its query
list, one delta sequence) until ``seconds`` have elapsed; a pass always
completes, so a run measures at least one.  Every operation is checked,
and a failed check counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
from harness import persisted_rdds, release_blocks
from tracing import Tracer

# the registry's bench list, frozen here so a change to the program's
# own bench script cannot change this benchmark's workloads
BENCH_QUERIES = [
    "agg_basic", "two_hop_count", "flatten_top1", "nested_docs",
    "collector_union", "joining_props", "pricing_summary",
    "top_revenue_nations", "events_window", "window_rank", "sessionization",
    "event_funnel", "merge_upsert", "sequence_packing", "pii_redaction",
    "dedup_exact", "dedup_groups", "text_stats", "minhash_lsh", "simhash",
    "ann_cosine_topk", "ann_ivf_topk", "embedding_near_dup_scale",
    "embedding_near_dup", "repetition_stats", "decontamination",
    "data_mixture", "doc_chunking", "semantic_dedup", "hybrid_retrieval",
    "bpe_tokenize", "quality_checks", "column_profile", "value_histogram",
    "snapshot_diff", "grouped_topk", "stratified_fixed_k",
    "ann_lsh_topk_portable", "video_frames", "product_quantize", "pq_search",
    "line_dedup", "leakage_safe_split", "corpus_overlap", "shard_plan",
    "overlap_matrix", "embedding_covariance", "bigram_perplexity",
    "dsir_weights", "triangle_stats", "triangle_sample", "lpa_communities",
    "k_core", "epoch_shuffle", "bloom_gate", "html_extract", "cms_counts",
    "scene_cuts", "neardup_transitivity", "sentence_chunks", "basket_rules",
    "k_truss", "doc_keywords", "exact_spans", "hll_cardinality",
    "link_prediction", "cusum_drift", "weighted_jaccard",
    "personalized_pagerank", "ddsketch_quantiles", "ngram_novelty",
    "template_mining", "collocations", "gopher_rules", "c4_filter",
    "readability", "zipf_fit", "sorted_neighborhood", "graph_degree_stats",
    "khop_reach", "hyperball", "k_anonymity", "seasonal_decompose",
    "attribution", "event_transitions", "rfm_scores", "ab_test",
    "lang_confusion", "benford_law", "revenue_gini", "chi_square", "ks_test",
    "mad_outliers", "mann_whitney", "spearman", "kruskal", "anova",
    "mutual_info", "gif_decode", "tiff_decode",
]
# the queries whose operator runs the CheckpointRotor loop
ITERATIVE = [
    "hyperball", "khop_reach", "personalized_pagerank", "lpa_communities",
    "k_core", "k_truss", "dedup_groups", "leakage_safe_split", "bpe_tokenize",
]
MIX = [q for q in BENCH_QUERIES if q not in ITERATIVE]

# input sizes (fixed: a later change is measured on the same inputs)
CLINIC_PARTICIPANTS = 100000
REFRESH_DELTAS = 3
# row count and value hash of every registry query over the sf0.01
# tables, as the warm-up pass computes them (report.py expected)
EXPECTED_PATH = os.path.join(os.path.dirname(datagen.STAR_DIR), "sf0.01-expected.json")


@dataclass
class Outcome:
    ops: list[dict] = field(default_factory=list)  # name, seconds, ok
    passes: list[float] = field(default_factory=list)
    checks: list[dict] = field(default_factory=list)  # name, ok, detail
    facts: dict = field(default_factory=dict)

    def op(self, name: str, seconds: float, ok: bool, error: str | None = None) -> None:
        row = {"name": name, "seconds": seconds, "ok": ok}
        if error:
            row["error"] = error
            print(f"# FAILED {name}: {error}", file=sys.stderr)
        self.ops.append(row)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"name": name, "ok": ok, "detail": detail})
        if not ok:
            print(f"# CHECK FAILED {name}: {detail}", file=sys.stderr)


def _err(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, skipping Spark's checksum files."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


# ---------------------------------------------------------------------------
# value hashing (order-insensitive, floats rounded to 6 places)
# ---------------------------------------------------------------------------


def _norm(v) -> str:
    import datetime as dt

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6):.6f}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    return repr(v)


def value_hash(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for line in sorted("|".join(_norm(r[k]) for k in sorted(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# base
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    warm_passes = 1

    def __init__(self, work: str, run_dir: str, seed: int) -> None:
        self.work = work
        self.run_dir = run_dir
        self.seed = seed

    def prepare(self) -> str:
        """Generate (or reuse) the inputs; returns a parquet path for the
        set-up's warm-up read."""
        raise NotImplementedError

    def run(self, spark, tracer, seconds: float) -> Outcome:
        """One untimed, untraced warm-up pass (JIT, code generation and
        the program's own caches), then timed passes until ``seconds``
        have elapsed."""
        out = Outcome()
        self.begin(spark, out)
        for _ in range(self.warm_passes):
            self.one_pass(spark, Tracer(False, self.name), out, warm=True)
        self.instrument(tracer)
        t_start = time.perf_counter()
        while True:
            out.passes.append(self.one_pass(spark, tracer, out, warm=False))
            if time.perf_counter() - t_start >= seconds:
                break
        tracer.unwrap()
        return out

    def begin(self, spark, out: Outcome) -> None:
        pass

    def one_pass(self, spark, tracer, out: Outcome, warm: bool) -> float:
        """Run one pass; returns its timed seconds."""
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        pass

    def finish(self, spark, out: Outcome) -> None:
        """Checks and summaries after the timed loop."""

    @staticmethod
    def _record(out: Outcome, warm: bool, name: str, seconds: float, ok: bool, error: str | None) -> None:
        # warm-up operations are checked but not timed
        if warm:
            out.check(f"warm-up {name}", ok, error or "")
        else:
            out.op(name, seconds, ok, error)

    def _released(self, spark, tracer) -> None:
        with tracer.span("lifecycle.release", spark, phase="release"):
            tracer.count("lifecycle.persisted_rdds", persisted_rdds(spark))
            release_blocks(spark)


# ---------------------------------------------------------------------------
# query_mix / iterative_graph
# ---------------------------------------------------------------------------


class QueryWorkload(Workload):
    """Each registry query is built, then ``count()``ed.  The untimed
    warm-up pass ``collect()``s every query instead and checks its full
    result: row count and order-insensitive value hash against the
    committed expectation, and against the DuckDB oracle over the same
    parquet (row count always, value hash where the oracle is
    value-exact).  Timed passes check each count against it."""

    queries: list[str] = []

    def prepare(self) -> str:
        self.data = datagen.STAR_DIR
        return f"{self.data}/region.parquet"

    def instrument(self, tracer) -> None:
        import tube_spark.functions.pqread as pqread

        def call(orig, spark, path):
            key = (spark.sparkContext.applicationId, path)
            before = pqread._CACHE.get(key)
            out = orig(spark, path)
            tracer.count("pqread.calls")
            tracer.count("pqread.hits", int(before is not None and pqread._CACHE.get(key) is before))
            return out

        tracer.wrap(pqread, "read_parquet", "pqread", on_call=call)

    def begin(self, spark, out: Outcome) -> None:
        import duckdb
        from __spark_entry__ import extra_oracle_sql, extra_queries, oracle_sql, queries

        self.registry = {**queries(), **extra_queries()}
        self.oracles = {**oracle_sql(), **extra_oracle_sql()}
        self.order = list(self.queries)
        random.Random(self.seed).shuffle(self.order)
        self.counts: dict[str, int] = {}
        self.results: dict[str, dict] = {}
        with open(EXPECTED_PATH) as fh:
            self.expected = json.load(fh)
        self.con = duckdb.connect()
        for t in datagen.STAR_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")

    def one_pass(self, spark, tracer, out: Outcome, warm: bool) -> float:
        t_pass = time.perf_counter()
        for name in self.order:
            with tracer.op(spark, name):
                t0 = time.perf_counter()
                try:
                    with tracer.span("plans.build", spark, phase="build"):
                        df = self.registry[name](spark, self.data)
                    with tracer.span("plans.action", spark, phase="action"):
                        if warm:
                            rows = [r.asDict(recursive=True) for r in df.collect()]
                        else:
                            n = df.count()
                except Exception as e:  # an operation failure is data
                    self._record(out, warm, name, time.perf_counter() - t0, False, _err(e))
                else:
                    dt = time.perf_counter() - t0
                    if warm:
                        problems = self._check_result(name, rows)
                        self.counts[name] = len(rows)
                        ok = not problems
                        error = "; ".join(problems) or None
                    else:
                        ok = self.counts.get(name) == n
                        error = None if ok else f"row count {n} != {self.counts.get(name)}"
                    self._record(out, warm, name, dt, ok, error)
                self._released(spark, tracer)
        return time.perf_counter() - t_pass

    def _check_result(self, name: str, rows: list[dict]) -> list[str]:
        from __spark_entry__ import _ROWS_ONLY

        got = value_hash(rows)
        self.results[name] = {"rows": len(rows), "hash": got}
        problems = []
        want = self.expected.get(name)
        if want is None:
            problems.append("no committed expectation")
        elif (want["rows"], want["hash"]) != (len(rows), got):
            problems.append(f"rows/hash {len(rows)}/{got} != expected {want['rows']}/{want['hash']}")
        sql = self.oracles.get(name)
        if sql is not None:
            rel = self.con.sql(sql)
            orows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
            if len(orows) != len(rows):
                problems.append(f"oracle rows {len(orows)} != {len(rows)}")
            elif name not in _ROWS_ONLY and value_hash(orows) != got:
                problems.append("oracle value hash differs")
        return problems

    def finish(self, spark, out: Outcome) -> None:
        out.facts["results"] = self.results
        self.con.close()


class QueryMix(QueryWorkload):
    name = "query_mix"
    queries = MIX


class IterativeGraph(QueryWorkload):
    name = "iterative_graph"
    queries = ITERATIVE


# ---------------------------------------------------------------------------
# graph_etl
# ---------------------------------------------------------------------------


class GraphEtl(Workload):
    name = "graph_etl"

    def prepare(self) -> str:
        self.graph = datagen.clinic_graph(
            os.path.join(self.work, "data"), self.seed, CLINIC_PARTICIPANTS
        )
        self.truth = self._truth()
        return f"{self.graph}/node_program.parquet"

    def _truth(self) -> dict:
        import duckdb

        g = self.graph
        con = duckdb.connect()
        q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
        truth = {
            "participants": q(f"SELECT count(*) FROM '{g}/node_participant.parquet'")[0],
            "samples": q(f"SELECT count(*) FROM '{g}/node_sample.parquet'")[0],
            "sample_edges": q(f"SELECT count(*) FROM '{g}/edge_samplederivedfromparticipant.parquet'")[0],
            "total_quantity": q(
                f"SELECT sum(CAST(json_extract(_props, '$.quantity') AS DOUBLE)) "
                f"FROM '{g}/node_sample.parquet'"
            )[0],
        }
        lo, hi = q(f"""
            SELECT min(m), max(m) FROM (
                SELECT e.dst_id, min(CAST(json_extract(v._props, '$.bmi') AS DOUBLE)) AS m
                FROM '{g}/node_visit.parquet' v
                JOIN '{g}/edge_visitdescribesparticipant.parquet' e ON e.src_id = v.node_id
                GROUP BY e.dst_id)""")
        truth["min_bmi_min"], truth["min_bmi_max"] = lo, hi
        rows = 0
        for f in os.listdir(g):
            if f.endswith(".parquet"):
                rows += q(f"SELECT count(*) FROM '{g}/{f}'")[0]
        truth["source_rows"] = rows
        con.close()
        return truth

    def begin(self, spark, out: Outcome) -> None:
        out.facts["truth"] = self.truth
        out.facts["input_rows"] = self.truth["source_rows"]
        out.facts["input_bytes_on_disk"] = _du(self.graph)[0]
        self.publish_s: dict[str, float] = {}
        self.paths: dict[str, str] = {}

    def one_pass(self, spark, tracer, out: Outcome, warm: bool) -> float:
        from tube_spark.config.mapping import parse_mappings_yaml
        from tube_spark.config.validate import validate_mapping
        from tube_spark.dictionary import dictionary_from_json_schemas
        from tube_spark.plans.translator import Pipeline
        from tube_spark.sinks import select_sink
        from tube_spark.sources.graph import PropsJsonGraphSource

        out_dir = os.path.join(self.run_dir, "indexes")
        t0 = time.perf_counter()
        ok, error, paths, publish_s = True, None, {}, {}
        with tracer.op(spark, "rebuild"):
            try:
                with tracer.span("config.parse"):
                    with open(f"{self.graph}/etlMapping.yaml") as fh:
                        mappings = parse_mappings_yaml(fh.read())
                    with open(f"{self.graph}/dictionary.json") as fh:
                        dictionary = dictionary_from_json_schemas(json.load(fh))
                    problems = [p for m in mappings for p in validate_mapping(m, dictionary)]
                if problems:
                    raise ValueError(f"mapping errors: {problems}")
                source = PropsJsonGraphSource(spark, self.graph, dictionary)
                writers = {m.name: select_sink("file", m.name, out_dir=out_dir) for m in mappings}
                with tracer.span("plans.translate", spark, phase="translate"):
                    results = Pipeline(source, mappings).run()
                for name, df in results.items():
                    t_pub = time.perf_counter()
                    with tracer.span("sinks.publish", spark, phase="publish", index=name):
                        paths[name] = writers[name].publish(df)
                    publish_s[name] = time.perf_counter() - t_pub
            except Exception as e:  # an operation failure is data
                ok, error = False, _err(e)
                traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        if ok:
            problems = self._check(spark, paths, self.truth)
            ok, error = not problems, "; ".join(problems) or None
        self._record(out, warm, "rebuild", dt, ok, error)
        self._released(spark, tracer)
        if not warm:
            self.paths = paths
            for k, v in publish_s.items():
                self.publish_s[k] = self.publish_s.get(k, 0.0) + v
        return dt

    def finish(self, spark, out: Outcome) -> None:
        n = max(1, len(out.passes))
        out.facts["publish_s_per_index"] = {k: v / n for k, v in self.publish_s.items()}
        out.facts["index_bytes_files"] = {k: _du(p) for k, p in self.paths.items()}
        out.facts["rows_per_s"] = self.truth["source_rows"] / statistics.median(out.passes)

    def _check(self, spark, paths: dict[str, str], truth: dict) -> list[str]:
        from pyspark.sql import functions as F

        problems = []
        part = spark.read.parquet(paths["clinic_participant"])
        files = spark.read.parquet(paths["clinic_file"])
        row = part.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("_participant_id").alias("ids"),
            F.sum("_samples_count").alias("samples"),
            F.sum("total_quantity").alias("qty"),
            F.min("min_bmi").alias("lo"),
            F.max("min_bmi").alias("hi"),
        ).first()
        n_files = files.count()
        if not (row["n"] == row["ids"] == truth["participants"]):
            problems.append(f"participant docs {row['n']} ({row['ids']} ids) != {truth['participants']}")
        if n_files != truth["samples"]:
            problems.append(f"file docs {n_files} != samples {truth['samples']}")
        if row["samples"] != truth["sample_edges"]:
            problems.append(f"sum _samples_count {row['samples']} != edges {truth['sample_edges']}")
        for key, want in (("qty", "total_quantity"), ("lo", "min_bmi_min"), ("hi", "min_bmi_max")):
            if not math.isclose(row[key] or 0.0, truth[want], rel_tol=1e-9, abs_tol=1e-6):
                problems.append(f"{want} {row[key]} != {truth[want]}")
        return problems


# ---------------------------------------------------------------------------
# incremental_refresh
# ---------------------------------------------------------------------------

CURATION_KW = dict(min_quality=0.5, ngram_n=1, jaccard_threshold=0.8)
DEDUP_KW = dict(n=2, num_hashes=64, bands=16, threshold=0.5, portable=True)
CMS_KW = dict(col="text", width=544, depth=5)


class IncrementalRefresh(Workload):
    name = "incremental_refresh"

    def prepare(self) -> str:
        self.deltas = datagen.document_deltas(
            os.path.join(self.work, "data"), self.seed, REFRESH_DELTAS
        )
        return self.deltas[0]

    def begin(self, spark, out: Outcome) -> None:
        self.sequences = 0
        self.last = None
        out.facts["delta_docs"] = [pq.read_metadata(p).num_rows for p in self.deltas]

    def one_pass(self, spark, tracer, out: Outcome, warm: bool) -> float:
        """Land the deltas one at a time into a fresh source directory,
        refreshing the three states after each; the warm-up lands only
        the first delta and skips the final-state check."""
        from tube_spark.streaming.cms import streaming_cms
        from tube_spark.streaming.curation import streaming_curation
        from tube_spark.streaming.dedup_groups import streaming_dedup_groups

        base = os.path.join(self.run_dir, f"refresh{self.sequences}")
        self.sequences += 1
        src = os.path.join(base, "src")
        os.makedirs(src)
        d = {k: os.path.join(base, k) for k in ("cur", "cur_ck", "dg", "dg_ck", "cms_ck")}
        d["cms"] = os.path.join(base, "cms.json")
        streams = (
            ("curation", lambda: streaming_curation(
                spark, src, d["cur"], checkpoint_dir=d["cur_ck"], **CURATION_KW)),
            ("dedup_groups", lambda: streaming_dedup_groups(
                spark, src, d["dg"], checkpoint_dir=d["dg_ck"], **DEDUP_KW)),
            ("cms", lambda: streaming_cms(
                spark, src, d["cms"], checkpoint_dir=d["cms_ck"], **CMS_KW)),
        )
        deltas = self.deltas[:1] if warm else self.deltas
        t_pass = time.perf_counter()
        ok_all = True
        for i, delta in enumerate(deltas):
            # land the delta atomically: Spark's file source skips names
            # starting with '_' until the rename
            tmp = os.path.join(src, f"_landing-{i:03d}.parquet")
            shutil.copyfile(delta, tmp)
            os.replace(tmp, os.path.join(src, f"delta-{i:03d}.parquet"))
            op = f"delta{i}"
            t0 = time.perf_counter()
            ok, error = True, None
            with tracer.op(spark, op):
                for sname, start in streams:
                    try:
                        with tracer.span(f"streaming.{sname}", spark, phase=sname):
                            q = start()
                            tracer.alias_group(str(q.runId))
                            q.awaitTermination()
                            if q.exception() is not None:
                                raise RuntimeError(str(q.exception()))
                    except Exception as e:  # an operation failure is data
                        ok, error = False, f"{sname}: {_err(e)}"
                        break
            self._record(out, warm, op, time.perf_counter() - t0, ok, error)
            ok_all &= ok
        dt = time.perf_counter() - t_pass
        if not warm:
            state = sum(_du(p)[0] for p in d.values() if os.path.exists(p))
            out.facts.setdefault(
                "state_bytes_per_input_byte",
                state / sum(os.path.getsize(p) for p in self.deltas),
            )
            self.last = (src, d) if ok_all else None
        self._released(spark, tracer)
        return dt

    def finish(self, spark, out: Outcome) -> None:
        if self.last is not None:
            self._check(spark, *self.last, out)

    def _check(self, spark, src: str, d: dict, out: Outcome) -> None:
        """Final states equal the batch build over the same documents."""
        from tube_spark.operators.cms import cms_build
        from tube_spark.operators.components import dedup_groups
        from tube_spark.operators.curation import curate_corpus
        from tube_spark.operators.dedup import minhash_lsh_pairs
        from tube_spark.streaming.cms import StreamingCms
        from tube_spark.streaming.curation import IncrementalCuration
        from tube_spark.streaming.dedup_groups import IncrementalDedupGroups

        docs = spark.read.parquet(src)

        def rows(df, cols):
            return sorted(tuple(round(r[c], 6) if isinstance(r[c], float) else r[c] for c in cols) for r in df.collect())

        cur_cols = ["doc_id", "n_tokens", "lang_pred", "quality_score"]
        got = rows(IncrementalCuration(spark, d["cur"], **CURATION_KW).survivors(), cur_cols)
        want = rows(curate_corpus(docs, None, **CURATION_KW), cur_cols)
        out.check("curation == batch", got == want, f"{len(got)} vs {len(want)} survivors")

        dg_cols = ["doc_id", "group_id", "group_size", "is_representative"]
        got = rows(IncrementalDedupGroups(spark, d["dg"], **DEDUP_KW).groups(), dg_cols)
        text = docs.select("doc_id", "text")
        want = rows(dedup_groups(text, minhash_lsh_pairs(text, "doc_id", "text", **DEDUP_KW)), dg_cols)
        out.check("dedup_groups == batch", got == want, f"{len(got)} vs {len(want)} rows")

        grid_cols = ["r", "b", "c"]
        got = rows(StreamingCms(spark, d["cms"], **CMS_KW).grid(), grid_cols)
        want = rows(cms_build(docs, CMS_KW["col"], CMS_KW["width"], CMS_KW["depth"]), grid_cols)
        out.check("cms == batch", got == want, f"{len(got)} vs {len(want)} cells")


WORKLOADS = {
    w.name: w for w in (GraphEtl, QueryMix, IterativeGraph, IncrementalRefresh)
}
