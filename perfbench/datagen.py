"""Seeded inputs for the workloads.

* ``STAR_DIR`` — the repository's sf0.01 test tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``), copied
  byte for byte into ``data/sf0.01`` so the benchmark reads nothing
  outside its checkout.  The registry queries and their DuckDB oracles
  run on them as they do in the repository's correctness checks.
* ``clinic_graph`` — a Gen3-style property graph in the reference's
  physical format (``node_<label>`` / ``edge_<rel>`` parquet with a
  ``_props`` JSON column), plus the dictionary as JSON schemas and the
  aggregator + collector mapping as YAML; deterministic in (seed, size).
* ``document_deltas`` — the sf0.01 ``documents`` table cut into
  seed-chosen monotone ``doc_id`` ranges of uneven size, one parquet
  file per delta.

Everything is numpy + pyarrow on the driver; no Spark session is used,
so generation never counts towards the measured set-up.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
STAR_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table never
    # shifts another's values
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _cached(out_dir: str, build) -> str:
    """Build ``out_dir`` once; a ``_DONE`` marker makes reuse safe after
    an interrupted generation."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    build(out_dir)
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


# ---------------------------------------------------------------------------
# clinic property graph (FIXTURES.md section 2)
# ---------------------------------------------------------------------------

# label -> {prop: json-schema}
CLINIC_SCHEMAS = {
    "program": {"name": {"type": "string"}},
    "project": {
        "code": {"type": "string"},
        "name": {"type": "string"},
        "data_type": {"type": "array", "items": {"type": "string"}},
    },
    "center": {
        "country": {"type": "string"},
        "name": {"type": "string"},
        "investigator_name": {"type": "string"},
    },
    "participant": {
        "submitter_id": {"type": "string"},
        "project_id": {"type": "string"},
        "consortium_id": {"type": "integer"},
        "consent_codes": {"type": "array", "items": {"type": "string"}},
        "consented_for_data_sharing": {"type": "boolean"},
        "relationship_to_proband": {
            "enum": ["Proband", "Mother", "Father", "Sibling", "Unknown"]
        },
        "updated_datetime": {"type": "string"},
    },
    "sample": {
        "submitter_id": {"type": "string"},
        "sample_type": {"enum": ["Blood", "Saliva", "Tissue", "Urine"]},
        "quantity": {"type": "number"},
    },
    "visit": {
        "age_at_visit": {"type": "integer"},
        "bmi": {"type": "number"},
        "ever_transferred": {"type": "boolean"},
        "height": {"type": "number"},
        "pregnancy_status": {"type": "boolean"},
    },
}
# (child, parent, backref on parent, link name, link label); the edge
# table is edge_<child><label><parent>, the psqlgraph convention
CLINIC_LINKS = [
    ("project", "program", "projects", "programs", "memberof"),
    ("center", "project", "centers", "projects", "contributedto"),
    ("participant", "center", "participants", "centers", "recruitedat"),
    ("sample", "participant", "samples", "participants", "derivedfrom"),
    ("visit", "participant", "visits", "participants", "describes"),
]

CLINIC_MAPPING = """\
mappings:
  - name: clinic_participant
    doc_type: participant
    type: aggregator
    root: participant
    props:
      - name: submitter_id
      - name: project_id
      - name: consortium
        src: consortium_id
      - name: proband
        src: relationship_to_proband
        value_mappings:
          - Unknown: Not Reported
    parent_props:
      - path: centers[country,center_name:name].projects[data_type]
    flatten_props:
      - path: visits
        props: [{name: bmi}, {name: height}]
        sorted_by: age_at_visit, desc
    aggregated_props:
      - {name: _samples_count, path: samples, fn: count}
      - {name: sample_types, src: sample_type, path: samples, fn: set}
      - {name: total_quantity, src: quantity, path: samples, fn: sum}
      - {name: min_bmi, src: bmi, path: visits, fn: min}
      - {name: max_bmi, src: bmi, path: visits, fn: max}
    nested_props:
      - name: participant_visits
        path: visits
        props: [{name: age_at_visit}, {name: bmi}, {name: ever_transferred},
                {name: height}, {name: pregnancy_status}]
  - name: clinic_file
    doc_type: file
    type: collector
    category: data_file
    props:
      - {name: submitter_id}
      - {name: sample_type}
      - {name: source_node}
    injecting_props:
      participant:
        props:
          - {name: participant_id, src: id}
          - {name: project_id}
"""


def clinic_dictionary_json() -> dict[str, dict]:
    """The clinic dictionary as the JSON schemas the CLI's
    ``--dictionary`` file holds (``dictionary_from_json_schemas``)."""
    out = {}
    for label, props in CLINIC_SCHEMAS.items():
        schema = {"id": label, "properties": dict(props), "links": []}
        if label == "sample":
            schema["category"] = "data_file"
        for child, parent, backref, name, link_label in CLINIC_LINKS:
            if child == label:
                schema["links"].append({
                    "name": name, "backref": backref, "target_type": parent,
                    "label": link_label,
                })
        out[label] = schema
    return out


def _uuids(seed: int, label: str, n: int) -> np.ndarray:
    # UUID-shaped ids derived by hashing (seed, label, index)
    base = hashlib.sha256(f"{seed}:{label}".encode()).hexdigest()[:20]
    return np.array(
        [f"{base[:8]}-{base[8:12]}-{base[12:16]}-{base[16:20]}-{i:012x}" for i in range(n)]
    )


def _node_table(ids: np.ndarray, props: list[dict]) -> pa.Table:
    n = len(ids)
    return pa.table({
        "created": ["2020-01-01T00:00:00"] * n,
        "acl": ["{}"] * n,
        "_sysan": ["{}"] * n,
        "_props": [json.dumps(p, separators=(",", ":")) for p in props],
        "node_id": ids,
    })


def _edge_table(src: np.ndarray, dst: np.ndarray) -> pa.Table:
    n = len(src)
    return pa.table({
        "created": ["2020-01-01T00:00:00"] * n,
        "acl": ["{}"] * n,
        "_sysan": ["{}"] * n,
        "_props": ["{}"] * n,
        "src_id": src,
        "dst_id": dst,
    })


def _build_clinic(seed: int, n_part: int, out: str) -> None:
    r = _rng(seed, "clinic")
    n_prog, n_proj, n_center = 4, 16, 64
    n_sample, n_visit = 4 * n_part, 3 * n_part
    ids = {
        "program": _uuids(seed, "program", n_prog),
        "project": _uuids(seed, "project", n_proj),
        "center": _uuids(seed, "center", n_center),
        "participant": _uuids(seed, "participant", n_part),
        "sample": _uuids(seed, "sample", n_sample),
        "visit": _uuids(seed, "visit", n_visit),
    }
    parent_of = {
        "project": np.arange(n_proj) % n_prog,
        "center": r.integers(0, n_proj, n_center),
        "participant": r.integers(0, n_center, n_part),
        # uneven fan-out: some participants have no samples or visits
        "sample": r.integers(0, n_part, n_sample),
        "visit": r.integers(0, n_part, n_visit),
    }
    prog_name = [f"prog{i}" for i in range(n_prog)]
    proj_code = [f"P{i:03d}" for i in range(n_proj)]
    dtypes = ["imaging", "genomic", "clinical", "survey"]
    props = {
        "program": [{"name": prog_name[i]} for i in range(n_prog)],
        "project": [
            {"code": proj_code[i], "name": f"project {i}",
             "data_type": sorted({dtypes[i % 4], dtypes[(i * 7) % 4]})}
            for i in range(n_proj)
        ],
        "center": [
            {"country": ["US", "CA", "UK", "DE"][i % 4], "name": f"center{i}",
             "investigator_name": f"dr{i}"}
            for i in range(n_center)
        ],
    }
    proj_of_part = parent_of["center"][parent_of["participant"]]
    rel = CLINIC_SCHEMAS["participant"]["relationship_to_proband"]["enum"]
    cons = r.integers(0, 8, n_part)
    relx = r.integers(0, len(rel), n_part)
    share = r.random(n_part) < 0.7
    props["participant"] = [
        {
            "submitter_id": f"part_{i}",
            "project_id": f"{prog_name[parent_of['project'][p]]}-{proj_code[p]}",
            "consortium_id": int(cons[i]),
            "consent_codes": ["GRU", "HMB"][: 1 + i % 2],
            "consented_for_data_sharing": bool(share[i]),
            "relationship_to_proband": rel[relx[i]],
            "updated_datetime": f"2021-{1 + i % 12:02d}-01T00:00:00",
        }
        for i, p in enumerate(proj_of_part)
    ]
    stype = CLINIC_SCHEMAS["sample"]["sample_type"]["enum"]
    sx = r.integers(0, len(stype), n_sample)
    qty = np.round(r.uniform(0.5, 50.0, n_sample), 2)
    props["sample"] = [
        {"submitter_id": f"samp_{i}", "sample_type": stype[sx[i]], "quantity": float(qty[i])}
        for i in range(n_sample)
    ]
    age = r.integers(18, 90, n_visit)
    bmi = np.round(r.uniform(16.0, 42.0, n_visit), 2)
    height = np.round(r.uniform(140.0, 200.0, n_visit), 1)
    flags = r.random((n_visit, 2)) < 0.5
    props["visit"] = [
        {"age_at_visit": int(age[i]), "bmi": float(bmi[i]),
         "ever_transferred": bool(flags[i, 0]), "height": float(height[i]),
         "pregnancy_status": bool(flags[i, 1])}
        for i in range(n_visit)
    ]
    for label, p in props.items():
        _write(_node_table(ids[label], p), f"{out}/node_{label}.parquet")
    for child, parent, _, _, link_label in CLINIC_LINKS:
        _write(
            _edge_table(ids[child], ids[parent][parent_of[child]]),
            f"{out}/edge_{child}{link_label}{parent}.parquet",
        )
    with open(f"{out}/dictionary.json", "w") as fh:
        json.dump(clinic_dictionary_json(), fh, indent=1)
    with open(f"{out}/etlMapping.yaml", "w") as fh:
        fh.write(CLINIC_MAPPING)


def clinic_graph(root: str, seed: int, n_participants: int) -> str:
    return _cached(
        os.path.abspath(f"{root}/clinic-p{n_participants}-seed{seed}"),
        lambda out: _build_clinic(seed, n_participants, out),
    )


# ---------------------------------------------------------------------------
# incremental deltas
# ---------------------------------------------------------------------------


def delta_bounds(seed: int, n_docs: int, n_deltas: int) -> list[tuple[int, int]]:
    """Uneven, monotone ``[lo, hi)`` doc-id ranges covering ``n_docs``."""
    w = _rng(seed, "deltas").uniform(0.5, 1.5, n_deltas)
    cuts = np.round(np.cumsum(w) / w.sum() * n_docs).astype(int)
    cuts[-1] = n_docs
    lo = np.concatenate([[0], cuts[:-1]])
    return [(int(a), int(b)) for a, b in zip(lo, cuts)]


def document_deltas(root: str, seed: int, n_deltas: int) -> list[str]:
    out = _cached(
        os.path.abspath(f"{root}/deltas-k{n_deltas}-seed{seed}"),
        lambda out: _build_deltas(seed, n_deltas, out),
    )
    return [f"{out}/delta-{i:03d}.parquet" for i in range(n_deltas)]


def _build_deltas(seed: int, n_deltas: int, out: str) -> None:
    docs = pq.read_table(f"{STAR_DIR}/documents.parquet").sort_by("doc_id")
    for i, (lo, hi) in enumerate(delta_bounds(seed, docs.num_rows, n_deltas)):
        _write(docs.slice(lo, hi - lo), f"{out}/delta-{i:03d}.parquet")
