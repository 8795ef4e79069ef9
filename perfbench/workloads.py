"""Workloads, their inputs, and the correctness checks on their outputs.

Each workload stresses one layer of the engine:

- ``iterative_sf0.01``: two hand-rolled graph iterations
  (label_propagation, kcore) that materialize intermediates while their
  plans are built; plan build on the Spark driver and the chain of small jobs
  do the work, execution does little.
- ``flows_sf0.01``: ``examples/curation_config.yaml`` outputs run the
  way the CLI runs them (model -> sources -> runner -> validate ->
  sources.save), writing real files; the save and the op fold do the
  work.

Each workload runs a small fixed subset of its family, so that a run
(session start, a cold pass and 20 s of steady passes) stays near 50 s
and the whole benchmark fits its time budget.

Inputs are the fixed seed-42 test tables, copied under ``data/``.
Oracle digests are computed with DuckDB on first use and cached under
``.work/``, keyed by the oracle SQL's hash.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# curation_config.yaml output -> the flow file tests/test_example_curation.py pairs with it
FLOW_FILES = {
    "curated": "corpus_curation",
    "search_hits": "keyword_search",
    "benford_digits": "benford_fraud_screen",
}


DATASET = "sf0.01"  # the fixed seed-42 tables every workload reads


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...] = ()  # HARNESS_QUERIES names
    flows: tuple[str, ...] = ()  # curation_config.yaml output keys

    @property
    def items(self) -> tuple[str, ...]:
        return self.queries or self.flows


WORKLOADS = {
    w.name: w
    for w in (
        Workload("iterative_sf0.01", queries=("label_propagation", "kcore")),
        Workload("flows_sf0.01", flows=("curated", "search_hits", "benford_digits")),
    )
}


# -- inputs -------------------------------------------------------------


def dataset_dir(name: str) -> str:
    return os.path.join(HERE, "data", name)


def write_flow_config(data_dir: str, out_root: str, path: str) -> None:
    """Copy curation_config.yaml with inputs re-pointed at ``data_dir``
    and outputs sent under ``out_root``."""
    import yaml

    with open(os.path.join(ROOT, "examples", "curation_config.yaml")) as fh:
        raw = yaml.safe_load(fh)
    for d in raw["inputs"].values():
        # absolute paths name the test tables; relative ones are repo files
        if os.path.isabs(d["path"]):
            d["path"] = os.path.join(data_dir, os.path.basename(d["path"]))
        else:
            d["path"] = os.path.join(ROOT, d["path"])
    for key, d in raw["outputs"].items():
        d["path"] = os.path.join(out_root, key)
    with open(path, "w") as fh:
        yaml.safe_dump(raw, fh)


def flow_file(out_key: str) -> str:
    return os.path.join(ROOT, "examples", "pipelines", f"{FLOW_FILES[out_key]}.yaml")


# -- correctness --------------------------------------------------------


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame, with
    ``scripts/check_oracle.py``'s exact (type-sensitive, full-precision)
    cell normalization."""
    from check_oracle import normalize_exact, pdf_to_multiset

    h = hashlib.sha256(json.dumps(sorted(pdf.columns)).encode())
    rows = pdf_to_multiset(pdf, normalize_exact)
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)} rows {h.hexdigest()[:16]}"


def oracle_digests(dataset: str, names: tuple[str, ...], oracles: dict) -> dict[str, str]:
    """DuckDB oracle digest per query, cached per dataset."""
    path = os.path.join(WORK, "oracle", f"{dataset}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    out, con = {}, None
    for name in names:
        sql_sha = hashlib.sha256(oracles[name].encode()).hexdigest()
        hit = cache.get(name)
        if hit is None or hit["sql"] != sql_sha:
            if con is None:
                import duckdb

                con = duckdb.connect()
                d = dataset_dir(dataset)
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
            hit = cache[name] = {"sql": sql_sha, "digest": digest(con.execute(oracles[name]).df())}
        out[name] = hit["digest"]
    if con is not None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp", "w") as fh:
            json.dump(cache, fh, indent=1)
        os.replace(f"{path}.tmp", path)
    return out
