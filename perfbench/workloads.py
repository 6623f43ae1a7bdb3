"""Workload definitions shared by the load client (``run.py``) and the
host process (``host.py``).

A SPARQL shape is taken from the engine's own registry: its text, its
DuckDB oracle SQL and the catalog kind it runs on. A pipeline row is a
registry query function with its oracle SQL. Each workload runs a fixed
set of shapes or rows, so every run measures the same composition; the
seed only orders each pass.

The sets are subsets of the full 58-shape SPARQL suite and of the
registry's pipeline rows, sized so that a run fits the benchmark's time
budget on a 4-core box (see README.md).
"""

from __future__ import annotations

import hashlib
import json

# SERVICE federation shape: the region star is answered by an injected
# SERVICE executor (host.py) and joined with the local nation star.
SERVICE_ENDPOINT = "http://remote.example/sparql"
SERVICE_SHAPE = "sparql_service_join"
_SERVICE_TEXT = """SELECT ?nname ?rname WHERE {
  ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
  SERVICE <%s> { ?r ex:name ?rname } }""" % SERVICE_ENDPOINT

WORKLOADS: dict[str, dict] = {
    # planner/compiler fixed costs dominate at this scale
    "fed_interactive": {
        "kind": "sparql",
        "sf": 0.001,
        "shapes": [
            "sparql_star_filter",
            "sparql_optional",
            "sparql_aggregate",
            "sparql_path_closure",
            "sparql_mongo_join",
            "sparql_nested_star_join",
            "sparql_service_join",
            "lslod_sq1_union_stars",
            "lslod_cq4_three_bridge_chain",
        ],
    },
    # operator and streaming layers only; no SPARQL layer runs
    "pipeline_batch": {
        "kind": "pipeline",
        "sf": 0.01,
        "rows": [
            "events_communities",
            "text_tfidf_terms",
            "dedup_prefix_jaccard",
            "ann_topk_bruteforce",
            "q3_shipping_priority",
            "stream_dedup",
        ],
    },
}

# operator family of a pipeline row, by registry name prefix
FAMILIES = ("dedup", "graph", "text", "similarity", "pipeline", "tpch")
_FAMILY_PREFIX = [
    ("stream_", "streaming"),
    ("events_pagerank", "graph"),
    ("events_ppr", "graph"),
    ("events_bfs", "graph"),
    ("events_communities", "graph"),
    ("events_kcore", "graph"),
    ("text_", "text"),
    ("dedup_", "dedup"),
    ("minhash_", "dedup"),
    ("simhash_", "dedup"),
    ("semantic_dedup", "dedup"),
    ("er_", "dedup"),
    ("contamination_", "dedup"),
    ("ann_", "similarity"),
    ("emb_", "similarity"),
    ("bm25_", "similarity"),
    ("retrieval_", "similarity"),
    ("train_", "similarity"),
    ("pipeline_", "pipeline"),
    ("q", "tpch"),
]


def family(row: str) -> str:
    for prefix, fam in _FAMILY_PREFIX:
        if row.startswith(prefix):
            return fam
    raise ValueError(f"no operator family for pipeline row {row!r}")


def sparql_shapes() -> dict[str, tuple[str, str, str]]:
    """Every registry SPARQL shape: name -> (full text, oracle SQL,
    catalog kind). Imports the engine, so call it only where the engine
    is on the path."""
    from ontario_spark.queries import lslod_shapes, sparql_suite

    out: dict[str, tuple[str, str, str]] = {}
    for mod in (sparql_suite, lslod_shapes):
        for name, (text, sql, kind) in mod._DEFS.items():
            kind = {True: "split", False: "base"}.get(kind, kind)
            out[name] = (sparql_suite.PFX + text, sql, kind)
    out[SERVICE_SHAPE] = (
        sparql_suite.PFX + _SERVICE_TEXT,
        sparql_suite.ORACLE[SERVICE_SHAPE],
        "service",
    )
    return out



def canon_binding(b: dict) -> str:
    """One SPARQL-JSON binding in a canonical text form."""
    return json.dumps(b, sort_keys=True, separators=(",", ":"))


def multiset_hash(items) -> str:
    """Order-insensitive hash of a multiset of strings."""
    h = hashlib.sha256()
    for s in sorted(items):
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()
