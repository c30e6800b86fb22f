"""BENCHMARK.json's per-layer metrics are names the traced ledger produces."""

import json
import os

import eventlog
import layers
from ops import QUERIES

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
# the spans kg.Instrument opens, besides catalog.<op>.<table>
KG_SPANS = (
    "lineage.input_rollup", "lineage.fingerprint", "lineage.flush", "extract.write",
    "link.name_features", "link.link_edges", "link.canonical_mapping", "link.apply_linking",
    "cc.connected_components", "materialize.build_nodes", "materialize.build_edges",
    "pipeline.incremental_triples",
)
TABLES = ("extracted", "components", "linked", "nodes", "edges")
PASS_ACCOUNTS = ("wall_s", "self_s", "blocking_s", "unaccounted_s")
CATALOG_COUNTERS = ("files_written", "bytes_written_mb")


def _ledger_names() -> set[str]:
    spans = [*KG_SPANS, "catalog.append.lineage"]
    spans += [f"catalog.{op}.{t}" for op in ("write", "read") for t in TABLES]
    spans += [f"ops.{q}" for q in QUERIES] + [f"ops.{m}" for m in layers.OPS_MODULES]
    names = {f"{s}.{c}" for s in spans for c in ("self_s", *eventlog.COUNTERS)}
    names |= {f"catalog.write.{t}.{c}" for t in TABLES for c in CATALOG_COUNTERS}
    names |= {f"{p}.{a}" for p in ("kg.pass", "kg.incremental_pass", "ops.pass")
              for a in PASS_ACCOUNTS}
    return names | {"trace_overhead_s"}


def test_declared_per_layer_metrics_exist_in_the_ledger():
    with open(SPEC) as f:
        declared = [m["name"] for m in json.load(f)["per_layer"]]
    assert len(declared) == len(set(declared))
    assert set(declared) <= _ledger_names()
