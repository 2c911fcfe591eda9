"""The benchmark's workloads: which catalog operations a pass runs, at
which scale, and how each output is checked.

Each workload loads a different layer of the program (see GLOSSARY.md;
BENCHMARK.json gives the one-line reasons):

* ``iterative`` -- the hand-rolled loop operators k-means and k-center
  coreset. Their time goes to eager actions run while the
  plan is built, to many small jobs, and to checkpointed intermediates.
* ``golden`` -- the test-driven workflow on small tables: frame,
  operator, source and Python-worker entries. Its time is fixed
  per-operation overhead: plan building over py4j, job scheduling and
  stringifying results.

Every output is stringified with ``sources.write_records`` and compared
cell by cell with ``testing.equal_records`` to ``goldens/records/<op>.json``
inside the timed region, as a golden-record test does. Every golden was
cross-checked against the catalog's DuckDB oracle when it was generated
(``make_goldens.py``): Spark and DuckDB agreed on the row count and on
``tools.check_oracle.table_hash``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens")
#: Seed of the input tables. The goldens belong to these tables; the
#: run's ``--seed`` shuffles the order of the operations in every pass.
DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    ops: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "iterative",
            0.01,
            (
                "kmeans_embeddings",
                "kcenter_coreset_embeddings",
            ),
        ),
        Workload(
            "golden",
            0.001,
            (
                "readme_pipeline_golden",
                "jsonl_pipeline_golden",
                "lookup_orders_customer",
                "custom_apply_zscore",
            ),
        ),
    )
}


def inputs(sf: float) -> str:
    """The directory of the input tables of scale ``sf``, cached in the
    checkout and written on first use."""
    import datagen

    out = os.path.join(HERE, ".data", f"sf{sf:g}-seed{DATA_SEED}-v{datagen.VERSION}")
    return datagen.write(out, sf, DATA_SEED)


def load_records(op: str) -> list[list[str]]:
    with open(os.path.join(GOLDENS, "records", f"{op}.json")) as f:
        return json.load(f)
