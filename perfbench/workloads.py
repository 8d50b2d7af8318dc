"""Workload definitions: which query keys run, on which inputs, and
when the data caches are cleared.

A workload is an ordered list of *units*. A unit is one or more query
keys over one dataset; every data cache (Spark block cache and both
materialized-stage caches) is cleared before each unit and never
inside one. A single-key unit therefore runs its key cold, while a
multi-key unit is an ordered family whose first consumer builds a
shared stage that the later consumers read. The benchmark seed only
permutes the order of units within a pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Inputs are the repository's fixed test tables (seed 42), copied
# byte for byte under perfbench/data/<scale>/ so that a run reads only
# its own checkout (data/SHA256SUMS lists them). The benchmark's --seed
# changes the key order, never the data, so the oracle answers are fixed.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Dataset:
    scale: str  # directory under DATA_DIR
    max_docs: int | None = None  # keep only documents with doc_id < max_docs


DATASETS: dict[str, Dataset] = {
    # 60,000 lineitem rows, 10,000 events, 500 documents.
    "sf0.01": Dataset("sf0.01"),
    # The first 100 of those documents, for the ExactSubstr unit: on all
    # 500 its suffix-stage build alone takes 10-15 s on 4 cores, which
    # pushes a run past the benchmark's time budget (see README.md).
    "corpus": Dataset("sf0.01", max_docs=100),
    # The self-tests' inputs.
    "sf0.001": Dataset("sf0.001"),
}


@dataclass(frozen=True)
class Unit:
    dataset: str
    keys: tuple[str, ...]


@dataclass(frozen=True)
class Workload:
    name: str
    units: tuple[Unit, ...]

    @property
    def keys(self) -> list[str]:
        return [k for u in self.units for k in u.keys]


def _singles(dataset: str, *keys: str) -> tuple[Unit, ...]:
    return tuple(Unit(dataset, (k,)) for k in keys)


WORKLOADS: dict[str, Workload] = {
    # Builder work (eager builder jobs in weekly_stock_by_region and
    # q5_local_supplier), Catalyst planning, parquet scans, joins and
    # one availableNow stream with its state store. No stage cache and
    # no Python UDF: stage-cache changes should show nothing here.
    "observatory": Workload(
        "observatory",
        _singles(
            "sf0.01",
            "weekly_stock",
            "weekly_stock_by_region",
            "jobs_by_location",
            "q1_pricing_summary",
            "q5_local_supplier",
            "streaming_stock",
        ),
    ),
    # Executor-heavy text work: persist inside the query
    # (dedup_minhash_lsh), the Arrow pandas-UDF path (dedup_simhash), and
    # the ExactSubstr family as one ordered unit whose first key builds
    # the suffix stage and the merged-interval stage the second reads.
    "dedup_text": Workload(
        "dedup_text",
        _singles("sf0.01", "dedup_minhash_lsh", "dedup_simhash")
        + (Unit("corpus", ("dedup_substring_spans", "dedup_substring_excise")),),
    ),
}
