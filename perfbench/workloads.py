"""The benchmark's workloads: named query lists over the engine's catalog.

Each workload is a fixed list of catalog query names.  A run executes the
list once cold and then again warm; the seed only permutes the order of
every pass.  See NOTES.md for why each workload exists and which layer
it stresses.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The REID user's nightly run: extraction -> DQ -> SCD merge, the same
    # merge fed as availableNow micro-batches, and a short report served
    # from the result.  Per-query driver cost, stream triggers, WAL
    # commits, fixture drops and parquet writes.
    "listing_etl": (
        "property_type_cases", "dq_identify_issues", "merge_scd2_intervals", "streaming_merge_scd2",
        "monthly_order_counts",
    ),
    # The LLM-data curation user: banded MinHash dedup, brute-force cosine
    # top-k (a mapInPandas pass) and k-means (Lloyd rounds run as eager
    # jobs inside the plan call).  Driver time, per-pass codegen and Python
    # workers; little shuffle at sf0.01.  No streaming.
    "corpus_curation": (
        "dedup_minhash_pairs", "embedding_cosine_topk", "embedding_kmeans",
    ),
}


def permuted(names: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a deterministic function of the seed
    and the pass number (string seeds hash the same in every process)."""
    return random.Random(f"{seed}:{pass_no}").sample(list(names), len(names))


def resolve(catalog, workload: str) -> tuple[str, ...]:
    """The workload's query names, checked against the catalog.  Raises on
    an unknown workload or a name the catalog does not register."""
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; known: {', '.join(WORKLOADS)}")
    for name, names in WORKLOADS.items():
        unknown = [n for n in names if n not in catalog]
        if unknown:
            raise SystemExit(f"workload {name!r} names queries the catalog does not register: {unknown}")
    return WORKLOADS[workload]


def unrun(catalog) -> list[str]:
    """Registered queries that no workload runs, in catalog order."""
    run = {n for names in WORKLOADS.values() for n in names}
    return [n for n in catalog if n not in run]
