"""The benchmark's workloads: which registry lanes each one runs, and why.

Every lane named here has a DuckDB oracle; its expected result is pinned
in ``manifest.json`` (see ``make_manifest.py``). One run of a workload
starts a fresh JVM and checks every lane before timing, so a run costs
about 25 s before anything is measured; the lane list is trimmed to one
lane or two per family so that a run with two whole passes stays under a
minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    lanes: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "batch",
            "closed-loop passes over short star-join lanes (opens, Catalyst), "
            "a loop lane (builder jobs) and Python/Arrow kernel lanes "
            "(Python workers)",
            (
                # headline and star-join lanes: opens and planning are a
                # large share of each lane
                "topk_orders",
                "anti_join_unsold_parts",
                "tpch_q3_shipping_priority",
                # loop lane: 11 builder-side jobs in under a second of build
                "binseg_daily_changepoints",
                # kernel lanes: time goes to the Python workers
                "multimodal_mulaw_decode",
                "doc_chunks_udtf",
            ),
        ),
        Workload(
            "stream",
            "open-loop event files into the flagship streaming query: "
            "the paper's freshness SLO, with merge-on-read store writes",
        ),
    )
}
