"""The benchmark's workloads: named lists of oracle-gated catalog queries.

Each workload stresses a different layer of the program; README.md gives the
reasons and the map from per-layer metric to end-to-end metric. ``tables``
names the test tables the workload's queries read, which set-up scans once
so that first-touch file I/O is billed to set-up, not to a query. ``warmup``
names the queries set-up runs on a tiny dataset first: a JVM/codegen query,
plus a Python-worker query for a workload that has Python plan nodes, so the
worker pool's spin-up is billed to set-up and not to the first such query.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    warmup: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "jvm_mix",
            (
                "profit_by_nation_year",
                "copurchase_pagerank",
            ),
            ("nation", "supplier", "part", "orders", "lineitem"),
            ("pricing_summary",),
        ),
        Workload(
            "media_decode",
            (
                "png_decode_stats",
                "html_text_extract_stats",
                "warc_revisit_roundtrip",
            ),
            ("documents",),
            ("pricing_summary", "embedding_near_dup"),
        ),
    )
}
