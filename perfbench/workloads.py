"""The benchmark's workloads: which registered ops run, on what inputs,
into which sink. See NOTES.md for why each one exists.

`BENCHMARK.json` lists `tpcdi_load` and `llm_curation`; `microbatch`
runs the same way by hand and in the traced layer table. The op lists
are shorter than a full TPC-DI load or corpus build: a run must fit
start-up, a cold pass and warm-up, and a steady timed window into
about a minute, and every library layer the trace names must still be
called by a listed workload.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Inputs:
    """`replicas` seeded replicas at scale factor `sf` (row-count
    overrides per table). `split` makes every replica its own fixture
    dir (one micro-batch slice each) instead of one merged dir."""

    replicas: int
    sf: float
    overrides: dict[str, int] = field(default_factory=dict)
    split: bool = False


@dataclass(frozen=True)
class Workload:
    ops: list[str]
    sink: str  # "parquet": each op's output is landed; "noop": executed only
    inputs: Inputs


WORKLOADS = {
    # warehouse load over a replicated sf0.01-size copy; the only
    # workload that writes, and the only one that reads through
    # `sources` (FINWIRE fixed-width)
    "tpcdi_load": Workload(
        ops=["tpcdi_batch_e2e", "tpcdi_fact_holdings"],
        sink="parquet",
        inputs=Inputs(replicas=10, sf=0.001),
    ),
    # corpus dedup; dominated by the llm.* layers (connected-component
    # supersteps, MinHash-LSH against a corpus index), never calls tpcdi.*
    "llm_curation": Workload(
        ops=["dedup_cluster_cc", "stream_incremental_dedup"],
        sink="noop",
        inputs=Inputs(replicas=1, sf=0.001, overrides={"documents": 1000, "embeddings": 500}),
    ),
    # incremental ingest: the same ops once per small slice; per-call
    # cost dominates
    "microbatch": Workload(
        ops=["stream_incremental_dedup", "tpcdi_cdc_apply"],
        sink="noop",
        inputs=Inputs(replicas=2, sf=0.001, overrides={"documents": 200}, split=True),
    ),
}
