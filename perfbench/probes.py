"""Seeded operation lists for the benchmark's workloads.

Pure Python, no Spark: the same ``(workload, seed)`` always gives the same
list, and the list never depends on how fast the program runs.

The seed picks *which* rows, columns and table orders an op uses.  What an
op at position ``i`` looks like otherwise (its probe table, its size class,
its query degree) is fixed, so two seeds give runs with the same mix.

Every op of a run has its own logical plan: MATE and the enrichment
pipeline persist frames keyed by logical plan, so a repeated plan would be
served from those frames and time the cache, not the program.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# the catalog's table order; an ingest op hands the tables to the builder
# in a seeded permutation of it
LAKE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass(frozen=True)
class ProbeTable:
    table: str
    key: str                                  # dense 0-based key
    query_options: tuple[tuple[str, ...], ...]  # same degree each
    target: str                               # numeric target column


# an enrich op at position i probes ENRICH_CYCLE[i % 4]; the first is the
# package's flagship enrichment (customer, c_custkey -> c_acctbal)
ENRICH_CYCLE = (
    ProbeTable("customer", "c_custkey", (("c_custkey",),), "c_acctbal"),
    ProbeTable("orders", "o_orderkey", (("o_orderkey",), ("o_custkey",)), "o_totalprice"),
    ProbeTable("part", "p_partkey", (("p_partkey",),), "p_retailprice"),
    ProbeTable("supplier", "s_suppkey", (("s_suppkey",),), "s_acctbal"),
)
# size class of an enrich op: rows with key % 3 == r (a third of the table)
ENRICH_MODULUS = 3
MAX_ENRICH_OPS = ENRICH_MODULUS * len(ENRICH_CYCLE)


@dataclass(frozen=True)
class EnrichOp:
    table: str
    key: str
    modulus: int
    remainder: int
    query_columns: tuple[str, ...]
    target: str

    @property
    def predicate(self) -> str:
        """Row filter, valid both as Spark SQL and as DuckDB SQL."""
        return f"{self.key} % {self.modulus} = {self.remainder}"

    @property
    def order_by(self) -> tuple[str, ...]:
        return (self.key,)

    def size_class(self) -> tuple[str, int, int]:
        return (self.table, self.modulus, len(self.query_columns))


@dataclass(frozen=True)
class IngestOp:
    table_order: tuple[str, ...]


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def enrich_ops(seed: int, n: int = MAX_ENRICH_OPS) -> list[EnrichOp]:
    """The first ``n`` enrich ops of a run (at most MAX_ENRICH_OPS,
    the number of distinct probes the fixed cycle has)."""
    if not 0 < n <= MAX_ENRICH_OPS:
        raise ValueError(f"n must be in 1..{MAX_ENRICH_OPS}, got {n}")
    rng = _rng("enrich", seed)
    remainders = {
        p.table: rng.sample(range(ENRICH_MODULUS), ENRICH_MODULUS) for p in ENRICH_CYCLE
    }
    ops = []
    for i in range(n):
        p = ENRICH_CYCLE[i % len(ENRICH_CYCLE)]
        ops.append(EnrichOp(
            p.table, p.key, ENRICH_MODULUS, remainders[p.table][i // len(ENRICH_CYCLE)],
            rng.choice(p.query_options), p.target,
        ))
    return ops


def ingest_ops(seed: int, n: int = 64) -> list[IngestOp]:
    """``n`` builds, each handing the lake's tables to the builder in a
    distinct seeded order (the union order, and so the plan, differs).
    The catalog order is left to the untimed build of the set-up."""
    rng = _rng("ingest", seed)
    seen: set[tuple[str, ...]] = {LAKE_TABLES}
    ops = []
    while len(ops) < n:
        order = list(LAKE_TABLES)
        rng.shuffle(order)
        if tuple(order) not in seen:
            seen.add(tuple(order))
            ops.append(IngestOp(tuple(order)))
    return ops
