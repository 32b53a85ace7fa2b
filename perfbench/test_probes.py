"""Tests of the seeded op lists.  Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probes  # noqa: E402

SEEDS = range(12)


def test_same_seed_same_ops():
    for seed in SEEDS:
        assert probes.enrich_ops(seed) == probes.enrich_ops(seed)
        assert probes.ingest_ops(seed, 8) == probes.ingest_ops(seed, 8)


def test_seeds_differ_in_rows_not_in_mix():
    lists = [probes.enrich_ops(seed) for seed in SEEDS]
    classes = {tuple(op.size_class() for op in ops) for ops in lists}
    assert len(classes) == 1
    for ops in lists:  # every four consecutive ops probe each table once
        for k in range(0, len(ops), 4):
            assert len({op.table for op in ops[k:k + 4]}) == 4
    assert len({tuple(ops) for ops in lists}) > 1
    builds = [probes.ingest_ops(seed, 4) for seed in SEEDS]
    assert len({tuple(ops) for ops in builds}) > 1


def test_prefix_is_stable():
    # a run that gets further uses the same first ops
    for seed in SEEDS:
        assert probes.enrich_ops(seed, 3) == probes.enrich_ops(seed)[:3]
        assert probes.ingest_ops(seed, 3) == probes.ingest_ops(seed, 9)[:3]


def test_no_two_ops_share_a_plan():
    for seed in SEEDS:
        ops = probes.enrich_ops(seed)
        plans = {(op.table, op.predicate, op.query_columns) for op in ops}
        assert len(plans) == len(ops)
        builds = probes.ingest_ops(seed, 16)
        orders = {op.table_order for op in builds}
        assert len(orders) == len(builds)
        assert probes.LAKE_TABLES not in orders  # the set-up build's order


def test_probe_shape():
    for op in probes.enrich_ops(0):
        assert 0 <= op.remainder < op.modulus
        assert op.key in op.order_by
        assert op.target not in op.query_columns
    for op in probes.ingest_ops(0, 4):
        assert sorted(op.table_order) == sorted(probes.LAKE_TABLES)
