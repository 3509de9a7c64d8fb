"""The benchmark's own checks on its frozen workload definitions.

    python3 -m pytest perfbench/test_workloads.py -q

No Spark session is started: the registry is filled by importing the
query modules, and the op mix is pure Python.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import bench  # noqa: E402
from pixels_spark.queries import load_all_modules  # noqa: E402
from workloads import (  # noqa: E402
    PIPELINE,
    PIPELINE_MODULES,
    RELATIONAL,
    ROUND_OPS,
    TIMED,
    CdcPlan,
)

REGISTRY = load_all_modules()


def _declaring_module(name: str) -> str:
    return REGISTRY[name].fn.__module__.rsplit(".", 1)[1]


def test_every_listed_query_is_registered():
    listed = set(RELATIONAL) | set(PIPELINE) | {q for qs in TIMED.values() for q in qs}
    assert listed - set(REGISTRY) == set()


def test_relational_and_pipeline_are_disjoint():
    assert set(RELATIONAL).isdisjoint(PIPELINE)
    assert len(set(RELATIONAL)) == len(RELATIONAL)
    assert len(set(PIPELINE)) == len(PIPELINE)


def test_pipeline_is_the_headline_queries_of_the_pipeline_modules():
    want = [q for q in bench.HEADLINE if _declaring_module(q) in PIPELINE_MODULES]
    assert list(PIPELINE) == want
    assert list(RELATIONAL) == [q for q in bench.HEADLINE if q not in set(want)]


def test_timed_sets_come_from_their_lists_and_have_golden_records():
    assert set(TIMED["relational"]) <= set(RELATIONAL)
    assert set(TIMED["pipeline"]) <= set(PIPELINE)
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    assert set(golden) == {q for qs in TIMED.values() for q in qs}


def _rounds(seed: int, n: int) -> list:
    keys = list(range(20_000))
    users = list(range(300))
    gen = CdcPlan(seed, keys, users).rounds()
    return [[vars(op) for op in next(gen)] for _ in range(n)]


def test_mvcc_cdc_op_mix_is_reproducible_from_the_seed():
    assert _rounds(7, 4) == _rounds(7, 4)
    assert _rounds(7, 4) != _rounds(8, 4)


def test_mvcc_cdc_rounds_have_a_fixed_mix_and_valid_keys():
    keys = list(range(20_000))
    plan = CdcPlan(3, keys, list(range(300)))
    live = set(plan.initial)
    pool = set(plan.pool)
    assert live.isdisjoint(pool) and live | pool == set(keys)
    gen = plan.rounds()
    for _ in range(5):
        ops = next(gen)
        assert sorted(op.kind for op in ops[:-1]) == sorted(ROUND_OPS)
        assert ops[-1].kind == "compact"
        for op in ops:
            if op.kind in ("update", "delete"):
                assert set(op.keys) <= live
            if op.kind == "delete":
                live -= set(op.keys)
            if op.kind == "insert":
                assert set(op.keys).isdisjoint(live)
                live |= set(op.keys)
            if op.kind == "merge":
                assert set(op.keys) <= live and set(op.new_keys).isdisjoint(live)
                live |= set(op.new_keys)
