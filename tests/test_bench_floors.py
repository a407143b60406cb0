"""BENCH_FLOORS.json is bench.py's only source of recheck floors and
holds one for every registered query."""

from __future__ import annotations

import json
import os

import bench
from dwh_spark.plans.registry import QUERIES


def test_every_registered_query_has_a_floor():
    floors = bench._recorded_floors()
    assert set(QUERIES) - set(floors) == set()
    assert all(v > 0 for v in floors.values())


def test_floors_are_the_file_rows():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_FLOORS.json")) as fh:
        rows = json.load(fh)
    assert bench._recorded_floors() == {
        k: float(v) for k, v in rows.items() if k != "_comment"
    }
