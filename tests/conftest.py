from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cqu_bigdata_recommender_system_for_movies_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


class _FakeGroupState:
    """In-process stand-in for the GroupState of applyInPandasWithState:
    exists/get/update is all streaming/state.py's per-group callback uses."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


@pytest.fixture
def group_state():
    """Factory of fresh GroupState stand-ins, one per simulated shard."""
    return _FakeGroupState


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("engine-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def query_df(spark, sf_dir):
    """Session-cached query construction: registry-wide parametrized tests
    (plan scan, schema guards, parity) each need the SAME constructed
    DataFrame per query name, and for eager queries (streaming runs,
    checkpoint-pinned helpers) construction IS execution — building each
    one once per session instead of once per test removes 3-4 redundant
    full executions of every streaming query and ALS fit per suite run."""
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries

    queries = all_queries()
    cache: dict[str, object] = {}

    def get(name: str):
        if name not in cache:
            cache[name] = queries[name](spark, sf_dir)
        return cache[name]

    return get
