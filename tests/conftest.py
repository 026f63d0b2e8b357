from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("MPS_TEST_SF_DIR", "/root/testdata/sf0.001")


def _slow_key(nodeid: str) -> str:
    """``<file basename>::<rest of the nodeid>`` — stable under
    different invocation directories/rootdirs, and whole even when a
    parameter id contains ``/`` (URL cases)."""
    path, sep, rest = nodeid.partition("::")
    return os.path.basename(path) + sep + rest


def _slow_manifest() -> set[str]:
    """``<file>::<test>`` keys of the measured slow tier — data-driven
    marking (VERDICT r17 task 1) so the tiers are regenerable from a
    ``--durations=0`` run instead of hand-maintained decorators."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")
    out: set[str] = set()
    try:
        with open(path) as f:
            for ln in f:
                ln = ln.strip()
                if ln and not ln.startswith("#"):
                    out.add(_slow_key(ln))
    except OSError:
        pass
    return out


def pytest_collection_modifyitems(config, items):
    slow = _slow_manifest()
    if not slow:
        return
    for item in items:
        if _slow_key(item.nodeid) in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from metalpipe_spark.session import get_spark

    spark = get_spark(
        app_name="metalpipe-spark-tests",
        master="local[*]",
        conf={"spark.sql.shuffle.partitions": "32"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
