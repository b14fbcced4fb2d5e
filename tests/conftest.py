import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"

# --------------------------------------------------------------------------- #
# Default-run test selection (VERDICT r12 task 2).
#
# The full suite includes multi-minute property soaks, subprocess-spawning
# zone sweeps, and a registry-wide plan audit; on a degraded host it runs
# 45-70 minutes wall, which exceeds the round driver's pytest budget (the
# VERIFY_r12 run was cut off at 95% with zero failures). Tests marked
# ``slow`` — plus the two parametrized outliers below, whose sibling params
# are fast — are therefore SKIPPED by default so `python -m pytest tests/`
# finishes well inside budget (~970s of the measured 2730s remains, ~8 min
# on a healthy box). The skips are visible in the summary, never silent.
# A slow test the user selects explicitly — by node id on the command line
# or with ``-m slow`` — runs.
#
# The full suite remains the builder's pre-commit gate:
#   QS_FULL_TESTS=1 python -m pytest tests/ -q
# --------------------------------------------------------------------------- #

_SLOW_NODE_IDS = {
    # 64s: the one multi-minute file of the otherwise-fast slt corpus sweep
    "tests/test_slt_corpus.py::test_reference_slt_file[join.slt]",
    # 24s: the LSH entry spawns the full 8-table SRP pipeline on empty input
    "tests/test_empty_inputs.py::test_entry_handles_empty_input[ann_lsh_topk]",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("QS_FULL_TESTS") == "1":
        return
    markexpr = config.getoption("markexpr") or ""
    if "slow" in markexpr and "not slow" not in markexpr:
        return
    # tests named on the command line (``path::name``), rootdir-relative
    named = {
        f"{os.path.relpath(path, config.rootpath)}::{rest}"
        for path, sep, rest in (arg.partition("::") for arg in config.args)
        if sep
    }
    skip = pytest.mark.skip(
        reason="slow soak/property/subprocess test; QS_FULL_TESTS=1 to run"
    )
    for item in items:
        if item.nodeid in named or item.nodeid.partition("[")[0] in named:
            continue
        if "slow" in item.keywords or item.nodeid in _SLOW_NODE_IDS:
            item.add_marker(skip)


@contextmanager
def job_ids(spark, group: str):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group, False)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids += sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="session")
def spark():
    from qurious_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="session")
def session(spark):
    from qurious_spark import Session

    s = Session(spark)
    from qurious_spark.sources import load_tables

    load_tables(spark, SF_SMOKE)
    return s


@pytest.fixture()
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        path = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()
