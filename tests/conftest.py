from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hdp2_5_hive_spark.oracle import connect_oracle  # noqa: E402
from hdp2_5_hive_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"  # smallest: keeps the suite fast


@pytest.fixture(scope="session")
def spark():
    return get_session(app_name="hdp2_5_hive_spark-tests")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    return connect_oracle(SF_DIR)


@pytest.fixture
def distributed_only(monkeypatch):
    """Route every iterative operator (pagerank, connected components,
    k_core, topics and the subword trainers) to its distributed Spark
    loop: no input fits a bound of -1 rows, so ``util.task_sized``
    never admits the single-task kernel."""
    from hdp2_5_hive_spark.operators import util

    monkeypatch.setattr(util, "IN_TASK_MAX_ROWS", -1)
    monkeypatch.setattr(util, "IN_TASK_MAX_WORDS", -1)
