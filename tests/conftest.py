from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Tiny fixtures: 8-way parallelism beats 32 tasks of overhead per stage.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from distributed_mapreduce__spark.session import build_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def during_publish(monkeypatch):
    """``during_publish(op)`` runs ``op`` once, from inside the next
    commit's publish: after the committer built its payload, before it
    claims the version, so ``op``'s own commit takes that version and
    the committer retries on the new log. The hook is disarmed before
    ``op`` runs, so ``op`` publishes normally."""
    from distributed_mapreduce__spark.sources import txlog_core

    def arm(op):
        def hook():
            monkeypatch.setattr(txlog_core, "_prepublish_hook", None)
            op()

        monkeypatch.setattr(txlog_core, "_prepublish_hook", hook)

    return arm


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE
