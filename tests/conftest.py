from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"


def suite_session(app_name: str):
    """The session the suite shares. tools/explain_dump.py writes the
    plan-shape ledger in it too, so the ledger and the plan sweep see one
    planner. Plan metadata prints whole (Spark abbreviates each value past
    100 characters by default) so every FileScan's ReadSchema can be
    counted."""
    from distributed_system_mapreduce_spark.session import get_spark

    s = get_spark(app_name, cpus=8, shuffle_partitions=8)
    s.conf.set("spark.sql.maxMetadataStringLength", "100000")
    return s


@pytest.fixture(scope="session")
def spark():
    yield suite_session("dsmr-tests")


@pytest.fixture(scope="session")
def duck():
    from distributed_system_mapreduce_spark.testing import duck_connection

    con = duck_connection(SF_DIR)
    yield con
    con.close()


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Surface transformWithState environment degradation LOUDLY
    (VERDICT r14 #7): when google.protobuf is absent and unshimmable the
    tws tests skip at runtime — which must read as an environment
    regression in the summary, never blend into ordinary skips."""
    gated = [
        rep
        for rep in terminalreporter.stats.get("skipped", [])
        if "transformWithState runtime gated" in str(
            getattr(rep, "longrepr", "")
        )
    ]
    if gated:
        from distributed_system_mapreduce_spark.pbcompat import (
            _RESULT as pb_result,
        )

        terminalreporter.write_sep(
            "!",
            f"transformWithState DEGRADED: {len(gated)} streaming tests "
            f"skipped (protobuf shim: {pb_result})",
            yellow=True,
        )
