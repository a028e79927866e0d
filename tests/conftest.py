import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from openverse_catalog_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def jobs_of(spark):
    """Counter of the Spark jobs an action runs: ``jobs_of(action)``
    runs ``action()`` under its own job group and returns how many jobs
    that group started."""

    def count(action) -> int:
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the async
        # listener bus; drain it so the count is complete
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def py4j_calls_of():
    """Counter of the py4j round trips an action makes:
    ``py4j_calls_of(action)`` runs ``action()`` with py4j's
    ``ClientServerConnection.send_command`` wrapped and returns how many
    commands the driver sent to the JVM — driver-side cost that, unlike
    wall time, does not move with the load on the host. Object releases
    are not counted: py4j sends them for proxies that earlier code
    dropped, in batches whenever its release queue flushes."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = (
        protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    )

    def count(action) -> int:
        send = ClientServerConnection.send_command
        n = 0

        def counting(self, command, *args, **kwargs):
            nonlocal n
            n += not command.startswith(release)
            return send(self, command, *args, **kwargs)

        ClientServerConnection.send_command = counting
        try:
            action()
        finally:
            ClientServerConnection.send_command = send
        return n

    return count


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
