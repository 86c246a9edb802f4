from __future__ import annotations

import os
import sys
import threading
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("RW_SPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from risingwave_py_spark.session import build_session

    s = build_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def rw(spark):
    from risingwave_py_spark import RisingWave

    return RisingWave(spark=spark)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class Py4JCalls:
    """Counts the py4j commands one thread sends to the JVM between
    start() and stop(): every round trip (``n``), and the JVM method
    named by each call command (``methods``). Releasing a Java object
    is a round trip too."""

    def __init__(self):
        self.n = 0
        self.methods: Counter = Counter()
        self._thread = None

    def start(self) -> None:
        self._thread = threading.get_ident()

    def stop(self) -> None:
        self._thread = None

    def record(self, command: str) -> None:
        if threading.get_ident() != self._thread:
            return
        self.n += 1
        parts = command.split("\n", 3)
        if parts[0] == "c" and len(parts) > 2:  # call: c, target, method
            self.methods[parts[2]] += 1


@pytest.fixture
def py4j_calls(monkeypatch):
    """A Py4JCalls fed by every py4j send_command of this test."""
    from py4j.clientserver import ClientServerConnection

    calls = Py4JCalls()
    orig = ClientServerConnection.send_command

    def send_command(self, command, *a, **k):
        calls.record(command)
        return orig(self, command, *a, **k)

    monkeypatch.setattr(ClientServerConnection, "send_command", send_command)
    return calls
