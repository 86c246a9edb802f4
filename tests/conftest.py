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


class ParquetReads:
    """Counts, per thread, between start() and stop(): parquet reads
    (``read_table`` calls and ``ParquetFile`` opens) and the Arrow
    columns SparkEngine._pa_column_pylist turns into Python
    (``conversions``) with the values they held (``values``)."""

    def __init__(self):
        self.threads: dict[int, Counter] = {}
        self.on = False

    def start(self) -> None:
        self.threads.clear()
        self.on = True

    def stop(self) -> None:
        self.on = False

    def record(self, what: str, n: int = 1) -> None:
        if self.on:
            c = self.threads.setdefault(threading.get_ident(), Counter())
            c[what] += n

    def of(self, thread: int | None = None) -> Counter:
        """The counts of ``thread`` (default: the calling thread)."""
        return self.threads.get(thread or threading.get_ident(), Counter())


@pytest.fixture
def parquet_reads(monkeypatch):
    """A ParquetReads fed by every pyarrow parquet read and every
    SparkEngine._pa_column_pylist call of this test."""
    import pyarrow.parquet as pq

    from risingwave_py_spark.engine import SparkEngine

    reads = ParquetReads()
    read_table, parquet_file = pq.read_table, pq.ParquetFile
    pylist = SparkEngine._pa_column_pylist

    def counted_read_table(*a, **k):
        reads.record("read_table")
        return read_table(*a, **k)

    def counted_parquet_file(*a, **k):
        reads.record("ParquetFile")
        return parquet_file(*a, **k)

    def counted_pylist(col):
        vals = pylist(col)
        reads.record("conversions")
        reads.record("values", len(vals))
        return vals

    monkeypatch.setattr(pq, "read_table", counted_read_table)
    monkeypatch.setattr(pq, "ParquetFile", counted_parquet_file)
    monkeypatch.setattr(SparkEngine, "_pa_column_pylist",
                        staticmethod(counted_pylist))
    return reads
