from __future__ import annotations

import os
import sys

# make the package importable when pytest is invoked from a foreign cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from kevinlang_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _jvm_commands(monkeypatch, fn) -> int:
    """Py4J commands Python sends to the JVM while ``fn`` runs, not
    counting the deletes of Java object proxies that Python's garbage
    collector sends whenever it happens to run."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    free = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        sent[0] += not command.startswith(free)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        fn()
    return sent[0]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "kevinlang-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/kevinlang-warehouse"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def simple_csv(tmp_path_factory):
    """Re-materialization of the reference's primary fixture
    (/root/reference/data/simple.csv, 13 rows — FIXTURES.md §A1)."""
    p = tmp_path_factory.mktemp("data") / "simple.csv"
    p.write_text(
        "gender,city,product,year,sale,cost,discount\n"
        "F,hangzhou,CD,2001,1060,244,0.8\n"
        "M,hangzhou,CD,2001,5467,545,0.75\n"
        "F,hangzhou,mp4,2001,1040,322,0.9\n"
        "M,hangzhou,mp4,2001,3245,446,0.8\n"
        "F,hangzhou,CD,2002,1360,541,0.7\n"
        "M,hangzhou,CD,2003,6544,321,0.95\n"
        "F,shanghai,CD,2001,1807,655,0.75\n"
        "F,shanghai,CD,2003,5321,741,0.7\n"
        "M,shanghai,CD,2002,1437,336,0.85\n"
        "F,shanghai,mp4,2001,3218,437,0.8\n"
        "M,shanghai,mp4,2001,2543,872,0.6\n"
        "M,beijing,mp4,2001,5439,246,0.9\n"
        "F,beijing,CD,2002,3211,541,0.8\n"
    )
    return str(p)


@pytest.fixture(scope="session")
def simple_frame(spark, simple_csv):
    from kevinlang_spark.sources.csv import read_csv

    return read_csv(spark, simple_csv)
