from __future__ import annotations

import tempfile
import threading

import pytest

from ndap_data_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    wh = tempfile.mkdtemp(prefix="ndap_test_wh_")
    s = get_spark(
        app_name="ndap-validator-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()


class Py4JCommandCounter:
    """Counts the Py4J commands the Python driver sends to the JVM while
    active, leaving out Py4J's memory (object-delete) commands: those
    follow Python garbage collection, not the code under test."""

    def __init__(self) -> None:
        self.commands = 0
        # commands come from every thread that talks to the JVM, including
        # run_validation's sink writers
        self._lock = threading.Lock()

    def __enter__(self) -> "Py4JCommandCounter":
        from py4j.clientserver import ClientServerConnection
        from py4j.protocol import MEMORY_COMMAND_NAME

        send = ClientServerConnection.send_command

        def counting_send(conn, command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                with self._lock:
                    self.commands += 1
            return send(conn, command, *args, **kwargs)

        self._restore = lambda: setattr(ClientServerConnection, "send_command", send)
        ClientServerConnection.send_command = counting_send
        return self

    def __exit__(self, *exc) -> None:
        self._restore()


@pytest.fixture
def py4j_commands():
    """``with py4j_commands() as n: ...; n.commands`` — see
    :class:`Py4JCommandCounter`."""
    return Py4JCommandCounter
