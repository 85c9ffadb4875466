import pytest


@pytest.fixture(scope="session")
def spark():
    from knowledge_graph_studio_spark.session import get_spark

    s = get_spark("kgs-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def gateway_calls(monkeypatch):
    """``gateway_calls(fn)`` -> (py4j round trips ``fn()`` made, its result).

    Counts every command the Python side sends to the JVM by wrapping
    ``ClientServerConnection.send_command`` (the pinned-thread gateway
    PySpark uses by default)."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    n = [0]

    def counted(self, *args, **kwargs):
        n[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    def calls(fn):
        n[0] = 0
        out = fn()
        return n[0], out

    return calls
