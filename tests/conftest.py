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


@pytest.fixture
def fail_after_commit(monkeypatch):
    """``with fail_after_commit(stage, partition_id): run()`` kills ``run``
    right after ``RunManifest.commit`` records that partition of that
    stage: the commit lands, then RuntimeError("injected failure ...")
    propagates, as if the process died between two commits."""
    from contextlib import contextmanager

    from knowledge_graph_studio_spark.io.catalog import RunManifest

    commit = RunManifest.commit

    @contextmanager
    def inject(stage, partition_id):
        def failing(self, st, pid, *args, **kwargs):
            commit(self, st, pid, *args, **kwargs)
            if (st, pid) == (stage, partition_id):
                raise RuntimeError(f"injected failure after {stage} {pid}")

        monkeypatch.setattr(RunManifest, "commit", failing)
        try:
            yield
        finally:
            monkeypatch.setattr(RunManifest, "commit", commit)

    return inject
