"""SparkSession settings (session.get_spark) that shape per-call cost."""

from __future__ import annotations


def test_column_ops_skip_call_site_capture(spark, monkeypatch):
    """With PySpark's DataFrame debugging on, every Column method call
    records its Python call site in the JVM: ~13 py4j round trips per
    op. get_spark turns it off, so an op costs about one command."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F

    F.col("warm") + 1
    # py4j's finalizer thread drains memory commands for Java objects
    # earlier tests released; count only this thread's commands
    caller = threading.current_thread()
    sent = []
    inner = ClientServerConnection.send_command

    def counted(self, command):
        if threading.current_thread() is caller:
            sent.append(command)
        return inner(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    k = 20
    c = F.col("x")
    for i in range(k):
        c = c + i
    monkeypatch.undo()
    assert len(sent) <= 2 * k, len(sent)
