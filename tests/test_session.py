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


def test_codegen_cache_holds_a_pass(spark):
    """A batch pass compiles ~200 distinct generated classes, past
    Spark's default cache of 100, so a second pass in the same process
    recompiled nearly all of them. get_spark sizes the cache for
    several passes: after more than 100 distinct plans, the first plan
    runs again without compiling anything."""
    from bikidata_spark.session import CODEGEN_CACHE_ENTRIES

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def plan(i: int) -> None:
        # the literal is inlined into the generated code: one distinct
        # class per i
        spark.range(4).selectExpr(f"id * 3 + {1_000_003 + i} AS x").collect()

    n = 150
    assert n < CODEGEN_CACHE_ENTRIES
    before = compiles()
    for i in range(n):
        plan(i)
    assert compiles() - before >= n  # every plan compiled its own class
    before = compiles()
    plan(0)
    assert compiles() == before
