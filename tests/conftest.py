from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from openetlagent_spark.session import WORKER_DAEMON_MODULE


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    session = (
        SparkSession.builder.appName("openetlagent-spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # match session.get_spark: INT64 micros timestamps carry parquet
        # min/max stats (INT96 does not), needed for range-layout pruning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # match session.get_spark: Python workers fork from the engine's
        # daemon, so tests run the production worker path
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture
def force_graph_executor(monkeypatch):
    """Force the small-graph gate of functions/graph.py for one test:
    ``force("driver")`` keeps every test graph on the driver rounds,
    ``force("spark")`` (a 0-row gate) sends any graph with an edge or a
    node to the Spark round loops."""
    from openetlagent_spark.functions import graph

    def force(executor: str) -> None:
        limit = {"driver": 10_000, "spark": 0}[executor]
        monkeypatch.setattr(graph, "MAX_EDGES", limit)
        monkeypatch.setattr(graph, "MAX_NODES", limit)

    return force
