import pytest

from pagerank_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pagerank_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def golden_graph(spark):
    from pagerank_spark.fixtures import GOLDEN_SMALL_EDGES
    from pagerank_spark.operators.graph_build import LinkGraph

    raw = spark.createDataFrame(GOLDEN_SMALL_EDGES, ["src", "dst"])
    g = LinkGraph.from_edges(raw, apply_regex_filter=False, num_partitions=4)
    yield g
    g.unpersist()
