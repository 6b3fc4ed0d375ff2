"""Session defaults: the local size fits the host, and Spark's
generated-code cache holds a warm catalog pass."""

import os

from openetl_spark import catalog
from openetl_spark.session import _local_size

# The perfbench ``catalog`` queries: short relational shapes plus one
# eager BFS, rerun on every warm pass of an interactive session.
WARM_QUERIES = (
    "q5_regional_revenue", "window_rank", "grouping_sets", "set_except",
    "declarative_star_join", "connector_slice", "transform_chain",
    "bfs_hops_parts",
)


def _mb(heap: str) -> int:
    assert heap.endswith("m"), heap
    return int(heap[:-1])


def test_local_size_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert _local_size() == ("3", "5g")


def test_local_size_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, heap = _local_size()
    assert cpus == str(len(os.sched_getaffinity(0)))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < _mb(heap) <= 16 * 1024
    assert _mb(heap) <= phys_mb // 2


def test_warm_catalog_pass_compiles_nothing(spark, sf_dir):
    """A second pass over the same queries finds every generated class
    in Spark's codegen cache: Janino compiles nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = {}
    for _ in range(2):
        for name in WARM_QUERIES:
            before = metrics.METRIC_COMPILATION_TIME().getCount()
            catalog.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            spark.catalog.clearCache()
            compiled[name] = metrics.METRIC_COMPILATION_TIME().getCount() - before
    assert {n: c for n, c in compiled.items() if c} == {}

