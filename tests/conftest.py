import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from new_ent_crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", cpus=int(os.environ.get("TEST_CPUS", "4")),
                  shuffle_partitions=8)
    yield s
    s.stop()


def compiled_classes(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far (a
    class found in the codegen cache is not compiled again)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def tiny_web(tmp_path_factory):
    """Small deterministic synthetic web shared across tests."""
    from new_ent_crawler_spark.synth import webgen
    out = str(tmp_path_factory.mktemp("web"))
    stats = webgen.generate(out, n_hosts=3, companies_per_host=2, seed=42)
    return out, stats


@pytest.fixture(scope="session")
def skew_web(tmp_path_factory):
    """One host owns ~90% of companies (registry-domain skew fixture)."""
    from new_ent_crawler_spark.synth import webgen
    out = str(tmp_path_factory.mktemp("skewweb"))
    stats = webgen.generate(out, n_hosts=4, companies_per_host=1, seed=7,
                            skew_host_factor=18)
    return out, stats
