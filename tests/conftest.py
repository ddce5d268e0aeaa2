import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from llm_pretraining_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("spark_warehouse"))
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield spark


@pytest.fixture(scope="session")
def codegen_compiles(spark):
    """Callable: how many generated classes this JVM has Janino-compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_rows_equal(actual, expected, float_tol=1e-9):
    """Order-insensitive row comparison with float tolerance."""
    def key(r):
        return tuple(str(v) for v in r)

    a_sorted = sorted([tuple(r) for r in actual], key=key)
    e_sorted = sorted([tuple(r) for r in expected], key=key)
    assert len(a_sorted) == len(e_sorted), f"{len(a_sorted)} rows != {len(e_sorted)} rows"
    for ra, re_ in zip(a_sorted, e_sorted):
        assert len(ra) == len(re_)
        for va, ve in zip(ra, re_):
            if isinstance(va, float) and isinstance(ve, float):
                assert va == pytest.approx(ve, abs=float_tol), f"{ra} != {re_}"
            else:
                assert va == ve, f"{ra} != {re_}"
