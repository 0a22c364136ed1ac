import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_data_infrastructure_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # static conf: must be set at session build, not at runtime
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture
def jobs(spark):
    """``jobs(fn)`` → (fn(), number of Spark jobs fn started), counted
    under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-jobs-{next(_job_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


def pytest_sessionstart(session):
    """Round-start testdata smoke: the driver REGENERATES the parquet fixtures
    each round and has silently flipped physical types before (events.ts
    shipped as TIMESTAMP(NANOS) in r2 and TIMESTAMP(MICROS) in r3). The
    readers probe-don't-assume at runtime; this assert makes any NEW flip
    (schema drift, dropped column, micro/nano change beyond what the readers
    gate) fail the suite loudly at collection time instead of as a cryptic
    mid-test mismatch."""
    import pyarrow.parquet as pq

    expected_cols = {
        "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
        "documents": {"doc_id", "source", "lang", "text"},
        "embeddings": {"vec_id", "embedding"},
        "lineitem": None,  # presence checked only
        "orders": None,
        "customer": None,
    }
    for sf in (SF_SMOKE, SF_CORRECT):
        for table, cols in expected_cols.items():
            path = f"{sf}/{table}.parquet"
            assert os.path.exists(path), f"testdata missing: {path}"
            schema = pq.read_schema(path)
            if cols is not None:
                got = set(schema.names)
                assert cols <= got, f"{path}: columns {cols - got} disappeared"
        ts_type = str(pq.read_schema(f"{sf}/events.parquet").field("ts").type)
        assert ts_type in ("timestamp[us]", "timestamp[ns]", "int64"), (
            f"{sf}/events.ts physical type changed to {ts_type}; "
            "extend streaming/sources.epoch_us_divisor before trusting results"
        )
