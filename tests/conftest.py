from __future__ import annotations

import datetime as dt
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from udata_datalake_service_spark.schemas import CATALOG_SCHEMA, CHECKS_SCHEMA
from udata_datalake_service_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` in a fresh job group and returns
    (its result, the number of Spark jobs it ran), read from the
    StatusTracker once the listener bus has drained. The group is
    cleared in ``finally``, so a raising ``fn`` tags no later job."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def count_compiles(spark):
    """``count_compiles(fn)`` runs ``fn`` and returns (its result, the
    number of classes Janino compiled meanwhile): the delta of Spark's
    ``CodegenMetrics`` compilation-time histogram count, which grows once
    per generated class that misses the codegen cache. The cache is
    keyed by the generated source, so a plan that inlines a literal
    differing per call compiles anew every call."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(fn):
        before = metric.getCount()
        out = fn()
        return out, metric.getCount() - before

    return run


@pytest.fixture()
def count_py4j():
    """``count_py4j(fn)`` runs ``fn`` and returns (its result, the number
    of py4j commands the calling thread sent to the JVM). It wraps
    ``GatewayClient.send_command``, restored in ``finally``. Commands
    from other threads are not counted, so py4j's finalizer thread,
    which releases garbage-collected Java references, cannot make the
    count vary from run to run."""
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command

    def run(fn):
        caller, sent = threading.get_ident(), [0]

        def counting(self, *args, **kwargs):
            if threading.get_ident() == caller:
                sent[0] += 1
            return send(self, *args, **kwargs)

        GatewayClient.send_command = counting
        try:
            out = fn()
        finally:
            GatewayClient.send_command = send
        return out, sent[0]

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _utc(y, m, d, h=0, mi=0, s=0):
    return dt.datetime(y, m, d, h, mi, s)


@pytest.fixture()
def checks_df(spark):
    """Small synthetic checks history: 3 resources × a few probes."""
    rows = [
        # id, resource_id, url, domain, created_at, status, headers, timeout,
        # response_time, error, checksum, filesize, mime_type,
        # detected_last_modified_at, parsing_table, next_check_at
        (1, "r1", "https://a.org/f.csv", "a.org", _utc(2024, 1, 1, 10), 200,
         {"content-length": "100", "content-type": "text/csv"}, False, 0.1,
         None, "aaa", 100, "text/csv", _utc(2023, 12, 1), "t1", None),
        (2, "r1", "https://a.org/f.csv", "a.org", _utc(2024, 1, 2, 10), 200,
         {"content-length": "120", "content-type": "text/csv"}, False, 0.1,
         None, "bbb", 120, "text/csv", _utc(2023, 12, 15), "t1", None),
        (3, "r1", "https://a.org/f.csv", "a.org", _utc(2024, 1, 3, 10), 200,
         {"content-length": "120", "content-type": "text/csv"}, False, 0.1,
         None, "bbb", 120, "text/csv", _utc(2023, 12, 15), "t1", None),
        (4, "r2", "https://b.org/g.csv", "b.org", _utc(2024, 1, 1, 11), 404,
         {}, False, 0.2, "not found", None, None, None, None, None, None),
        (5, "r2", "https://b.org/g.csv", "b.org", _utc(2024, 1, 2, 11), 200,
         {"content-length": "50"}, False, 0.2, None, "ccc", 50, "text/csv",
         None, None, None),
        (6, "r3", "https://c.org/h.csv", "c.org", _utc(2024, 1, 2, 9), 429,
         {"x-ratelimit-remaining": "1", "x-ratelimit-limit": "100"}, False,
         0.3, None, None, None, None, None, "t_orphan", None),
    ]
    ddl = (
        "id long, resource_id string, url string, domain string, "
        "created_at timestamp, status int, headers map<string,string>, "
        "timeout boolean, response_time double, error string, "
        "checksum string, filesize long, mime_type string, "
        "detected_last_modified_at timestamp, parsing_table string, "
        "next_check_at timestamp"
    )
    return spark.createDataFrame(rows, ddl)


@pytest.fixture()
def catalog_df(spark):
    rows = [
        # dataset_id, resource_id, url, deleted, last_check, priority,
        # harvest_modified_at, status
        ("d1", "r1", "https://a.org/f.csv", False, 3, False, None, None),
        ("d1", "r2", "https://b.org/g.csv", False, 5, True, None, None),
        ("d2", "r3", "https://c.org/h.csv", True, 6, False, None, None),
        ("d2", "r4", "https://d.org/new.csv", False, None, False, None, None),
        ("d3", "r5", "https://e.org/x.csv?format=shp", False, None, False, None, None),
    ]
    ddl = (
        "dataset_id string, resource_id string, url string, deleted boolean, "
        "last_check long, priority boolean, harvest_modified_at timestamp, "
        "status string"
    )
    df = spark.createDataFrame(rows, ddl)
    return df.withColumn("id", F.col("last_check").cast("long"))
