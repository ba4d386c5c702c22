"""S1 — URL check execution (the crawler's fetch step).

Reference: crawl/check_resources.py:56-206 — per URL: HEAD with a 5 s
timeout, falling back to GET when the HEAD response isn't "nice" (invalid
status, or neither content-length nor last-modified present,
crawl/helpers.py:47-53); record status / lowered headers / response_time /
timeout / error; domain from the URL netloc.

Shape: the fetch is I/O parallelism, not query parallelism. The claimed
batch is collected to the driver and its URLs run on ``fan_out`` driver
threads — the reference's 40-way ``asyncio.as_completed`` session
(crawl/check_resources.py:38-53) as a thread pool. The rows come back as
a local relation built through Arrow, so the result plan is a
``LocalTableScan``: later actions over it never fetch again and start no
Python worker. A Python stage costs a fixed latency before its first row
(on a bare ``local[4]`` session on a 4-vCPU host, a 40-row Python task
first ran a median 229 ms after its job was submitted, while a JVM-only
job took 71 ms end to end), and a batch is tens of URLs, so a fetch
inside Python workers (``mapInPandas``) waits on them longer than it
fetches.

The transport is **pluggable**: tests inject a fake; the default urllib
transport is never touched unless actually invoked. It is called from
several threads at once, so a transport that keeps shared state must
guard it.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import Any
from urllib.parse import urlparse

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

REQUEST_TIMEOUT_S = 5.0  # check_resources.py:101

# transport: (url, method) -> (status:int|None, headers:dict, error:str|None)
Transport = Callable[[str, str], tuple[int | None, dict, str | None]]

CHECK_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("resource_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField("timeout", T.BooleanType()),
        T.StructField("response_time", T.DoubleType()),
        T.StructField("error", T.StringType()),
        T.StructField("method", T.StringType()),  # which verb produced the row
    ]
)


def make_urllib_transport(
    cafile: str | None = None, timeout: float | None = None
) -> Transport:
    """Build a real urllib transport. ``cafile`` adds a trust root for
    private-CA deployments (and the self-signed TLS test fixture) — with
    the default None, certificate verification uses the system store, and
    a failed TLS handshake is recorded as the check row's ``error`` (the
    reference's aiohttp envelope records ssl errors the same way,
    crawl/check_resources.py:56-206). The closure keeps no state, so
    ``check_batch``'s threads may share it."""

    def transport(url: str, method: str) -> tuple[int | None, dict, str | None]:
        import ssl
        import urllib.error
        import urllib.request

        ctx = ssl.create_default_context(cafile=cafile) if cafile else None
        req = urllib.request.Request(url, method=method.upper())
        try:
            with urllib.request.urlopen(
                req, timeout=timeout or REQUEST_TIMEOUT_S, context=ctx
            ) as resp:
                return resp.status, dict(resp.headers.items()), None
        except urllib.error.HTTPError as e:  # still a response
            return e.code, dict(e.headers.items()), None
        except TimeoutError:
            raise
        except Exception as e:  # noqa: BLE001 — error recorded on the check row
            return None, {}, str(e)

    return transport


def urllib_transport(url: str, method: str) -> tuple[int | None, dict, str | None]:
    """Default real transport (urllib, stdlib-only); honors the
    reference's 5 s total timeout."""
    return make_urllib_transport()(url, method)


def _nice_head(status: int | None, headers: dict) -> bool:
    """crawl/helpers.py:47-53 — HEAD is useful only with a valid status AND
    a content-length or last-modified header."""
    if status is None or not (200 <= status < 400):
        return False
    lowered = {k.lower() for k in headers}
    return bool({"content-length", "last-modified"} & lowered)


def _check_one(url: str, transport: Transport) -> dict:
    """HEAD → conditional GET fallback, one result row (fields of
    CHECK_RESULT_SCHEMA minus resource_id)."""

    def fix(v: str) -> str:
        return str(v).encode("utf-8", "surrogateescape").decode("utf-8", "replace")

    domain = urlparse(url).netloc
    method = "head"
    start = time.time()
    try:
        status, headers, error = transport(url, method)
        if not _nice_head(status, headers):
            method = "get"
            status, headers, error = transport(url, method)
        elapsed = time.time() - start
        return {
            "url": url,
            "domain": domain,
            "status": status,
            "headers": {k.lower(): fix(v) for k, v in (headers or {}).items()},
            "timeout": False,
            "response_time": elapsed,
            "error": error,
            "method": method,
        }
    except TimeoutError:
        return {
            "url": url,
            "domain": domain,
            "status": None,
            "headers": {},
            "timeout": True,  # check_resources.py timeout branch
            "response_time": time.time() - start,
            "error": None,
            "method": method,
        }


def local_relation(
    spark: SparkSession, rows: Sequence[dict[str, Any]], schema: T.StructType
) -> DataFrame:
    """``rows`` (dicts keyed by ``schema``'s field names) as a local
    relation, built through Arrow from pandas and planned as a
    ``LocalTableScan``. It runs no Spark job to build or to collect, for
    zero rows too: the frame goes to Spark as an Arrow table, because
    ``createDataFrame`` of an empty pandas frame falls back to an RDD
    scan."""
    pdf = pd.DataFrame(list(rows), columns=schema.fieldNames())
    table = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
    return spark.createDataFrame(table, schema)


def _fetch_all(
    frame: DataFrame,
    fetch: Callable[[Any, Any], dict[str, Any] | None],
    schema: T.StructType,
    fan_out: int | None,
) -> DataFrame:
    """Collect ``frame``'s (resource_id, url) rows, run ``fetch`` on each
    over ``fan_out`` driver threads (default: the context's
    ``defaultParallelism``), and return the non-None results, in row
    order, as a local relation of ``schema``. An exception ``fetch``
    raises propagates once every started call has returned: the pool
    cancels the calls not yet started and joins its threads."""
    spark = frame.sparkSession
    if fan_out is None:
        fan_out = spark.sparkContext.defaultParallelism
    elif fan_out < 1:
        raise ValueError(f"fan_out must be at least 1, got {fan_out}")
    rows = frame.select("resource_id", "url").collect()
    with ThreadPoolExecutor(max_workers=fan_out, thread_name_prefix="fetch") as pool:
        out = list(pool.map(lambda r: fetch(r[0], r[1]), rows))
    return local_relation(spark, [r for r in out if r is not None], schema)


def check_batch(
    batch: DataFrame,
    transport: Transport = urllib_transport,
    fan_out: int | None = None,
) -> DataFrame:
    """Execute checks for a claimed batch (resource_id, url), eagerly.

    The batch is collected and its URLs fetched on ``fan_out`` driver
    threads at once (``None``: ``defaultParallelism``; below 1 raises
    ``ValueError``) — the reference's 40-way asyncio session. The fetch
    is this call's own action: the result is a local relation
    (``LocalTableScan``) conforming to CHECK_RESULT_SCHEMA, so
    re-collecting it never fetches again, and nothing about it waits on
    a Python worker, whose fixed start-up latency would exceed the data
    work of a batch this size (see the module docstring). A timeout is
    recorded on its row; any other transport exception propagates.
    Feed the result to ``plans.change_detection`` / ``next_check`` and
    append it to the checks lake.
    """

    def fetch(rid, url) -> dict[str, Any]:
        row = _check_one(str(url), transport)
        row["resource_id"] = str(rid)
        return row

    return _fetch_all(batch, fetch, CHECK_RESULT_SCHEMA, fan_out)


URL_REPAIR_SCHEMA = T.StructType(
    [
        T.StructField("resource_id", T.StringType()),
        T.StructField("old_url", T.StringType()),
        T.StructField("actual_url", T.StringType()),
    ]
)


def wrong_url_repairs(
    check_results: DataFrame,
    portal_base: str,
    transport: Transport = urllib_transport,
) -> DataFrame:
    """404 → current-URL discovery (check_resources.py:173-231).

    The reference, on a 404, HEADs the portal's stable redirect
    ``{portal}/datasets/r/{resource_id}`` and reads the ``location``
    header — the resource's *current* URL — then rewrites the catalog row
    and re-checks. This is the discovery step as a batch transform: one
    repair row per 404'd resource whose stable redirect points somewhere
    new. Same driver-thread fetch into a local relation as
    ``check_batch``; feed the result to ``apply_url_repairs`` (U4) and
    re-run the repaired rows through ``check_batch``.
    """
    gone = check_results.filter(check_results.status == 404)

    def repair(rid, url) -> dict[str, Any] | None:
        stable = f"{portal_base.rstrip('/')}/datasets/r/{rid}"
        _status, headers, err = transport(stable, "head")
        if err:
            return None
        loc = {k.lower(): v for k, v in headers.items()}.get("location")
        if not loc or loc == url:
            return None
        return {"resource_id": str(rid), "old_url": url, "actual_url": loc}

    return _fetch_all(gone, repair, URL_REPAIR_SCHEMA, None)


def apply_url_repairs(catalog: DataFrame, repairs: DataFrame) -> DataFrame:
    """U4 — rewrite repaired catalog URLs (Resource.update at
    check_resources.py:222). Broadcast left join (repairs are tiny);
    untouched rows pass through unchanged."""
    from pyspark.sql import functions as F

    r = F.broadcast(repairs.select("resource_id", "actual_url"))
    out = catalog.join(r, on="resource_id", how="left")
    return out.withColumn(
        "url", F.coalesce(F.col("actual_url"), F.col("url"))
    ).drop("actual_url")
