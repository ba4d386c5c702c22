"""Crawl-lifecycle composition, end-to-end (SURVEY §3.1).

Every stage here is individually driver/pytest-attested; this test proves
the COMPOSITION: select_batch (O3/U1/J3, tiered deterministic sampling)
→ claim_batch (U7) → check_batch (S1, mock transport on driver threads)
→ checks-row construction → change-detection cascade (ST4) + webhook
events (ST5) + next-check ladder (ST3), with the final appended checks
rows asserted cell-for-cell against a DuckDB restatement of the whole
pipeline over the same catalog/prior-checks parquet.

Inputs derive deterministically from sf0.01 ``orders`` (o_orderkey drives
every flag), and the mock transport derives status/headers from
md5(url) — so the SQL replica can recompute every value with no shared
code. ``response_time`` is wall-clock and excluded from comparison.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"
NOW = "2024-02-01 00:00:00"
BATCH = 40


@pytest.fixture(scope="module")
def fixtures(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("crawl_e2e")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.col("o_orderkey") % 7 == 0
    )
    k = F.col("o_orderkey")
    url = F.concat(
        F.lit("https://d"),
        (k % 20).cast("string"),
        F.lit(".example.org/r/"),
        k.cast("string"),
        F.when(k % 97 == 0, F.lit("?format=shp")).otherwise(F.lit("")),
    )
    catalog = o.select(
        k.alias("id"),
        F.concat(F.lit("ds-"), (k % 50).cast("string")).alias("dataset_id"),
        F.concat(F.lit("res-"), k.cast("string")).alias("resource_id"),
        url.alias("url"),
        (k % 31 == 0).alias("deleted"),
        F.when(k % 3 == 0, k).otherwise(F.lit(None)).cast("long").alias("last_check"),
        (k % 13 == 0).alias("priority"),
        F.lit(None).cast("timestamp").alias("harvest_modified_at"),
        F.when(k % 11 == 0, F.lit("BACKOFF")).otherwise(F.lit(None)).alias("status"),
    )
    prior = o.filter(k % 3 == 0).select(
        k.cast("long").alias("id"),
        F.concat(F.lit("res-"), k.cast("string")).alias("resource_id"),
        url.alias("url"),
        F.concat(F.lit("d"), (k % 20).cast("string"), F.lit(".example.org")).alias(
            "domain"
        ),
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, o_orderkey % 48, 0, 0)"
        ).alias("created_at"),
        F.lit(200).alias("status"),
        F.create_map(
            F.lit("content-length"), (F.lit(500) + k % 700).cast("string")
        ).alias("headers"),
        F.lit(False).alias("timeout"),
        F.when(k % 6 == 0, F.md5(F.concat(F.lit("c"), k.cast("string"))))
        .otherwise(F.lit(None))
        .alias("checksum"),
        (F.lit(500) + k % 700).cast("long").alias("filesize"),
        F.when(
            k % 5 == 0,
            F.expr(
                "timestamp '2023-12-01 00:00:00'"
                " + make_interval(0, 0, 0, 0, o_orderkey % 200, 0, 0)"
            ),
        ).alias("detected_last_modified_at"),
        F.when(k % 2 == 0, F.expr("timestamp '2024-01-20 00:00:00'"))
        .otherwise(F.expr("timestamp '2030-01-01 00:00:00'"))
        .alias("next_check_at"),
        F.lit(None).cast("string").alias("method"),
    )
    catalog.write.mode("overwrite").parquet(str(tmp / "catalog"))
    prior.write.mode("overwrite").parquet(str(tmp / "prior"))
    return {
        "catalog": spark.read.parquet(str(tmp / "catalog")),
        "prior": spark.read.parquet(str(tmp / "prior")),
        "tmp": tmp,
    }


def _run_pipeline(spark, fixtures):
    from udata_datalake_service_spark.plans.change_detection import (
        check_events,
        with_change_detection,
    )
    from udata_datalake_service_spark.plans.fetch import check_batch
    from udata_datalake_service_spark.plans.next_check import with_next_check
    from udata_datalake_service_spark.plans.select_batch import (
        claim_batch,
        select_batch,
    )

    def mock_transport(url: str, method: str):
        # Deterministic fake HTTP: everything derives from md5(url) so the
        # DuckDB oracle replays it exactly. Method-independent, so the
        # HEAD->GET fallback changes only the recorded verb. Stateless,
        # so check_batch's fetch threads may call it at once.
        h = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
        status = (200, 200, 304, 404, 500)[h % 5]
        headers = {}
        if h % 3 != 0:
            headers["Content-Length"] = str(100 + h % 1000)
        if h % 4 == 0:
            headers["Last-Modified"] = "Mon, 15 Jan 2024 00:00:00 GMT"
        return status, headers, None

    catalog, prior = fixtures["catalog"], fixtures["prior"]
    batch = select_batch(
        catalog, prior, batch_size=BATCH, now=F.expr(f"timestamp '{NOW}'"), seed="s0"
    )
    claimed = claim_batch(catalog, batch)
    results = check_batch(batch, transport=mock_transport, fan_out=4)

    w = Window.orderBy("resource_id")
    new = results.select(
        (F.lit(1_000_000) + F.row_number().over(w)).cast("long").alias("id"),
        "resource_id",
        "url",
        "domain",
        F.expr(f"timestamp '{NOW}'").alias("created_at"),
        "status",
        "headers",
        "timeout",
        F.lit(None).cast("string").alias("checksum"),
        F.col("headers")["content-length"].cast("long").alias("filesize"),
        F.when(
            F.col("headers")["last-modified"].isNotNull(),
            F.expr("timestamp '2024-01-15 00:00:00'"),
        ).alias("detected_last_modified_at"),
        "method",
    )
    unioned = prior.drop("next_check_at").unionByName(new)
    final = with_next_check(check_events(with_change_detection(unioned)))
    appended = final.filter(F.col("id") > 1_000_000).select(
        "resource_id",
        "url",
        "domain",
        "status",
        "timeout",
        "method",
        "filesize",
        "detected_last_modified_at",
        "chg_last_modified",
        "chg_content_length",
        "chg_checksum",
        "change_status",
        "change_method",
        "next_check_at",
        "evt_first_check",
        "evt_status_changed",
    )
    return batch, claimed, appended


def _oracle_sql(tmp) -> str:
    return f"""
WITH catalog AS (SELECT * FROM '{tmp}/catalog/*.parquet'),
prior AS (SELECT * FROM '{tmp}/prior/*.parquet'),
live AS (
  SELECT * FROM catalog
  WHERE NOT deleted AND (status IS NULL OR status = 'BACKOFF')
    AND url NOT LIKE 'http%geo.data.gouv.fr%' AND url NOT LIKE '%?format=shp%'
),
t1 AS (SELECT resource_id, url, 'priority' AS tier, 0 AS tr FROM
  (SELECT * FROM live WHERE priority
   ORDER BY md5('s0|' || resource_id) LIMIT {BATCH})),
t2 AS (SELECT resource_id, url, 'never_checked' AS tier, 1 AS tr FROM
  (SELECT * FROM live WHERE NOT priority AND last_check IS NULL
   ORDER BY md5('s0|' || resource_id) LIMIT {BATCH})),
t3 AS (SELECT resource_id, url, 'outdated' AS tier, 2 AS tr FROM
  (SELECT c.resource_id, c.url FROM live c JOIN prior p ON c.last_check = p.id
   WHERE NOT c.priority AND c.last_check IS NOT NULL
     AND (p.next_check_at IS NULL OR p.next_check_at <= TIMESTAMP '{NOW}')
   ORDER BY md5('s0|' || c.resource_id) LIMIT {BATCH})),
batch AS (
  SELECT resource_id, url, tier FROM (
    SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3)
  ORDER BY tr, md5('s0|' || resource_id) LIMIT {BATCH}
),
res AS (
  SELECT resource_id, url, tier,
    regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
    ('0x' || substr(md5(url), 1, 8))::UBIGINT AS h
  FROM batch
),
checked AS (
  SELECT resource_id, url, tier, domain,
    CASE WHEN h % 5 IN (0, 1) THEN 200 WHEN h % 5 = 2 THEN 304
         WHEN h % 5 = 3 THEN 404 ELSE 500 END AS status,
    CASE WHEN h % 3 <> 0 THEN 100 + h % 1000 END AS cur_cl,
    CASE WHEN h % 4 = 0 THEN TIMESTAMP '2024-01-15 00:00:00' END AS cur_lm
  FROM res
),
newrow AS (
  SELECT c.*, FALSE AS timeout,
    CASE WHEN c.status BETWEEN 200 AND 399
           AND (c.cur_cl IS NOT NULL OR c.cur_lm IS NOT NULL)
         THEN 'head' ELSE 'get' END AS method,
    p.id AS prev_id, p.status AS prev_status,
    p.detected_last_modified_at AS prev_lm,
    p.filesize AS prev_cl,  -- prior filesize == its content-length header
    p.checksum AS prev_ck
  FROM checked c LEFT JOIN prior p USING (resource_id)
),
verdicts AS (
  SELECT *,
    CASE WHEN cur_lm IS NULL OR prev_lm IS NULL THEN 'NO_GUESS'
         WHEN cur_lm <> prev_lm THEN 'HAS_CHANGED'
         ELSE 'HAS_NOT_CHANGED' END AS chg_last_modified,
    CASE WHEN cur_cl IS NULL OR prev_cl IS NULL THEN 'NO_GUESS'
         WHEN cur_cl <> prev_cl THEN 'HAS_CHANGED'
         ELSE 'HAS_NOT_CHANGED' END AS chg_content_length,
    'NO_GUESS' AS chg_checksum  -- new rows carry NULL checksum
  FROM newrow
),
cascade AS (
  SELECT *,
    CASE WHEN chg_last_modified <> 'NO_GUESS' THEN chg_last_modified
         WHEN chg_content_length <> 'NO_GUESS' THEN chg_content_length
         WHEN chg_checksum <> 'NO_GUESS' THEN chg_checksum
         ELSE 'NO_GUESS' END AS change_status,
    CASE WHEN chg_last_modified <> 'NO_GUESS' THEN 'last_modified'
         WHEN chg_content_length <> 'NO_GUESS' THEN 'content_length'
         WHEN chg_checksum <> 'NO_GUESS' THEN 'checksum'
         END AS change_method
  FROM verdicts
)
SELECT resource_id, url, domain, status, timeout, method,
  cur_cl AS filesize, cur_lm AS detected_last_modified_at,
  chg_last_modified, chg_content_length, chg_checksum,
  change_status, change_method,
  TIMESTAMP '{NOW}' + to_hours(
    CASE WHEN change_status = 'HAS_CHANGED' OR cur_lm IS NULL THEN 12
         WHEN (epoch(TIMESTAMP '{NOW}') - epoch(cur_lm)) / 3600.0 <= 12 THEN 12
         WHEN (epoch(TIMESTAMP '{NOW}') - epoch(cur_lm)) / 3600.0 <= 24 THEN 24
         WHEN (epoch(TIMESTAMP '{NOW}') - epoch(cur_lm)) / 3600.0 <= 168 THEN 168
         ELSE 720 END) AS next_check_at,
  (prev_id IS NULL) AS evt_first_check,
  (prev_id IS NOT NULL AND status IS DISTINCT FROM prev_status)
    AS evt_status_changed
FROM cascade
"""


def test_crawl_lifecycle_end_to_end(spark, fixtures):
    batch, claimed, appended = _run_pipeline(spark, fixtures)
    srows = appended.collect()
    assert len(srows) == BATCH

    # claim step: exactly the batch is CRAWLING_URL
    n_claimed = claimed.filter(F.col("status") == "CRAWLING_URL").count()
    assert n_claimed == BATCH

    con = duckdb.connect()
    orows = con.sql(_oracle_sql(fixtures["tmp"])).fetchall()
    ocols = con.sql(_oracle_sql(fixtures["tmp"])).columns
    assert len(orows) == BATCH

    def norm(rows, cols):
        idx = {c: i for i, c in enumerate(cols)}
        order = sorted(cols)
        return sorted(
            tuple(str(r[idx[c]]) for c in order) for r in rows
        )

    scols = appended.columns
    assert sorted(scols) == sorted(ocols)
    got = norm([tuple(r) for r in srows], scols)
    want = norm(orows, ocols)
    assert got == want

    # batch tier composition also matches the restatement
    tiers_sql = (
        _oracle_sql(fixtures["tmp"]).split("res AS")[0].rstrip().rstrip(",")
        + "\nSELECT resource_id, tier FROM batch"
    )
    sbatch = sorted((r["resource_id"], r["tier"]) for r in batch.collect())
    obatch = sorted((a, b) for a, b in con.sql(tiers_sql).fetchall())
    assert sbatch == obatch
