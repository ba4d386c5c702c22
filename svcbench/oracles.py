"""Correctness checks, run outside the timed region.

Every check compares what the package returned with an independent
restatement — DuckDB SQL over the same generated parquet, or the source
CSV — and returns ``(attempted, failed, notes)``. ``BREAK`` perturbs one
expected value per check (``--break-oracle``) to show each check fails.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb

from svcbench import gen

BREAK = False


def _norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))  # DuckDB's MAP form
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return v


def _rows(rows, ordered: bool) -> list[tuple]:
    out = [tuple(_norm(x) for x in r) for r in rows]
    return out if ordered else sorted(out, key=repr)


def _broken(rows: list[tuple]) -> list[tuple]:
    """The expected rows with one value changed (or one row added)."""
    if not BREAK:
        return rows
    if not rows:
        return [("broken",)]
    first = list(rows[0])
    first[-1] = ("broken", first[-1])
    return [tuple(first)] + rows[1:]


def _con(sizes: dict) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for name in ("catalog", "checks"):
        con.sql(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{sizes[name]['path']}')")
    return con


# ------------------------------------------------------------ routes --
ROUTE_SQL = {
    "latest_check": (
        "SELECT c.*, k.* FROM catalog c JOIN checks k ON c.last_check = k.id "
        "WHERE c.resource_id = $key", False),
    "all_checks": (
        "SELECT k.* FROM checks k WHERE k.url IN "
        "(SELECT url FROM catalog WHERE resource_id = $key) "
        "ORDER BY k.created_at DESC", True),
    "resource_status": (
        "SELECT resource_id, status, last_check, priority, deleted FROM catalog "
        "WHERE resource_id = $key", False),
    "crawler_status": (
        "SELECT count(*) AS total, count_if(c.last_check IS NULL) AS never_checked, "
        "count_if(c.last_check IS NOT NULL) AS checked, "
        "count_if(k.next_check_at IS NOT NULL AND k.next_check_at <= now()) AS to_recheck "
        "FROM catalog c LEFT JOIN checks k ON c.last_check = k.id WHERE NOT c.deleted",
        False),
    "stats": (
        "SELECT CAST(k.status AS VARCHAR) AS value, count(*) AS count, "
        "round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS pct "
        "FROM catalog c JOIN checks k ON c.last_check = k.id "
        "WHERE NOT c.deleted AND c.last_check IS NOT NULL GROUP BY 1", False),
    "checks_aggregate": (
        "SELECT headers['content-type'][1] AS value, count(*) AS count FROM checks "
        "WHERE CAST(created_at AS DATE) = CAST($day AS DATE) "
        "GROUP BY 1 ORDER BY count DESC, value ASC NULLS LAST LIMIT 20", True),
}


def check_routes(sizes: dict, records: list) -> tuple[int, int, list]:
    """Each route response against its DuckDB restatement; responses to
    the same request are compared once per distinct (route, key, day)."""
    con = _con(sizes)
    expected: dict = {}
    failed, notes = 0, []
    for route, key, day, cols, rows in records:
        sql, ordered = ROUTE_SQL[route]
        params = {}
        if "$key" in sql:
            params["key"] = key
        if "$day" in sql:
            params["day"] = f"2024-01-{1 + day:02d}"
        ek = (route, tuple(sorted(params.items())))
        if ek not in expected:
            rel = con.execute(sql, params)
            expected[ek] = (
                [d[0] for d in rel.description], _broken(_rows(rel.fetchall(), ordered))
            )
        ecols, erows = expected[ek]
        got = _rows(rows, ordered)
        if len(cols) != len(ecols) or got != erows or not got:
            failed += 1
            if len(notes) < 3:
                notes.append(f"{route} {params}: got {got[:1]} want {erows[:1]}")
    return len(records), failed, notes


# ------------------------------------------------------------- crawl --
def _batch_sql(seed: str) -> str:
    b = 40
    key = f"md5('{seed}|' || resource_id)"
    return f"""
WITH live AS (
  SELECT * FROM catalog
  WHERE NOT deleted AND (status IS NULL OR status = 'BACKOFF')
    AND url NOT LIKE '%format=shp%'
    AND resource_id NOT IN (SELECT resource_id FROM claimed)
),
t1 AS (SELECT resource_id, url, 'priority' AS tier, 0 AS tr FROM
  (SELECT * FROM live WHERE priority ORDER BY {key} LIMIT {b})),
t2 AS (SELECT resource_id, url, 'never_checked' AS tier, 1 AS tr FROM
  (SELECT * FROM live WHERE NOT priority AND last_check IS NULL
   ORDER BY {key} LIMIT {b})),
t3 AS (SELECT resource_id, url, 'outdated' AS tier, 2 AS tr FROM
  (SELECT c.resource_id, c.url FROM live c JOIN checks p ON c.last_check = p.id
   WHERE NOT c.priority AND c.last_check IS NOT NULL
     AND (p.next_check_at IS NULL OR p.next_check_at <= TIMESTAMPTZ '{gen.NOW}+00')
   ORDER BY {key.replace('resource_id', 'c.resource_id')} LIMIT {b}))
SELECT resource_id, url, tier FROM (
  SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3)
ORDER BY tr, {key} LIMIT {b}
"""


def _new_rows_sql(base: int) -> str:
    now = f"TIMESTAMPTZ '{gen.NOW}+00'"
    return f"""
WITH res AS (
  SELECT resource_id, url,
    regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
    ('0x' || substr(md5(url), 1, 8))::UBIGINT AS h
  FROM batch
),
checked AS (
  SELECT resource_id, url, domain,
    CASE WHEN h % 5 IN (0, 1) THEN 200 WHEN h % 5 = 2 THEN 304
         WHEN h % 5 = 3 THEN 404 ELSE 500 END AS status,
    CASE WHEN h % 3 <> 0 THEN 100 + h % 1000 END AS cur_cl,
    CASE WHEN h % 4 = 0 THEN TIMESTAMPTZ '2024-01-15 00:00:00+00' END AS cur_lm,
    h % 4 = 0 AS has_lm
  FROM res
),
prev AS (
  SELECT * FROM (
    SELECT resource_id, id, status, timeout, detected_last_modified_at AS lm,
      CAST(headers['content-length'][1] AS BIGINT) AS cl, checksum AS ck,
      row_number() OVER (PARTITION BY resource_id ORDER BY created_at DESC, id DESC) AS rn
    FROM checks WHERE resource_id IN (SELECT resource_id FROM batch))
  WHERE rn = 1
),
v AS (
  SELECT c.*, p.id AS prev_id, p.status AS prev_status, p.timeout AS prev_timeout,
    CASE WHEN c.cur_lm IS NULL OR p.lm IS NULL THEN 'NO_GUESS'
         WHEN c.cur_lm <> p.lm THEN 'HAS_CHANGED' ELSE 'HAS_NOT_CHANGED' END AS chg_lm,
    CASE WHEN c.cur_cl IS NULL OR p.cl IS NULL THEN 'NO_GUESS'
         WHEN c.cur_cl <> p.cl THEN 'HAS_CHANGED' ELSE 'HAS_NOT_CHANGED' END AS chg_cl
  FROM checked c LEFT JOIN prev p USING (resource_id)
),
w AS (
  SELECT *,
    CASE WHEN chg_lm <> 'NO_GUESS' THEN chg_lm WHEN chg_cl <> 'NO_GUESS' THEN chg_cl
         ELSE 'NO_GUESS' END AS change_status,
    CASE WHEN chg_lm <> 'NO_GUESS' THEN 'last_modified'
         WHEN chg_cl <> 'NO_GUESS' THEN 'content_length' END AS change_method,
    prev_id IS NULL AS first_check
  FROM v
)
SELECT {base} + row_number() OVER (ORDER BY resource_id) AS id,
  resource_id, url, domain, {now} AS created_at, status,
  map_from_entries(list_filter([
    {{'k': 'content-length', 'v': CAST(cur_cl AS VARCHAR)}},
    {{'k': 'last-modified', 'v': CASE WHEN has_lm THEN 'Mon, 15 Jan 2024 00:00:00 GMT' END}}
  ], x -> x.v IS NOT NULL)) AS headers,
  FALSE AS timeout, NULL AS error, NULL AS checksum,
  cur_cl AS filesize, NULL AS mime_type, cur_lm AS detected_last_modified_at,
  {now} + to_hours(
    CASE WHEN change_status = 'HAS_CHANGED' OR cur_lm IS NULL THEN 12
         WHEN (epoch({now}) - epoch(cur_lm)) / 3600.0 <= 12 THEN 12
         WHEN (epoch({now}) - epoch(cur_lm)) / 3600.0 <= 24 THEN 24
         WHEN (epoch({now}) - epoch(cur_lm)) / 3600.0 <= 168 THEN 168
         ELSE 720 END) AS next_check_at,
  chg_lm AS chg_last_modified, chg_cl AS chg_content_length,
  'NO_GUESS' AS chg_checksum, change_status, change_method,
  first_check AS evt_first_check,
  (NOT first_check AND status IS DISTINCT FROM prev_status) AS evt_status_changed,
  first_check
    OR (NOT first_check AND status IS DISTINCT FROM prev_status)
    OR (NOT first_check AND (prev_status >= 200 AND prev_status < 400)
        IS DISTINCT FROM (status >= 200 AND status < 400))
    OR (NOT first_check AND prev_timeout IS DISTINCT FROM FALSE) AS any_trigger
FROM w
"""


def check_crawl(sizes: dict, records: list, lake) -> tuple[int, int, list]:
    """Each cycle's batch and appended rows against a DuckDB restatement
    of the cycle over the evolving catalog state; ``response_time`` (wall
    clock) is excluded. Also checks every appended row landed in the
    lake and that crawler_status matches its restatement."""
    con = _con(sizes)
    con.sql("CREATE TABLE claimed (resource_id VARCHAR)")
    status_sql, _ = ROUTE_SQL["crawler_status"]
    want_status = _broken(_rows(con.execute(status_sql).fetchall(), False))
    failed, notes, attempted = 0, [], 0
    skip = {"response_time"}
    from svcbench.workloads import NEW_ID_BASE, STORED_NEW, VERDICTS

    cols = [c for c in (*STORED_NEW, *VERDICTS) if c not in skip]
    for rec in sorted(records, key=lambda r: r["cycle"]):
        con.execute(f"CREATE OR REPLACE TABLE batch AS {_batch_sql(rec['seed'])}")
        want_batch = _broken(_rows(con.sql("SELECT * FROM batch").fetchall(), False))
        rel = con.sql(_new_rows_sql(NEW_ID_BASE + rec["cycle"] * 1000))
        names = [d[0] for d in rel.description]
        want = _broken(_rows(
            [tuple(r[names.index(c)] for c in cols) for r in rel.fetchall()], False
        ))
        got = _rows([tuple(r[c] for c in cols) for r in rec["rows"]], False)
        # three checks a cycle: the batch, the appended rows, crawler_status
        for what, ok, detail in (
            ("batch", _rows(rec["batch"], False) == want_batch, ""),
            ("rows", got == want and len(got) == 40, _first_diff(got, want)),
            ("crawler_status",
             _rows([tuple(rec["status"].values())], False) == want_status, ""),
        ):
            attempted += 1
            if not ok:
                failed += 1
                if len(notes) < 3:
                    notes.append(f"cycle {rec['cycle']}: {what} differs {detail}")
        con.sql("INSERT INTO claimed SELECT resource_id FROM batch")
    # every appended row is in the lake, with the stored columns intact
    attempted += 1
    from pyspark.sql import functions as F

    landed = (
        lake.read_app_table("checks").filter(F.col("id") > NEW_ID_BASE)
        .select(*[c for c in STORED_NEW if c not in skip]).collect()
    )
    want_landed = _rows(
        [tuple(r[c] for c in STORED_NEW if c not in skip)
         for rec in records for r in rec["rows"]], False)
    if _rows(landed, False) != _broken(want_landed):
        failed += 1
        notes.append(f"lake has {len(landed)} appended rows, want {len(want_landed)}")
    return attempted, failed, notes


def _first_diff(got: list, want: list) -> str:
    i = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
    if i is None:
        return f"({len(got)} rows, want {len(want)})"
    return f"at row {i}: {got[i]} vs {want[i]}"


# ------------------------------------------------------------ ingest --
def _digest(rows) -> tuple[int, str]:
    acc = 0
    for r in rows:
        h = hashlib.md5(repr(tuple(_norm(x) for x in r)).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
    return len(rows), f"{acc:016x}"


DUCK_TYPES = {"int": "BIGINT", "float": "DOUBLE", "string": "VARCHAR", "date": "DATE"}


def _source_digest(f: dict) -> tuple[int, str]:
    """Row count and order-free digest of the source CSV, cast to the
    expected types by DuckDB."""
    con = duckdb.connect()
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in f["header"])
    sel = []
    for c in f["header"]:
        t = f["types"][c]
        if t == "int":  # "17.0" → 17
            sel.append(f"CAST(CAST({c} AS DOUBLE) AS BIGINT)")
        else:
            sel.append(f"CAST({c} AS {DUCK_TYPES[t]})")
    rel = con.sql(
        f"SELECT {', '.join(sel)} FROM read_csv('{f['path']}', header=true, "
        f"columns={{{cols}}})"
    )
    return _digest(rel.fetchall())


def check_ingest(records: list, lake) -> tuple[int, int, list]:
    """Two checks per analysed file: the inferred column types against
    the generator's, and a read-back row count and digest of the lake
    table against the source CSV."""
    import json

    from pyspark.sql import functions as F

    reg = {
        r["parsing_table"]: json.loads(r["csv_detective"])
        for r in lake.registry().select("parsing_table", "csv_detective").collect()
    }
    want_digest: dict = {}
    attempted = failed = 0
    notes = []
    for rec in records:
        f, name = rec["file"], rec["table"]
        types = {c: v["python_type"] for c, v in reg.get(name, {}).get("columns", {}).items()}
        want_types = dict(f["types"])
        if f["path"] not in want_digest:
            want_digest[f["path"]] = _source_digest(f)
        want = want_digest[f["path"]]
        got = _digest(lake.read_table(name).select(*[F.col(c) for c in f["header"]]).collect())
        if BREAK:
            want_types[f["header"][0]] = "broken"
            want = (want[0] + 1, want[1])
        for what, ok, detail in (
            ("types", types == want_types, f"{types} vs {want_types}"),
            ("digest", got == want, f"{got} vs {want}"),
        ):
            attempted += 1
            if not ok:
                failed += 1
                if len(notes) < 3:
                    notes.append(f"{name}: {what} {detail}")
    return attempted, failed, notes


# ----------------------------------------------------------- queries --
def check_queries(query_dir: str, records: list) -> tuple[int, int, list]:
    """Each registry-query result against the query's oracle SQL on
    DuckDB over the same parquet: column set, row count and values,
    normalised as the repo's parity tool does."""
    from tools.parity import normalize
    from udata_datalake_service_spark.entry_queries import ORACLES

    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{query_dir}/{t}.parquet')")
    expected: dict = {}
    failed, notes = 0, []
    for name, cols, rows in records:
        if name not in expected:
            rel = con.sql(ORACLES[name])
            expected[name] = (sorted(rel.columns), normalize(rel.fetchall(), rel.columns))
        want_cols, want = expected[name]
        if BREAK:
            want = want[1:]
        got = normalize(rows, cols)
        if sorted(cols) != want_cols or got != want:
            failed += 1
            if len(notes) < 3:
                notes.append(f"{name}: {len(got)} rows, want {len(want)}; "
                             f"{_first_diff(got, want)}")
    return len(records), failed, notes
