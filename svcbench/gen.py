"""Seeded input generator for the service benchmark.

Everything is derived from one integer seed with numpy's PCG64, so the
same seed gives byte-identical inputs. The seed changes keys, flags and
values; it never changes sizes, so run-to-run spread measures the system
and not the inputs.

Sizes and shapes follow the repo's synthetic fixtures (TESTDATA.md),
not measured service traffic:
- ``catalog`` has the size of sf0.01 ``orders`` (15k resources, a tenth
  of the 142,687 the reference's README reports) and ``checks`` that of
  sf0.01 ``lineitem`` (60k probes, 1 to 9 per checked resource, spread
  over 30 days). Larger lakes made a run too long for the benchmark's
  time budget on a 4-core host;
- the registry queries read sf0.01-sized ``documents``, ``embeddings``,
  ``lineitem`` and ``orders`` (``write_query_sources``);
- the CSV a traced crawl run analyses has the canary's lineitem columns.
"""

from __future__ import annotations

import csv
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_CATALOG = 15_000
N_CHECKED = 12_000  # resources with a check history; the rest never checked
CHECKS_PER_RESOURCE = 9  # 1 to 9 checks each, 5 on average → 60k rows
N_DOMAINS = 200
# crawl "now": after every generated check, before most next_check_at
NOW = "2024-02-01 00:00:00"

CONTENT_TYPES = np.array(
    ["text/csv", "application/json", "application/zip", "text/html",
     "application/vnd.ms-excel", "text/plain"]
)
STATUSES = np.array([200, 404, 500, 429, 304, 0])  # 0 → NULL (timeout)
STATUS_P = [0.80, 0.07, 0.05, 0.03, 0.02, 0.03]
DELAYS_H = np.array([12, 24, 168, 720])


def _rng(seed: int, stream: str) -> np.random.Generator:
    salt = int(hashlib.md5(stream.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([seed, salt])


def _uuids(rng: np.random.Generator, n: int) -> list[str]:
    raw = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    out = []
    for a, b in raw:
        h = f"{int(a):016x}{int(b):016x}"
        out.append(f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}")
    return out


def app_tables(seed: int) -> tuple[pa.Table, pa.Table]:
    """(catalog, checks) as Arrow tables; checks carries ``check_date``."""
    rng = _rng(seed, "app")
    rids = _uuids(rng, N_CATALOG)
    dom = np.minimum(rng.zipf(1.3, N_CATALOG), N_DOMAINS) - 1
    shp = rng.random(N_CATALOG) < 0.01
    urls = [
        f"https://d{d}.example.org/r/{r}" + ("?format=shp" if s else "")
        for d, r, s in zip(dom.tolist(), rids, shp.tolist())
    ]
    checked_idx = np.sort(rng.permutation(N_CATALOG)[:N_CHECKED])
    n_checks = 1 + np.arange(N_CHECKED) % CHECKS_PER_RESOURCE
    rng.shuffle(n_checks)
    total = int(n_checks.sum())

    # one row per check, grouped by resource in id order
    owner = np.repeat(checked_idx, n_checks)
    starts = np.cumsum(n_checks) - n_checks
    seq = np.arange(total) - np.repeat(starts, n_checks)
    base_s = rng.integers(0, 3 * 86400, N_CHECKED)
    created_s = np.repeat(base_s, n_checks) + seq * 3 * 86400
    created = np.datetime64("2024-01-01T00:00:00", "us") + created_s.astype(
        "timedelta64[s]"
    )
    status = rng.choice(STATUSES, size=total, p=STATUS_P)
    ctype = CONTENT_TYPES[rng.integers(0, len(CONTENT_TYPES), total)]
    clen = rng.integers(100, 5_000_000, total)
    has_lm = rng.random(total) < 0.6
    lm_s = created_s - rng.integers(3600, 40 * 86400, total)
    lm = np.datetime64("2024-01-01T00:00:00", "us") + lm_s.astype("timedelta64[s]")
    delay = DELAYS_H[rng.integers(0, len(DELAYS_H), total)]
    nxt = created + (delay * 3600).astype("timedelta64[s]")
    ok = status != 0
    # headers map, built columnar: content-type, content-length and (60%)
    # last-modified per answered check, none for a timeout
    n_entries = np.where(ok, 2 + has_lm, 0)
    offsets = np.concatenate([[0], np.cumsum(n_entries)]).astype(np.int32)
    vals = np.stack(
        [ctype, clen.astype(str), lm.astype("datetime64[s]").astype(str)], axis=1
    ).astype(object)
    keys = np.broadcast_to(
        np.array(["content-type", "content-length", "last-modified"], dtype=object),
        vals.shape,
    )
    keep = np.arange(3)[None, :] < n_entries[:, None]
    headers = pa.MapArray.from_arrays(
        offsets, pa.array(keys[keep], pa.string()), pa.array(vals[keep], pa.string())
    )
    ids = np.arange(1, total + 1, dtype=np.int64)
    checksum = np.full(total, None, dtype=object)
    checksum[::4] = [hashlib.sha1(str(i).encode()).hexdigest() for i in ids[::4].tolist()]
    last_check = np.full(N_CATALOG, -1, dtype=np.int64)
    last_check[checked_idx] = np.cumsum(n_checks)  # id of each resource's last row
    ts = pa.timestamp("us", tz="UTC")
    rid_arr = pa.array(rids, pa.string())
    url_arr = pa.array(urls, pa.string())
    dom_arr = pa.array([f"d{d}.example.org" for d in range(N_DOMAINS)]).take(dom)
    checks = pa.table(
        {
            "id": pa.array(ids),
            "resource_id": rid_arr.take(owner),
            "url": url_arr.take(owner),
            "domain": dom_arr.take(owner),
            "created_at": pa.array(created, ts),
            "status": pa.array(status.astype(np.int32), pa.int32(), mask=~ok),
            "headers": headers,
            "timeout": pa.array(~ok),
            "response_time": pa.array(rng.random(total) * 2.0),
            "error": pa.array([None] * total, pa.string()),
            "checksum": pa.array(checksum, pa.string()),
            "filesize": pa.array(clen, pa.int64(), mask=~ok),
            "mime_type": pa.array(ctype, pa.string(), mask=~ok),
            "analysis_error": pa.array([None] * total, pa.string()),
            "detected_last_modified_at": pa.array(lm, ts, mask=~(ok & has_lm)),
            "parsing_error": pa.array([None] * total, pa.string()),
            "parsing_table": pa.array([None] * total, pa.string()),
            "parsing_started_at": pa.array([None] * total, ts),
            "parsing_finished_at": pa.array([None] * total, ts),
            "next_check_at": pa.array(nxt, ts),
            "parquet_url": pa.array([None] * total, pa.string()),
            "parquet_size": pa.array([None] * total, pa.int64()),
            "check_date": pa.array(created.astype("datetime64[D]"), pa.date32()),
        }
    )
    status_choices = np.array([None, "BACKOFF", "TO_ANALYSE_RESOURCE"], dtype=object)
    cstatus = status_choices[rng.choice(3, size=N_CATALOG, p=[0.93, 0.05, 0.02])]
    catalog = pa.table(
        {
            "id": pa.array(np.arange(1, N_CATALOG + 1, dtype=np.int64)),
            "dataset_id": pa.array(
                [f"ds-{k}" for k in rng.integers(0, 20_000, N_CATALOG).tolist()]
            ),
            "resource_id": rid_arr,
            "url": url_arr,
            "deleted": pa.array(rng.random(N_CATALOG) < 0.03),
            "last_check": pa.array(last_check, pa.int64(), mask=last_check < 0),
            "priority": pa.array(rng.random(N_CATALOG) < 0.02),
            "harvest_modified_at": pa.array([None] * N_CATALOG, ts),
            "status": pa.array(cstatus, pa.string()),
        }
    )
    return catalog, checks


def point_keys(catalog: pa.Table, seed: int, n: int) -> list[str]:
    """``n`` resource ids drawn uniformly, with replacement, from the
    live resources that have a check. HydraService keeps no cache, so
    key skew would not change what a request costs."""
    rng = _rng(seed, "keys")
    live = catalog.filter(
        pc.and_(pc.invert(catalog["deleted"]), pc.is_valid(catalog["last_check"]))
    )["resource_id"].to_pylist()
    return [live[i] for i in rng.integers(0, len(live), n).tolist()]


def write_app_sources(seed: int, root: str) -> dict:
    """Write catalog/checks source parquet under ``root``; return sizes."""
    os.makedirs(root, exist_ok=True)
    catalog, checks = app_tables(seed)
    out = {}
    for name, tab in (("catalog", catalog), ("checks", checks)):
        path = os.path.join(root, f"{name}.parquet")
        # several row groups, so Spark splits the scan across its cores
        pq.write_table(tab, path, row_group_size=50_000)
        out[name] = {"rows": tab.num_rows, "bytes": os.path.getsize(path),
                     "arrow_bytes": tab.nbytes, "path": path}
    return out


# The app and query tables are generated once per checkout from this
# seed and reused by every run: a run's --seed varies its requests
# (keys, days, crawl samples, the analysed CSV), not the tables.
# Generation costs ~3 s a run, which the time budget does not have.
DATA_SEED = 20240201


def cached_sources(cache_root: str, kind: str) -> dict:
    """``write_<kind>_sources(DATA_SEED)`` under ``cache_root``, keyed by
    this file's content so a generator change regenerates."""
    import json

    with open(__file__, "rb") as fh:
        key = hashlib.md5(fh.read()).hexdigest()[:12]
    root = os.path.join(cache_root, f"{kind}-{key}")
    meta = os.path.join(root, "sizes.json")
    if not os.path.exists(meta):
        tmp = f"{root}.tmp-{os.getpid()}"
        write = {"app": write_app_sources, "query": write_query_sources}[kind]
        sizes = write(DATA_SEED, tmp)
        with open(os.path.join(tmp, "sizes.json"), "w") as fh:
            json.dump(sizes, fh)
        try:
            os.rename(tmp, root)
        except OSError:  # another run published it first
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta) as fh:
        sizes = json.load(fh)
    for name, v in sizes.items():
        v["path"] = os.path.join(root, f"{name}.parquet")
    return sizes


# ---------------------------------------------------- registry-query tables --
# The four tables the registry queries of the analysis workload read,
# shaped like the repo's sf0.01 testdata (TESTDATA.md): documents of
# 8-90 words over a 30-word vocabulary plus each language's marker
# words, with exact and near duplicates; 64-dim embeddings around 10
# cluster centres; TPC-H-like lineitem and orders.
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
N_LINEITEM = 60_000
N_ORDERS = 15_000
VOCAB = np.array(
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window spark part group big sort query "
    "fast a dup".split()
)


def _documents(rng: np.random.Generator) -> pa.Table:
    from udata_datalake_service_spark.llm.text import LANG_MARKERS

    langs = ["en", "de", "es", "fr", "zh"]  # zh has no markers: detected 'und'
    texts, doc_langs = [], []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i > 20 and r < 0.04:  # exact copy of an earlier document
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            doc_langs.append(doc_langs[j])
            continue
        if i > 20 and r < 0.12:  # near copy: one word replaced
            j = int(rng.integers(0, i))
            words = texts[j].split()
            words[int(rng.integers(0, len(words)))] = str(VOCAB[rng.integers(0, len(VOCAB))])
            texts.append(" ".join(words))
            doc_langs.append(doc_langs[j])
            continue
        lang = langs[int(rng.integers(0, len(langs)))]
        n = int(rng.integers(8, 91))
        words = VOCAB[rng.integers(0, len(VOCAB), n)].astype(object)
        markers = LANG_MARKERS.get(lang, ())
        if markers:
            pos = rng.random(n) < 0.2
            words[pos] = np.array(markers, dtype=object)[rng.integers(0, len(markers), pos.sum())]
        texts.append(" ".join(words))
        doc_langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(doc_langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centres = rng.normal(0, 0.125, (10, 64))
    label = rng.integers(0, 10, N_EMBEDDINGS)
    vec = (centres[label] + rng.normal(0, 0.06, (N_EMBEDDINGS, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _tpch(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    n, m = N_LINEITEM, N_ORDERS
    day = np.datetime64("1992-01-01", "us")
    days = lambda k: (rng.integers(0, 2400, k) * 86400 * 10**6).astype("timedelta64[us]")  # noqa: E731
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(1, m + 1, n)),
        "l_partkey": pa.array(rng.integers(1, 2_000, n)),
        "l_suppkey": pa.array(rng.integers(1, 100, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.random(n) * 100_000 + 900, 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(day + days(n)),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, m + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, 1_500, m)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, m)]),
        "o_totalprice": pa.array(np.round(rng.random(m) * 400_000 + 800, 2)),
        "o_orderdate": pa.array(day + days(m)),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, m)]),
    })
    return lineitem, orders


def write_query_sources(seed: int, root: str) -> dict:
    """Write the registry queries' tables as ``<root>/<name>.parquet``,
    the layout the queries' ``sf_dir`` argument expects; return sizes."""
    os.makedirs(root, exist_ok=True)
    lineitem, orders = _tpch(_rng(seed, "tpch"))
    out = {}
    for name, tab in (("documents", _documents(_rng(seed, "documents"))),
                      ("embeddings", _embeddings(_rng(seed, "embeddings"))),
                      ("lineitem", lineitem), ("orders", orders)):
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(tab, path)
        out[name] = {"rows": tab.num_rows, "bytes": os.path.getsize(path),
                     "arrow_bytes": tab.nbytes, "path": path}
    return out


# ------------------------------------------------------------- CSV files --
def _lineitem_rows(rng: np.random.Generator, n: int) -> tuple[list[str], list[list]]:
    header = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
              "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
              "l_linestatus", "l_shipdate"]
    ok = rng.integers(1, 600_000, n)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 3650, n).astype("timedelta64[D]")
    cols = [
        ok, rng.integers(1, 20_000, n), rng.integers(1, 1_000, n),
        rng.integers(1, 8, n), rng.integers(1, 51, n).astype(float),
        np.round(rng.random(n) * 100_000 + 900, 2),
        np.round(rng.integers(0, 11, n) / 100, 2),
        np.round(rng.integers(0, 9, n) / 100, 2),
        np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        np.array(["O", "F"])[rng.integers(0, 2, n)],
        ship.astype(str),
    ]
    return header, [list(r) for r in zip(*(c.tolist() for c in cols))]


# the python_type each lineitem column must infer to (the ingest check);
# whole-number floats ("17.0") infer int, as the reference's
# int(str2float(v)) fallback reads them
LINEITEM_TYPES = {
    "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
    "l_linenumber": "int", "l_quantity": "int", "l_extendedprice": "float",
    "l_discount": "float", "l_tax": "float", "l_returnflag": "string",
    "l_linestatus": "string", "l_shipdate": "date",
}
# rows of the analysed file: the reference canary's columns at 1/30 of
# its 45,522 rows
RESOURCE_ROWS = 1_500


def write_resource_csv(seed: int, root: str) -> dict:
    """Write the seeded lineitem-shaped CSV a traced crawl run analyses."""
    os.makedirs(root, exist_ok=True)
    header, rows = _lineitem_rows(_rng(seed, "resource_csv"), RESOURCE_ROWS)
    path = os.path.join(root, "resource.csv")
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)
    return {"name": "resource", "path": path, "rows": RESOURCE_ROWS,
            "bytes": os.path.getsize(path), "header": header, "types": LINEITEM_TYPES}
