"""The benchmark's workloads, driven through the package's public API.

Each workload has the same life cycle, run by ``run.py``:

``prepare``  seeded inputs on disk (generator output, not timed);
``setup``    the timed set-up, repeated to report its median;
``warm``     untimed calls so the timed loop sees a warm session;
``op``       one timed operation of the closed loop (one client);
``trace_only`` calls a traced run makes after the loop, untimed;
``check``    correctness of every recorded result, outside the timing.

``op`` returns (items, record): ``items`` feeds the throughput metric and
``record`` is what ``check`` verifies.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from udata_datalake_service_spark.plans import (
    change_detection, fetch, next_check, select_batch,
)
from udata_datalake_service_spark.schemas import CHECKS_SCHEMA

from svcbench import gen, oracles
from svcbench.harness import median, span_layers, walk_files

# ----------------------------------------------------------------- base --


# The per-layer metrics of a traced run, with their units. Every
# workload reports every name; a layer the workload does not reach
# reports 0.
ROUTES = ("latest_check", "all_checks", "resource_status",
          "crawler_status", "stats", "checks_aggregate")
QUERY = "tx_curate_pipeline"
SHARES = ("lake_read", "lake_write", "service", "plans", "inference", "query")
PER_LAYER = {
    "session.start_s": "s", "setup.fixtures_s": "s", "trace.overhead_pct": "%",
    "op.jobs": "count", "op.stages": "count", "op.tasks": "count",
    "op.job_span_s": "s", "op.driver_gap_s": "s", "op.task_cpu_s": "s",
    "op.task_gc_s": "s", "op.shuffle_write_bytes": "bytes", "op.spill_bytes": "bytes",
    "lake.read_app_table.ms": "ms", "lake.read_app_table.jobs": "count",
    "lake.append_app_table.ms": "ms", "lake.rewrite_app_table.ms": "ms",
    "lake.append_app_table.files_per_commit": "count",
    "lake.append_app_table.bytes_per_commit": "bytes",
    "lake.rewrite_app_table.files_per_commit": "count",
    "lake.rewrite_app_table.bytes_per_commit": "bytes",
    "lake.checks_files_end": "count",
    "lake.write_table.ms": "ms", "lake.register.ms": "ms",
    "lake.bytes_per_input_byte": "ratio",
    **{f"service.{r}.p50_ms": "ms" for r in ROUTES},
    "service.plan.ms": "ms", "service.collect.ms": "ms",
    "service.jobs_per_request": "count", "service.stages_per_request": "count",
    "service.tasks_per_request": "count",
    **{f"plans.{p}.ms": "ms" for p in (
        "select_batch", "claim_batch", "check_batch", "change_detection",
        "crawler_status")},
    "plans.jobs_per_cycle": "count", "plans.stages_per_cycle": "count",
    "plans.fetch.calls_per_check": "ratio",
    "inference.inspect.ms": "ms", "inference.jobs_per_file": "count",
    "inference.stages_per_file": "count",
    f"query.{QUERY}.s": "s", f"query.{QUERY}.jobs": "count",
    f"query.{QUERY}.stages": "count",
    **{f"share.{layer}_pct": "%" for layer in SHARES},
    "mem.peak_rss_mb": "MB", "mem.heap_live_mb": "MB", "mem.gc_ms_per_op": "ms",
}


class Workload:
    """The shared life cycle over the ``catalog``/``checks`` lake."""

    name = ""
    pass_len: int  # operations in one pass of the fixed sequence
    min_passes = 1  # passes the timed loop makes however slow the host
    # which operations a traced run traces, and after how many operations
    # the traced and the untraced ones are the same mix (see run._loop)
    trace_pattern: tuple[bool, ...]
    trace_period: int

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs)

    # ---------------------------------------------------- traced metrics --
    def layers(self, groups) -> dict:
        """The per-layer metrics this workload reaches, plus every span
        name's duration, counts and event-log layers under
        ``<span>.<metric>`` (the detail).

        Shares are exclusive span time over the wall time of the traced
        top-level calls, so nested spans are not counted twice."""
        t = self.tracer
        tops = [s for s in t.spans if s["parent"] is None and "end" in s]
        # calls made outside the timed loop (``trace_only``) count in the
        # shares but are not operations
        ops = [s for s in tops if not s.get("extra")]
        wall = sum(s["end"] - s["start"] for s in tops)
        totals = [self._sum_counts(s) for s in ops]
        per_op = [span_layers(t, s, groups) for s in ops]
        n = max(len(ops), 1)

        exclusive: dict[str, float] = {}
        for s in t.spans:
            if "end" not in s:
                continue
            kids = sum(c["end"] - c["start"] for c in t.spans
                       if c["parent"] == s["id"] and "end" in c)
            layer = _layer(s["name"])
            exclusive[layer] = exclusive.get(layer, 0.0) + (s["end"] - s["start"] - kids)

        out: dict[str, float] = {}
        for name in sorted({s["name"] for s in t.spans}):
            spans = t.named(name)
            lay = [span_layers(t, s, groups) for s in spans]
            k = len(spans)
            out[f"{name}.calls"] = k
            out[f"{name}.ms"] = median([(s["end"] - s["start"]) * 1e3 for s in spans])
            out[f"{name}.jobs"] = sum(self._sum_counts(s)[0] for s in spans) / k
            out[f"{name}.stages"] = sum(self._sum_counts(s)[1] for s in spans) / k
            for m in ("job_span_s", "driver_gap_s", "task_cpu_s", "task_gc_s",
                      "shuffle_write_bytes", "spill_bytes"):
                out[f"{name}.{m}"] = sum(x[m] for x in lay) / k
            commits = [s for s in spans if "files_added" in s]
            if commits:
                out[f"{name}.files_per_commit"] = sum(s["files_added"] for s in commits) / k
                out[f"{name}.bytes_per_commit"] = sum(s["bytes_added"] for s in commits) / k
        for i, key in enumerate(("op.jobs", "op.stages", "op.tasks")):
            out[key] = median([c[i] for c in totals])
        for m in ("job_span_s", "driver_gap_s", "task_cpu_s", "task_gc_s",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"op.{m}"] = sum(x[m] for x in per_op) / n
        for layer, secs in exclusive.items():
            out[f"share.{layer}_pct"] = 100.0 * secs / wall
        out["lake.checks_files_end"] = len(walk_files(self.lake.app_table_path("checks")))
        out.update(self.extra_layers(ops, totals))
        return out

    def extra_layers(self, ops, totals) -> dict:
        return {}

    def trace_only(self) -> None:
        """Calls a traced run makes after the timed loop."""

    def _sum_counts(self, rec) -> tuple[int, int, int]:
        spans = self.tracer.descendants(rec)
        return (sum(s.get("jobs", 0) for s in spans), sum(s.get("stages", 0) for s in spans),
                sum(s.get("tasks", 0) for s in spans))

    def traced_lake(self, lake):
        """In a traced run, wrap the Lake instance's public methods;
        each write walks its table directory to size the commit."""
        if not self.tracer.active:
            return lake
        t = self.tracer

        def app_dir(args, kwargs):
            return lake.app_table_path(args[1] if len(args) > 1 else kwargs["name"])

        def table_dir(args, kwargs):
            return lake.table_path(args[1] if len(args) > 1 else kwargs["name"])

        def registry_dir(args, kwargs):
            return lake.registry_path

        for name, walk in (
            ("read_app_table", None),
            ("read_table", None),
            ("registry", None),
            ("write_app_table", app_dir),
            ("append_app_table", app_dir),
            ("rewrite_app_table", app_dir),
            ("write_table", table_dir),
            ("register", registry_dir),
        ):
            setattr(lake, name, t.wrap(getattr(lake, name), f"lake.{name}", walk))
        return lake

    def prepare(self):
        self.sizes = gen.cached_sources(self.ctx.cache, "app")
        self._rep = 0
        self.lake = None
        return {k: {"rows": v["rows"], "bytes": v["bytes"], "arrow_bytes": v["arrow_bytes"]}
                for k, v in self.sizes.items()}

    def setup(self):
        from udata_datalake_service_spark.sinks.lake import Lake

        root = os.path.join(self.ctx.work, f"lake{self._rep}")
        self._rep += 1
        lake = Lake(self.spark, root)
        lake.write_app_table(self.spark.read.parquet(self.sizes["catalog"]["path"]), "catalog")
        lake.write_app_table(
            self.spark.read.parquet(self.sizes["checks"]["path"]), "checks",
            partition_by=["check_date"],
        )
        if self.lake is not None:
            shutil.rmtree(str(self.lake.root), ignore_errors=True)
        self.lake = lake

    def service(self):
        from udata_datalake_service_spark.service import HydraService

        return HydraService(self.spark, self.traced_lake(self.lake))


_READS = {"lake.read_app_table", "lake.read_table", "lake.registry"}


def _layer(span_name: str) -> str:
    """The package layer a span's exclusive time belongs to."""
    if span_name in _READS:
        return "lake_read"
    head = span_name.split(".", 1)[0]
    if head == "lake":
        return "lake_write"
    return head


# --------------------------------------------------------- serve_routes --

# The fixed request mix: 7 point routes, then 3 dashboard routes. The
# 70/30 split is an assumption of the benchmark's design, not a measured
# traffic mix; no request log of the reference service is available.
ROUTE_MIX = (
    "latest_check", "all_checks", "resource_status",
    "latest_check", "all_checks", "resource_status", "latest_check",
    "crawler_status", "stats", "checks_aggregate",
)
POINT_ROUTES = ("latest_check", "all_checks", "resource_status")
N_DAYS = 27  # check dates span Jan 1-27


class ServeRoutes(Workload):
    name = "serve_routes"
    # routes return a DataFrame; the client collects it as an API would
    pass_len = len(ROUTE_MIX)
    min_passes = 2  # 20 requests, each route of the mix at least twice
    # untraced, traced, traced, untraced: as 10 ≡ 2 (mod 4), over two
    # passes every position of the mix is traced once and untraced once
    trace_pattern = (False, True, True, False)
    trace_period = 2 * len(ROUTE_MIX)

    def warm(self):
        import pyarrow.parquet as pq

        self.svc = self.service()
        catalog = pq.read_table(self.sizes["catalog"]["path"])
        self.keys = gen.point_keys(catalog, self.ctx.seed, 1_000)
        # the whole mix once: latencies keep falling over the first few
        # calls of each route
        warm_keys = gen.point_keys(catalog, self.ctx.seed + 1, len(ROUTE_MIX))
        for i, route in enumerate(ROUTE_MIX):
            self._call(route, warm_keys[i], i % N_DAYS).collect()

    def _call(self, route, key, day):
        if route == "resource_status":
            return self.svc.resource_status(key)
        if route in POINT_ROUTES:
            return getattr(self.svc, route)(resource_id=key)
        if route == "checks_aggregate":
            return self.svc.checks_aggregate(
                "headers['content-type']", f"2024-01-{1 + day:02d}"
            )
        return getattr(self.svc, route)()

    def op(self, i):
        route = ROUTE_MIX[i % len(ROUTE_MIX)]
        key = self.keys[i % len(self.keys)]
        day = (i * 7 + self.ctx.seed) % N_DAYS
        self.tracer.request = i
        with self.span(f"service.{route}", route=route):
            with self.span("service.plan"):
                df = self._call(route, key, day)
            with self.span("service.collect"):
                rows = df.collect()
        return 1, (route, key, day, df.columns, [tuple(r) for r in rows])

    def named(self, p50_ms, p95_ms, per_s) -> dict:
        return {"route_p50_ms": (p50_ms, "ms"), "route_p95_ms": (p95_ms, "ms"),
                "routes_per_s": (per_s, "1/s")}

    def check(self, records):
        return oracles.check_routes(self.sizes, records)

    def extra_layers(self, ops, totals):
        out = {}
        for route in ROUTES:
            spans = self.tracer.named(f"service.{route}")
            out[f"service.{route}.p50_ms"] = median(
                [(s["end"] - s["start"]) * 1e3 for s in spans])
        n = max(len(totals), 1)
        out["service.jobs_per_request"] = sum(c[0] for c in totals) / n
        out["service.stages_per_request"] = sum(c[1] for c in totals) / n
        out["service.tasks_per_request"] = sum(c[2] for c in totals) / n
        return out


# ---------------------------------------------------------- crawl_cycle --

BATCH_SIZE = 40  # the reference's BATCH_SIZE
WARM_CYCLES = 2  # untimed cycles before the loop
NEW_ID_BASE = 10**9


def md5_transport(url: str, method: str):
    """Deterministic fake HTTP: status and headers derive from md5(url),
    so the DuckDB restatement can recompute every value. No network, no
    sleep. Same shape as the crawl end-to-end test's mock transport."""
    h = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
    status = (200, 200, 304, 404, 500)[h % 5]
    headers = {}
    if h % 3 != 0:
        headers["Content-Length"] = str(100 + h % 1000)
    if h % 4 == 0:
        headers["Last-Modified"] = "Mon, 15 Jan 2024 00:00:00 GMT"
    return status, headers, None


class CrawlCycle(Workload):
    """One operation is a 40-URL crawl cycle. A traced run then analyses
    one batch resource's CSV (``cli.analyse_csv``, as hydra does after a
    check) and runs the corpus curation query of the registry
    (``entry_queries`` and ``llm/``), outside the timed loop: the
    ingest, inference and query layers are measured per layer only,
    because their calls do not fit the untraced runs' time budget (see
    the README)."""

    name = "crawl_cycle"
    # two cycles a pass, so that every run times at least two cycles
    pass_len = 2
    # untraced, traced, traced, untraced over two passes
    trace_pattern = (False, True, True, False)
    trace_period = 4

    def prepare(self):
        sizes = super().prepare()
        if not self.tracer.active:
            return sizes
        self.query_sizes = gen.cached_sources(self.ctx.cache, "query")
        self.query_dir = os.path.dirname(self.query_sizes["documents"]["path"])
        self.csv = gen.write_resource_csv(self.ctx.seed, os.path.join(self.ctx.work, "csv"))
        self.fresh = os.path.join(self.ctx.work, "fresh")
        os.makedirs(self.fresh, exist_ok=True)
        return sizes | {
            k: {"rows": v["rows"], "bytes": v["bytes"], "arrow_bytes": v["arrow_bytes"]}
            for k, v in self.query_sizes.items()
        } | {"resource_csv": {"rows": self.csv["rows"], "bytes": self.csv["bytes"]}}

    def warm(self):
        self.svc = self.service()
        self.calls = self.spark.sparkContext.accumulator(0)
        calls = self.calls

        def transport(url, method):
            calls.add(1)
            return md5_transport(url, method)

        self.transport = transport
        self.cycle = 0
        self.csv_urls = []
        self.analysed = []  # (ingest, query) records of a traced run
        # checked too; the timed loop starts on the third call of each
        # path, past most of the JIT warm-up
        self.warm_records = [self.op(-1 - k)[1] for k in range(WARM_CYCLES)]

    def op(self, i):
        self.tracer.request = i
        cycle = self.cycle
        self.cycle += 1
        rows, record = self._cycle(cycle)
        # the batch's first resource (by id) serves a CSV
        self.csv_urls.append(min(record["batch"])[1] + ".csv")
        return len(rows), record

    def trace_only(self):
        """Analyse the CSV one resource of each of the last two batches
        serves, each from a fresh path so the inspect memo misses as for
        a new file, and run the registry query after each analysis;
        the second, warm pair is traced."""
        from udata_datalake_service_spark import cli
        from udata_datalake_service_spark.entry_queries import QUERIES
        from udata_datalake_service_spark.sources import inference

        inference.inspect_tabular = self.tracer.wrap(
            inference.inspect_tabular, "inference.inspect"
        )
        for traced, url in zip((False, True), self.csv_urls[-2:]):
            self.tracer.enabled = traced
            self.tracer.request = f"analysis-{int(traced)}"
            path = os.path.join(self.fresh, f"{int(traced)}.csv")
            shutil.copyfile(self.csv["path"], path)
            with self.span("cli.analyse_csv", extra=True):
                table = cli.analyse_csv(self.spark, self.svc.lake, path, url=url)
            with self.span(f"query.{QUERY}", extra=True):
                df = QUERIES[QUERY](self.spark, self.query_dir)
                answer = [tuple(r) for r in df.collect()]
            self.analysed.append(({"file": self.csv, "table": table},
                                  (QUERY, df.columns, answer)))
        self.tracer.enabled = False

    def _cycle(self, cycle):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        sb, cd, nc = select_batch, change_detection, next_check
        lake, spark = self.svc.lake, self.spark
        now = F.expr(f"timestamp '{gen.NOW}'")
        with self.span("crawl.cycle"):
            catalog = lake.read_app_table("catalog")
            checks = lake.read_app_table("checks")
            with self.span("plans.select_batch"):
                batch_rows = sb.select_batch(
                    catalog, checks, batch_size=BATCH_SIZE, now=now,
                    seed=f"s{self.ctx.seed}-{cycle}",
                ).select("resource_id", "url", "tier").collect()
            batch = spark.createDataFrame(batch_rows, "resource_id string, url string, tier string")
            with self.span("plans.claim_batch"):
                claimed = sb.claim_batch(catalog, batch)
                lake.rewrite_app_table(claimed, "catalog")
            with self.span("plans.check_batch"):
                results = fetch.check_batch(
                    batch, transport=self.transport, fan_out=4
                )
            base = NEW_ID_BASE + cycle * 1000
            w = Window.orderBy("resource_id")
            new = results.select(
                (F.lit(base) + F.row_number().over(w)).cast("long").alias("id"),
                "resource_id", "url", "domain",
                now.alias("created_at"), "status", "headers", "timeout",
                "response_time", "error",
                F.lit(None).cast("string").alias("checksum"),
                F.col("headers")["content-length"].cast("long").alias("filesize"),
                F.col("headers")["content-type"].alias("mime_type"),
                F.when(
                    F.col("headers")["last-modified"].isNotNull(),
                    F.expr("timestamp '2024-01-15 00:00:00'"),
                ).alias("detected_last_modified_at"),
            )
            prior = checks.join(F.broadcast(batch.select("resource_id")), "resource_id", "left_semi")
            hist = prior.select(*new.columns).unionByName(new)
            with self.span("plans.change_detection"):
                final = nc.with_next_check(cd.check_events(cd.with_change_detection(hist)))
                rows = final.filter(F.col("id") > base).select(
                    *STORED_NEW, *VERDICTS
                ).collect()
            stored = spark.createDataFrame(
                [r[: len(STORED_NEW)] for r in rows], new_checks_schema()
            )
            lake.append_app_table(
                stored.select(
                    *[F.col(f.name) if f.name in STORED_NEW
                      else F.lit(None).cast(f.dataType).alias(f.name)
                      for f in CHECKS_SCHEMA.fields],
                    F.to_date("created_at").alias("check_date"),
                ),
                "checks", partition_by=["check_date"],
            )
            with self.span("plans.crawler_status"):
                status = self.svc.crawler_status().collect()
        record = {
            "cycle": cycle,
            "seed": f"s{self.ctx.seed}-{cycle}",
            "batch": [tuple(r) for r in batch_rows],
            "rows": [r.asDict() for r in rows],
            "status": status[0].asDict(),
        }
        return rows, record

    def named(self, p50_ms, p95_ms, per_s) -> dict:
        return {"crawl_cycle_p50_s": (p50_ms / 1e3, "s"),
                "crawl_checks_per_s": (per_s, "1/s")}

    def check(self, records):
        self.checked_rows = sum(len(r["rows"]) for r in records)
        checks = [oracles.check_crawl(self.sizes, records, self.lake)]
        if self.analysed:
            checks += [
                oracles.check_ingest([a[0] for a in self.analysed], self.lake),
                oracles.check_queries(self.query_dir, [a[1] for a in self.analysed]),
            ]
        return (sum(c[0] for c in checks), sum(c[1] for c in checks),
                [n for c in checks for n in c[2]])

    def extra_layers(self, ops, totals):
        t = self.tracer
        cycles = [self._sum_counts(s) for s in t.named("crawl.cycle")]
        inspect = [self._sum_counts(s) for s in t.named("inference.inspect")]
        query = t.named(f"query.{QUERY}")
        written = t.named("lake.write_table")
        return {
            "plans.jobs_per_cycle": sum(c[0] for c in cycles) / max(len(cycles), 1),
            "plans.stages_per_cycle": sum(c[1] for c in cycles) / max(len(cycles), 1),
            # transport calls over check rows: 1 = HEAD only, 2 = HEAD+GET;
            # more means check_batch re-ran its fetches
            "plans.fetch.calls_per_check": self.calls.value / max(self.checked_rows, 1),
            "inference.jobs_per_file": sum(c[0] for c in inspect) / max(len(inspect), 1),
            "inference.stages_per_file": sum(c[1] for c in inspect) / max(len(inspect), 1),
            f"query.{QUERY}.s": median([s["end"] - s["start"] for s in query]),
            "lake.bytes_per_input_byte": median(
                [s["bytes_added"] / self.csv["bytes"] for s in written]),
        }


# stored checks columns a cycle produces, then the verdicts it reports
STORED_NEW = (
    "id", "resource_id", "url", "domain", "created_at", "status", "headers",
    "timeout", "response_time", "error", "checksum", "filesize", "mime_type",
    "detected_last_modified_at", "next_check_at",
)
VERDICTS = (
    "chg_last_modified", "chg_content_length", "chg_checksum", "change_status",
    "change_method", "evt_first_check", "evt_status_changed", "any_trigger",
)


def new_checks_schema():
    from pyspark.sql import types as T

    fields = {f.name: f for f in CHECKS_SCHEMA.fields}
    return T.StructType([fields[c] for c in STORED_NEW])


WORKLOADS = {w.name: w for w in (ServeRoutes, CrawlCycle)}
