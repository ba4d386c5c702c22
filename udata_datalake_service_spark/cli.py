"""CLI verbs (reference cli.py:50-381), bound to the Spark components.

| reference verb               | here                                   |
|------------------------------|----------------------------------------|
| load-catalog                 | ``load_catalog``  (S5 + U3 diff load)  |
| check-resource / crawl-url   | ``check_urls``    (S1 fetch plane)     |
| analyse-csv                  | ``analyse_csv``   (S6 + K1-K7)         |
| csv-sample                   | ``csv_sample_report`` (O4)             |
| purge-checks                 | ``purge_checks``  (P10/ST7)            |
| purge-csv-tables             | ``purge_csv_tables`` (J4/ST8 GC)       |
| insert-resource-into-catalog | ``insert_resource`` (U2 upsert)        |
| drop-dbs / migrate           | n/a — the lake has no migrations; drop = path removal |
| (maintenance)                | ``vacuum-lake`` — reclaim unreferenced version dirs; ``compact-table`` — coalesce small files into ~target-size files behind the manifest flip |
| (beyond-ref, LLM plane)      | ``curate-docs`` — exact dedup + Gopher quality gate over a documents parquet, with a survivorship report; ``datasheet`` — the corpus audit report; ``bpe-train`` — learn + persist a BPE merge table; ``dq-check`` — SQL-predicate expectations report + optional quarantine parquet; ``novelty`` / ``paragraph-dedup`` / ``padding-waste`` / ``ingest-corpus`` — corpus diagnostics + idempotent ingest |

Each verb is a plain function (driver-side orchestration of lazy Spark
plans) plus an argparse front end: ``python -m
udata_datalake_service_spark.cli <verb> …``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys

from pyspark.sql import SparkSession

from udata_datalake_service_spark.session import get_spark
from udata_datalake_service_spark.sinks.lake import Lake


# ------------------------------------------------------------------ verbs --
def load_catalog(spark: SparkSession, lake: Lake, csv_path: str) -> int:
    """cli.py:86-116 — full-snapshot diff load: survivors un-deleted,
    leavers soft-deleted, newcomers inserted."""
    from udata_datalake_service_spark.operators.core import snapshot_diff_load
    from udata_datalake_service_spark.sources.csv_reader import read_catalog_csv

    from pyspark.sql import functions as F

    snap = read_catalog_csv(spark, csv_path)
    cols = {c: c.replace("dataset.", "dataset_") for c in snap.columns}
    for old, new in cols.items():
        snap = snap.withColumnRenamed(old, new)
    try:
        current = lake.read_app_table("catalog")
    except Exception:  # first load: no existing table
        current = None
    if current is None:
        lake.write_app_table(snap.withColumn("deleted", F.lit(False)), "catalog")
    else:
        lake.rewrite_app_table(
            snapshot_diff_load(current, snap, key="resource_id"), "catalog"
        )
    # count from the fresh table — the merged plan's input files were just
    # replaced, so counting the pre-rewrite frame would re-read dead paths
    return lake.read_app_table("catalog").count()


def check_urls(spark: SparkSession, urls: list[str], transport=None):
    """cli.py:120-139 check-resource / crawl-url — run the fetch plane on
    explicit URLs; returns the check rows DataFrame. The batch is a local
    relation, so collecting it for the fetch runs no Spark job."""
    from pyspark.sql import types as T

    from udata_datalake_service_spark.plans.fetch import (
        check_batch,
        local_relation,
        urllib_transport,
    )

    batch = local_relation(
        spark,
        [{"resource_id": str(i), "url": u} for i, u in enumerate(urls)],
        T.StructType([T.StructField("resource_id", T.StringType()),
                      T.StructField("url", T.StringType())]),
    )
    return check_batch(batch, transport or urllib_transport)


def analyse_csv(spark: SparkSession, lake: Lake, path: str, url: str | None = None,
                resource_id: str = "", index_columns: list[str] | None = None,
                sheet_name: str | None = None, on_drift=None) -> str:
    """analysis/csv.py:108-199 — inspect, cast, write the md5(url)-named
    lake table, register. Returns the table name. Handles csv / csv.gz /
    xlsx / xls / ods via the magic-first format dispatch, like the
    reference's analyse flow (stdlib parsers back every format)."""
    from udata_datalake_service_spark.sources.inference import inspect_tabular

    url = url or f"file://{path}"
    name = hashlib.md5(url.encode()).hexdigest()
    typed, insp = inspect_tabular(spark, path, sheet_name=sheet_name)
    # re-analysis of a known resource: surface schema drift vs the last
    # registered inspection BEFORE the new row lands (ST4's schema-level
    # sibling — content change detection can't name a retyped column)
    from pyspark.sql import functions as F

    try:
        prev = (
            lake.registry()
            .filter(F.col("parsing_table") == name)
            .orderBy(F.col("created_at").desc())
            .limit(1)
            .collect()
        )
    except Exception:
        prev = []
    if prev:
        from udata_datalake_service_spark.sources.inference import schema_drift

        drift = schema_drift(json.loads(prev[0]["csv_detective"]), insp.to_dict())
        if drift:
            (on_drift or (lambda d: print(
                json.dumps({"schema_drift": d}), file=sys.stderr)))(drift)
    lake.write_table(
        typed, name, index_columns=index_columns, min_lines_for_parquet=0,
        expected_rows=insp.total_lines,
    )
    lake.register(name, insp.to_dict(), resource_id=resource_id, url=url)
    return name


def csv_sample_report(spark: SparkSession, lake: Lake, size: int = 1000,
                      max_size: int = 104_857_600, seed: str = "s0"):
    """cli.py:181-219 csv-sample."""
    from udata_datalake_service_spark.plans.csv_sample import csv_sample

    return csv_sample(
        lake.read_app_table("catalog"), lake.read_app_table("checks"),
        size=size, max_size=max_size, seed=seed,
    )


def purge_checks(spark: SparkSession, lake: Lake, retention_days: int = 60) -> int:
    """cli.py:272-283 — delete checks older than the retention window;
    returns the purged-row count (the DELETE … RETURNING count)."""
    from udata_datalake_service_spark.operators.gc import retention_filter

    checks = lake.read_app_table("checks")
    before = checks.count()
    kept = retention_filter(checks, retention_days=retention_days)
    lake.rewrite_app_table(kept, "checks")
    return before - lake.read_app_table("checks").count()


def purge_csv_tables(spark: SparkSession, lake: Lake) -> list[str]:
    """cli.py:287-334 — drop converted tables whose URL left the catalog."""
    from udata_datalake_service_spark.operators.gc import orphan_converted_tables

    orphans = orphan_converted_tables(
        lake.read_app_table("checks"), lake.read_app_table("catalog")
    )
    names = [r["parsing_table"] for r in orphans.select("parsing_table").distinct().collect()]
    for name in names:
        lake.drop_table(name)
    return names


def insert_resource(spark: SparkSession, lake: Lake, dataset_id: str,
                    resource_id: str, url: str) -> None:
    """cli.py:357-381 insert-resource-into-catalog (U2 upsert)."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.operators.core import upsert

    catalog = lake.read_app_table("catalog")
    row = spark.createDataFrame(
        [(dataset_id, resource_id, url, False)],
        "dataset_id string, resource_id string, url string, deleted boolean",
    )
    for c in catalog.columns:
        if c not in row.columns:
            row = row.withColumn(c, F.lit(None).cast(dict(catalog.dtypes)[c]))
    lake.rewrite_app_table(upsert(catalog, row.select(*catalog.columns), key="resource_id"), "catalog")


def bpe_train_verb(
    spark: SparkSession,
    lake: Lake,
    in_path: str,
    num_merges: int = 50,
    table: str = "bpe_merges",
) -> dict:
    """Learn a BPE merge table from a documents parquet and commit it to
    the lake as an app table (rank, left, right, pair_count) — the
    tokenizer artifact a training run ships with. Returns a summary."""
    from udata_datalake_service_spark.llm.bpe import bpe_merges_df

    df = spark.read.parquet(in_path)
    merges = bpe_merges_df(df, num_merges=num_merges)
    lake.write_app_table(merges, table)
    n = merges.count()
    return {"merges": n, "table": table}


def curate_docs(
    spark: SparkSession,
    in_path: str,
    out_path: str | None = None,
    drop_exact_dups: bool = True,
    benchmark_path: str | None = None,
) -> dict:
    """Training-data curation verb over a documents parquet
    (doc_id, text, …): optional exact dedup (first fingerprint arrival
    wins) → optional benchmark decontamination (GPT-3-style k-gram
    overlap vs the eval parquet at ``benchmark_path``) → Gopher rule gate
    (llm/gopher.py), written as a curated parquet when ``out_path`` is
    given. Returns the audit report — counts at each gate so a 100 TB
    run's survivorship is explainable. Map-only gate + one fingerprint
    shuffle when dedup is on + one broadcast anti-join when
    decontaminating; the write streams."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.llm.dedup import exact_dedup
    from udata_datalake_service_spark.llm.gopher import gopher_quality

    df = spark.read.parquet(in_path)
    n_in = df.count()
    kept = df
    n_after_dedup = n_in
    persisted = []
    if drop_exact_dups:
        # persist: the dedup shuffle feeds both the count and the gate
        kept = exact_dedup(kept, text="text", id_col="doc_id").persist()
        persisted.append(kept)
        n_after_dedup = kept.count()
    n_after_decontam = n_after_dedup
    if benchmark_path:
        from udata_datalake_service_spark.llm.contamination import decontaminate

        bench = spark.read.parquet(benchmark_path)
        kept = decontaminate(kept, bench, text="text", id_col="doc_id").persist()
        persisted.append(kept)
        n_after_decontam = kept.count()
    verdicts = gopher_quality(kept).select("doc_id", "gopher_pass", "n_fail")
    survivors = kept.join(
        verdicts.filter(F.col("gopher_pass")).select("doc_id"), on="doc_id"
    )
    if out_path:
        # write once, count from the written files — the expensive gate
        # (mapInPandas n-grams) runs exactly once
        survivors.write.mode("overwrite").parquet(out_path)
        n_pass = spark.read.parquet(out_path).count()
    else:
        n_pass = survivors.count()
    for p_ in persisted:
        p_.unpersist()
    return {
        "n_in": n_in,
        "n_after_exact_dedup": n_after_dedup,
        "n_after_decontam": n_after_decontam,
        "n_gopher_pass": n_pass,
        "pass_rate": round(n_pass / n_in, 6) if n_in else 0.0,
        "out_path": out_path,
    }


# ------------------------------------------------------------------- main --
def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="udata-datalake-spark")
    p.add_argument("--lake-root", default="./lake")
    p.add_argument("--config", help="TOML config (config_default.toml keys)")
    sub = p.add_subparsers(dest="verb", required=True)
    sp = sub.add_parser("load-catalog"); sp.add_argument("csv_path")
    sp = sub.add_parser("check-url"); sp.add_argument("urls", nargs="+")
    sp = sub.add_parser("analyse-csv"); sp.add_argument("path"); sp.add_argument("--url"); sp.add_argument("--resource-id", default="")
    sp = sub.add_parser("csv-sample"); sp.add_argument("--size", type=int, default=1000)
    sp = sub.add_parser("purge-checks"); sp.add_argument("--retention-days", type=int, default=60)
    sub.add_parser("purge-csv-tables")
    sub.add_parser("vacuum-lake")
    sp = sub.add_parser("compact-table"); sp.add_argument("name"); sp.add_argument("--target-mb", type=int, default=128); sp.add_argument("--app-table", action="store_true")
    sp = sub.add_parser("select-batch"); sp.add_argument("--seed", default="s0")
    sp = sub.add_parser("insert-resource"); sp.add_argument("dataset_id"); sp.add_argument("resource_id"); sp.add_argument("url")
    sp = sub.add_parser("curate-docs"); sp.add_argument("in_path"); sp.add_argument("--out"); sp.add_argument("--keep-dups", action="store_true"); sp.add_argument("--benchmark")
    sp = sub.add_parser("datasheet"); sp.add_argument("in_path")
    sp = sub.add_parser("bpe-train"); sp.add_argument("in_path"); sp.add_argument("--merges", type=int, default=50); sp.add_argument("--table", default="bpe_merges")
    sp = sub.add_parser("novelty"); sp.add_argument("in_path"); sp.add_argument("--k", type=int, default=2)
    sp = sub.add_parser("paragraph-dedup"); sp.add_argument("in_path"); sp.add_argument("--out"); sp.add_argument("--split-regex"); sp.add_argument("--para-tokens", type=int, default=50)
    sp = sub.add_parser("padding-waste"); sp.add_argument("in_path"); sp.add_argument("--batch-size", type=int, default=32)
    sp = sub.add_parser("ingest-corpus"); sp.add_argument("in_path"); sp.add_argument("batch_id"); sp.add_argument("--table", default="corpus_docs"); sp.add_argument("--gopher-gate", action="store_true")
    sp = sub.add_parser("dq-check"); sp.add_argument("in_path"); sp.add_argument("rules", nargs="+", help="name:SQL-predicate pairs, e.g. 'positive:price > 0'"); sp.add_argument("--quarantine")
    args = p.parse_args(argv)

    from udata_datalake_service_spark.config import load_config

    cfg = load_config(toml_path=args.config)
    spark = get_spark(app_name=f"udata-cli-{args.verb}")
    lake = Lake(spark, args.lake_root)
    if args.verb == "load-catalog":
        print(json.dumps({"rows": load_catalog(spark, lake, args.csv_path)}))
    elif args.verb == "check-url":
        for r in check_urls(spark, args.urls).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.verb == "analyse-csv":
        print(json.dumps({"table": analyse_csv(spark, lake, args.path, args.url, args.resource_id)}))
    elif args.verb == "csv-sample":
        for r in csv_sample_report(spark, lake, size=args.size).collect():
            print(json.dumps(r.asDict(), default=str))
    elif args.verb == "purge-checks":
        print(json.dumps({"purged": purge_checks(spark, lake, args.retention_days)}))
    elif args.verb == "purge-csv-tables":
        print(json.dumps({"dropped": purge_csv_tables(spark, lake)}))
    elif args.verb == "vacuum-lake":
        print(json.dumps({"removed": lake.vacuum()}))
    elif args.verb == "compact-table":
        print(json.dumps(lake.compact_table(
            args.name, target_bytes=args.target_mb * 1024 * 1024,
            app_table=args.app_table)))
    elif args.verb == "select-batch":
        from udata_datalake_service_spark.service import HydraService

        svc = HydraService(spark, lake, config=cfg)
        for r in svc.select_crawl_batch(seed=args.seed).collect():
            print(
                json.dumps(
                    {"resource_id": r["resource_id"], "url": r["url"], "tier": r["tier"]},
                    default=str,
                )
            )
    elif args.verb == "insert-resource":
        insert_resource(spark, lake, args.dataset_id, args.resource_id, args.url)
        print(json.dumps({"ok": True}))
    elif args.verb == "curate-docs":
        print(json.dumps(curate_docs(
            spark, args.in_path, out_path=args.out,
            drop_exact_dups=not args.keep_dups,
            benchmark_path=args.benchmark)))
    elif args.verb == "bpe-train":
        print(json.dumps(bpe_train_verb(
            spark, lake, args.in_path, num_merges=args.merges,
            table=args.table)))
    elif args.verb == "datasheet":
        from udata_datalake_service_spark.llm.report import corpus_datasheet

        for r in corpus_datasheet(spark.read.parquet(args.in_path)).collect():
            print(json.dumps(r.asDict()))
    elif args.verb == "novelty":
        from udata_datalake_service_spark.caching import settle
        from udata_datalake_service_spark.llm.corpus import ngram_novelty

        out = settle(ngram_novelty(spark.read.parquet(args.in_path), k=args.k))
        agg = out.selectExpr(
            "count(*) AS n_docs",
            "CAST(sum(n_grams) AS BIGINT) AS n_grams",
            "CAST(sum(n_novel) AS BIGINT) AS n_novel",
            "round(sum(n_novel) / greatest(sum(n_grams), 1), 6) AS corpus_novelty",
        ).collect()[0]
        print(json.dumps(agg.asDict()))
    elif args.verb == "paragraph-dedup":
        from udata_datalake_service_spark.llm.corpus import paragraph_dedup

        out = paragraph_dedup(
            spark.read.parquet(args.in_path),
            para_tokens=args.para_tokens,
            split_regex=args.split_regex,
        )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
        rep = out.selectExpr(
            "count(*) AS n_docs",
            "CAST(sum(n_paras) AS BIGINT) AS n_paras",
            "CAST(sum(n_kept) AS BIGINT) AS n_kept",
            "round(1 - sum(n_kept) / greatest(sum(n_paras), 1), 6) AS dropped_ratio",
        ).collect()[0]
        print(json.dumps({**rep.asDict(), "out_path": args.out}))
    elif args.verb == "padding-waste":
        from udata_datalake_service_spark.llm.corpus import padding_waste_report
        from udata_datalake_service_spark.llm.text import token_count

        from pyspark.sql import functions as F

        d = spark.read.parquet(args.in_path).withColumn(
            "n_tokens", token_count(F.col("text"))
        )
        for r in padding_waste_report(d, "n_tokens", batch_size=args.batch_size).collect():
            print(json.dumps(r.asDict()))
    elif args.verb == "ingest-corpus":
        from udata_datalake_service_spark.llm.ingest import ingest_documents

        print(json.dumps(ingest_documents(
            lake, spark.read.parquet(args.in_path), args.batch_id,
            table=args.table, apply_gopher_gate=args.gopher_gate)))
    elif args.verb == "dq-check":
        from pyspark.sql import functions as F

        from udata_datalake_service_spark.operators.expectations import (
            report,
            split,
        )

        rules = {}
        for spec in args.rules:
            name, _, pred = spec.partition(":")
            if not name or not pred:
                raise SystemExit(f"bad rule spec (want name:predicate): {spec!r}")
            rules[name] = F.expr(pred)
        df = spark.read.parquet(args.in_path)
        if args.quarantine:
            _, bad = split(df, rules)
            bad.write.mode("overwrite").parquet(args.quarantine)
        for r in report(df, rules).collect():
            print(json.dumps(r.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
