"""Config surface: defaults mirror config_default.toml; TOML + env override."""

from __future__ import annotations

import pytest

from udata_datalake_service_spark.config import Config, load_config


def test_defaults_match_reference_shipped_values():
    from udata_datalake_service_spark.plans.backoff import (
        BACKOFF_NB_REQ,
        BACKOFF_PERIOD_S,
        COOL_OFF_PERIOD_S,
        NO_BACKOFF_DOMAINS,
    )
    from udata_datalake_service_spark.plans.next_check import CHECK_DELAYS_HOURS
    from udata_datalake_service_spark.plans.select_batch import (
        BATCH_SIZE,
        EXCLUDED_PATTERNS,
    )

    c = Config()
    assert c.backoff_nb_req == 180 and c.backoff_period == 360
    assert c.cool_off_period == 86_400 and c.batch_size == 40
    assert "static.data.gouv.fr" in c.no_backoff_domains
    # one definition per crawl default: the service (Config) and the
    # plans' own defaults select and back off identically
    assert c.excluded_patterns == EXCLUDED_PATTERNS
    assert c.batch_size == BATCH_SIZE
    assert c.backoff_nb_req == BACKOFF_NB_REQ
    assert c.backoff_period == BACKOFF_PERIOD_S
    assert c.cool_off_period == COOL_OFF_PERIOD_S
    assert c.no_backoff_domains == NO_BACKOFF_DOMAINS
    # not a Config knob: the re-check ladder is the constant the code reads
    assert CHECK_DELAYS_HOURS == (12, 24, 168, 720)


def test_toml_then_env_precedence(tmp_path):
    p = tmp_path / "cfg.toml"
    p.write_text(
        'BACKOFF_NB_REQ = 99\n'
        'EXCLUDED_PATTERNS = ["%nope%"]\n'
        'NO_BACKOFF_DOMAINS = ["a.org"]\n'
        'DATABASE_URL = "postgres://ignored"\n'  # dead reference key: no-op
    )
    c = load_config(toml_path=str(p), env={})
    assert c.backoff_nb_req == 99
    assert c.excluded_patterns == ("%nope%",)
    assert c.no_backoff_domains == ("a.org",)

    c2 = load_config(
        toml_path=str(p),
        env={
            "SPARK_HYDRA_BACKOFF_NB_REQ": "7",
            "SPARK_HYDRA_NO_BACKOFF_DOMAINS": "b.org, c.org",
            "SPARK_HYDRA_EXCLUDED_PATTERNS": "%x%, 42",
        },
    )
    assert c2.backoff_nb_req == 7  # env beats toml
    assert c2.no_backoff_domains == ("b.org", "c.org")
    assert c2.excluded_patterns == ("%x%", "42")  # a numeric entry stays a str


@pytest.mark.parametrize(
    "line, key",
    [
        ('EXCLUDED_PATTERNS = "%x%"', "EXCLUDED_PATTERNS"),  # str, not list
        ('NO_BACKOFF_DOMAINS = ["a.org", 3]', "NO_BACKOFF_DOMAINS"),
        ('BATCH_SIZE = "5"', "BATCH_SIZE"),
        ("BACKOFF_NB_REQ = true", "BACKOFF_NB_REQ"),  # a bool is not an int
        ("COOL_OFF_PERIOD = 1.5", "COOL_OFF_PERIOD"),
    ],
)
def test_toml_value_of_wrong_type_is_refused(tmp_path, line, key):
    """A mistyped TOML value used to load as is: a bare string of
    patterns iterated into one-letter patterns (NOT LIKE '%' selects
    nothing), a quoted batch size stayed a str."""
    p = tmp_path / "cfg.toml"
    p.write_text(line + "\n")
    with pytest.raises(ValueError, match=key):
        load_config(toml_path=str(p), env={})


def test_config_path_from_environment(tmp_path):
    p = tmp_path / "cfg.toml"
    p.write_text("BATCH_SIZE = 5\n")
    c = load_config(env={"SPARK_HYDRA_CONFIG": str(p)})
    assert c.batch_size == 5


def test_service_threads_config(spark, tmp_path):
    from udata_datalake_service_spark.service import HydraService
    from udata_datalake_service_spark.sinks.lake import Lake

    svc = HydraService(
        spark, Lake(spark, str(tmp_path / "lake")), config=Config(batch_size=3)
    )
    assert svc.config.batch_size == 3


def test_service_crawl_plane_uses_config(spark, tmp_path, catalog_df, checks_df):
    from udata_datalake_service_spark.service import HydraService
    from udata_datalake_service_spark.sinks.lake import Lake
    from pyspark.sql import functions as F

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_app_table(catalog_df, "catalog")
    lake.write_app_table(checks_df, "checks")
    svc = HydraService(
        spark,
        lake,
        config=Config(batch_size=1, excluded_patterns=("%a.org%",)),
    )
    batch = svc.select_crawl_batch().collect()
    assert len(batch) <= 1
    assert all("a.org" not in r["url"] for r in batch)  # pattern honored
    bt = svc.backoff_table()
    assert {"domain", "backoff"} <= set(bt.columns)


def test_service_sql_escape_hatch(spark, tmp_path):
    """HydraService.sql registers app tables, the registry and every
    converted table (t_<md5>) plus caller views, then runs Catalyst SQL."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.service import HydraService
    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    lake.write_table(df, "abc123", min_lines_for_parquet=1)
    lake.register("abc123", {"total_lines": 5}, resource_id="r1", url="https://x/y.csv")

    svc = HydraService(spark, lake)
    got = svc.sql(
        "SELECT ti.url, s.n FROM tables_index ti "
        "JOIN (SELECT COUNT(*) AS n, SUM(v) AS sv FROM t_abc123) s ON TRUE"
    ).collect()[0]
    assert got["url"] == "https://x/y.csv" and got["n"] == 5

    extra = spark.createDataFrame([(1, "x")], "k long, s string")
    assert svc.sql("SELECT COUNT(*) AS c FROM my_view", {"my_view": extra}).collect()[0]["c"] == 1
