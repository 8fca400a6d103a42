"""Streaming replay, report sinks, seed assembly, and CLI tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from breakchecker_spark import schemas
from breakchecker_spark.operators import breach
from breakchecker_spark.plans import report
from breakchecker_spark.sources import seeds as seeds_mod
from breakchecker_spark.streaming import replay
from tests import fixture_web


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages")
    spark.createDataFrame(fixture_web.pages_rows(), schema=schemas.PAGES).repartition(
        4
    ).write.parquet(path)
    return path


# ------------------------------------------------------------ streaming


def test_stream_extract_equals_batch(spark, pages_path, tmp_path):
    out = str(tmp_path / "contacts")
    ckpt = str(tmp_path / "ckpt")
    q = replay.stream_extract_contacts(
        spark, pages_path, out, ckpt,
        scope_host=fixture_web.SCOPE, default_region=None, org_domain="example.com",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)

    from breakchecker_spark.operators import extract

    batch = spark.read.parquet(pages_path).withColumn("depth", F.lit(0))
    _, expected, _, _ = extract.process_pages(
        batch.select("url", "depth", "html", "text"),
        fixture_web.SCOPE, None, "example.com",
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_stream_windowed_counts_shape(spark, pages_path, tmp_path):
    stream = replay.stream_pages(spark, pages_path)
    agg = replay.windowed_contact_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "wc_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with a static
    # corpus the final watermark leaves the last window open — shape
    # and schema are what this asserts, batch equivalence is covered
    # by the events_tumbling_window oracle query.
    got = spark.sql("select * from wincounts")
    assert got.columns == ["wstart", "wend", "lang", "n_pages"]


# --------------------------------------------------------------- report


@pytest.fixture(scope="module")
def crawl_result(spark, pages_path):
    from breakchecker_spark.plans.crawl import CrawlConfig, run_crawl

    seeds = spark.createDataFrame(fixture_web.SEEDS, schema=schemas.SEEDS)
    pages = spark.read.parquet(pages_path)
    return run_crawl(
        spark, seeds, pages,
        CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=2, use_bloom=False),
    )


def test_report_roundtrip(spark, crawl_result, tmp_path):
    db = spark.createDataFrame(
        [("info@example.com", "MegaBreach"), ("info@example.com", "OtherLeak"),
         ("2125550123", "PhoneLeak")],
        schema=schemas.BREACH_DB,
    )
    contacts = breach.match_breaches(crawl_result.contacts, db)
    rep = report.build_report(
        "example.com",
        crawl_result,
        contacts,
        scan_start="2025-01-01 00:00:00 UTC",
        scan_end="2025-01-01 00:01:00 UTC",
        scan_duration=60.0,
    )
    assert rep["scan_domain"] == "example.com"
    assert rep["scan_start"] == "2025-01-01 00:00:00 UTC"
    assert rep["scan_end"] == "2025-01-01 00:01:00 UTC"
    assert rep["scan_duration"] == 60.0
    # reference summary key order (break_checker.py:1613-1622)
    assert list(rep["summary"]) == [
        "num_subdomains", "num_endpoints", "num_emails", "num_phones",
        "num_breached_emails", "num_breached_phones",
        "emails_dropped", "phones_dropped",
    ]
    assert rep["summary"]["num_endpoints"] == crawl_result.summary["num_endpoints"]
    assert rep["summary"]["num_breached_emails"] == 1
    assert rep["summary"]["num_breached_phones"] == 1
    assert "blog.example.com" in rep["subdomains"]
    assert rep["subdomains"] == crawl_result.subdomains
    # drop counters come from the run's driver-side totals and equal
    # the metrics table's per-round sums
    sums = {
        r["metric"]: r["v"]
        for r in crawl_result.metrics.groupBy("metric")
        .agg(F.sum("value").alias("v"))
        .collect()
    }
    for m in ("emails_dropped", "phones_dropped"):
        assert rep["summary"][m] == sums[m] == crawl_result.summary[m]
    assert rep["summary"]["emails_dropped"] + rep["summary"]["phones_dropped"] > 0
    emails = {e["email"]: e for e in rep["emails"]}
    assert emails["info@example.com"]["breaches"] == ["MegaBreach", "OtherLeak"]

    for fmt, check in (("json", "\"scan_domain\""), ("csv", "type,value,source"), ("md", "| metric |")):
        p = str(tmp_path / f"r.{fmt}")
        report.save(rep, p, fmt)
        content = open(p).read()
        assert check in content
    csv_content = open(str(tmp_path / "r.csv")).read()
    # scan timing prelude rows (break_checker.py:1643-1650)
    assert csv_content.startswith("scan_start,2025-01-01 00:00:00 UTC")
    assert "scan_end,2025-01-01 00:01:00 UTC" in csv_content
    assert "scan_duration,60.0" in csv_content
    md_content = open(str(tmp_path / "r.md")).read()
    assert "Start: 2025-01-01 00:00:00 UTC" in md_content
    assert "Duration: 60.0" in md_content
    loaded = json.loads(open(str(tmp_path / "r.json")).read())
    assert loaded["summary"]["num_emails"] == rep["summary"]["num_emails"]


# ---------------------------------------------------------------- seeds


def test_validate_domain():
    assert seeds_mod.validate_domain("https://WWW.Example.COM/path") == "example.com"
    assert seeds_mod.validate_domain("sub.example.co.uk:8080") == "sub.example.co.uk"
    for bad in ["", "nolabels", "x.c", "bad_char.com", "-x.com", "x.123"]:
        with pytest.raises(ValueError):
            seeds_mod.validate_domain(bad)


def test_union_seed_sources_and_liveness(spark, pages_path):
    s1 = spark.createDataFrame([("blog.example.com",), ("*.shop.example.com",)], "host string")
    s2 = spark.createDataFrame([("BLOG.example.com",), ("evil.org",)], "host string")
    merged = seeds_mod.union_seed_sources(spark, [s1, s2], "example.com")
    hosts = {r["host"] for r in merged.collect()}
    assert hosts == {"example.com", "blog.example.com", "shop.example.com"}

    pages = spark.read.parquet(pages_path)
    live = seeds_mod.live_hosts(merged, seeds_mod.host_schemes(pages))
    schemes = {r["host"]: r["scheme"] for r in live.collect()}
    assert schemes["example.com"] == "https"
    assert schemes["blog.example.com"] == "http"  # only http pages exist
    assert schemes["shop.example.com"] == "https"


# ------------------------------------------------------------------ CLI


def test_cli_end_to_end(spark, pages_path, tmp_path):
    from breakchecker_spark import cli

    out = str(tmp_path / "report.json")
    sink = str(tmp_path / "contacts_sink")
    rc = cli.main(
        [
            "--domain", "example.com",
            "--pages", pages_path,
            "--depth", "2",
            "--checkpoint", str(tmp_path / "ck"),
            "--output", out,
            "--fmt", "json",
            "--contacts-sink", sink,
        ]
    )
    assert rc == 0
    rep = json.loads(open(out).read())
    assert rep["scan_domain"] == "example.com"
    assert rep["scan_start"] and rep["scan_end"] and rep["scan_duration"] > 0
    assert rep["summary"]["num_emails"] > 0
    assert any(e["email"] == "info@example.com" for e in rep["emails"])
    assert os.path.exists(os.path.join(sink, "_SUCCESS"))


def test_cli_rejects_bad_domain(pages_path):
    from breakchecker_spark import cli

    with pytest.raises(ValueError):
        cli.main(["--domain", "not_a_domain", "--pages", pages_path])


def test_cli_rejects_resume_without_checkpoint(capsys):
    from breakchecker_spark import cli

    with pytest.raises(SystemExit):
        cli.main(["--domain", "example.com", "--pages", "/tmp/x", "--resume"])
    assert "--checkpoint" in capsys.readouterr().err
