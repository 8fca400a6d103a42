"""Seed assembly + domain validation + liveness (reference stages 1-2).

The reference shells out to subfinder and three HTTP services, unions
the results, adds the apex, then probes each host
(/root/reference/break_checker.py:238-405). In replay mode every
source is a table; the union/filter/apex/liveness logic is identical:

* ``union_seed_sources`` — U1: unionByName + suffix filter + distinct
  + apex row (bc:252-316);
* ``host_schemes`` + ``live_hosts`` — J4: the pages table's
  (host, scheme) liveness table, built once per pages table, and the
  seeds' join against it, replacing the HTTP liveness probe
  (bc:376-405);
* ``validate_domain`` — F1: the driver-side scan precondition
  (bc:177-232), DNS check pinned off for hermeticity.
"""

from __future__ import annotations

import re
from typing import List

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import udfs

_LABEL_RE = re.compile(r"^[A-Za-z0-9](?:[A-Za-z0-9\-]{0,61}[A-Za-z0-9])?$")


def validate_domain(domain: str) -> str:
    """IDNA-normalize and validate a scan-scope domain; raises ValueError.

    Rules (bc:177-232): strip scheme/port/www, lowercase, IDNA-encode,
    ≤253 chars, ≥2 labels, alphabetic TLD ≥2 chars, per-label charset.
    """
    d = domain.strip().lower()
    d = re.sub(r"^[a-z][a-z0-9+.-]*://", "", d)
    d = d.split("/", 1)[0].split(":", 1)[0]
    if d.startswith("www."):
        d = d[4:]
    if not d:
        raise ValueError("empty domain")
    try:
        d = d.encode("idna").decode("ascii")
    except UnicodeError as exc:
        raise ValueError(f"IDNA encoding failed: {exc}") from None
    if len(d) > 253:
        raise ValueError("domain too long")
    labels = d.split(".")
    if len(labels) < 2:
        raise ValueError("need at least two labels")
    if len(labels[-1]) < 2 or not labels[-1].isalpha():
        raise ValueError("invalid TLD")
    for lbl in labels:
        if not _LABEL_RE.match(lbl):
            raise ValueError(f"invalid label: {lbl!r}")
    return d


def union_seed_sources(
    spark: SparkSession, sources: List[DataFrame], domain: str
) -> DataFrame:
    """Union host lists from N enumeration sources, in-scope only,
    de-wildcarded, apex always included (bc:252-316)."""
    apex = spark.createDataFrame([(domain,)], "host string")
    unioned = apex
    for src in sources:
        unioned = unioned.unionByName(src.select("host"))
    return (
        unioned.select(F.lower(F.trim("host")).alias("host"))
        .withColumn("host", F.regexp_replace("host", r"^\*\.", ""))
        .filter(
            (F.col("host") == domain) | F.col("host").endswith("." + domain)
        )
        .distinct()
    )


def host_schemes(pages: DataFrame) -> DataFrame:
    """Replay liveness table: (host, scheme) for every host with ≥1
    page, https preferred (bc:348-405).

    The reference probes https before http; in replay a host is "live
    https" if any of its page URLs is https, else "live http". One
    Python pass over every page URL — a caller serving many scans of
    the same pages table builds (and caches) it once.
    """
    return (
        pages.select(
            udfs.url_host(F.col("url")).alias("host"),
            F.when(F.col("url").startswith("https://"), 1)
            .otherwise(0)
            .alias("is_https"),
        )
        .groupBy("host")
        .agg(F.max("is_https").alias("any_https"))
        .select(
            "host",
            F.when(F.col("any_https") == 1, "https").otherwise("http").alias("scheme"),
        )
    )


def live_hosts(seeds: DataFrame, hosts: DataFrame) -> DataFrame:
    """Live seeds: the seed hosts found in a :func:`host_schemes`
    table, with its scheme, sorted by host."""
    return seeds.select("host").join(hosts, "host").orderBy("host")
