"""Reference extraction for the equality tests: the chained pandas-UDF
form of ``extract.process_pages`` / ``extract.preextract_pages``
(page_features → canonical_links ×2 → contact normalization), built on
the straightforward per-page semantics the fused kernel's fast paths
must reproduce:

* hrefs and script srcs from a full stdlib ``HTMLParser`` pass
  (``htmlx.harvest`` with text collection, not the links-only scan);
* ``norm_text`` as its definition: unescape → decode escapes → NFKC →
  drop category-C characters but ``\\n \\r \\t``, one character at a time;
* the reference's phone pattern as written (``\\+?\\d…``) and the email
  pattern run over every text, with no ``@`` guard;
* ``canonicalize`` called for every href, with no per-page memo.

The ``ref_*`` functions are the scalar references the differential
tests (tests/test_kernel_diff.py) compare each fast path against.
"""

from __future__ import annotations

import html
import re
import sys
import unicodedata
from typing import List, Optional, Tuple
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql import types as T

from breakchecker_spark.functions import contacts as cfn
from breakchecker_spark.functions import htmlx, textnorm, udfs, urlnorm
from breakchecker_spark.operators.extract import _JS_PATH

# Python workers get these UDFs by value, wherever the tests run from.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

REF_PHONE_RE = re.compile(r"\+?\d[\d\s()\-]{6,}\d")
REF_EMAIL_RE = re.compile(cfn.EMAIL_PATTERN)


# ------------------------------------------------------------ scalar refs


def ref_harvest(doc: str) -> Tuple[List[str], List[str]]:
    """(hrefs, script srcs) from a full stdlib HTMLParser pass."""
    h = htmlx.harvest(doc, collect_text=True)
    return h.hrefs, h.script_srcs


def ref_norm_text(s: str) -> str:
    s = unicodedata.normalize("NFKC", textnorm.decode_escapes(html.unescape(s)))
    return "".join(
        ch for ch in s if ch in "\n\r\t" or unicodedata.category(ch)[0] != "C"
    )


def ref_extract_emails(text: str) -> List[str]:
    return REF_EMAIL_RE.findall(text)


def ref_extract_phones(text: str) -> List[str]:
    return REF_PHONE_RE.findall(text)


def ref_normalize_email(raw: str) -> Optional[str]:
    candidate = textnorm.strip_edge_punct(ref_norm_text(unquote(raw.strip()))).lower()
    return candidate if cfn._is_valid_email(candidate) else None


def ref_canonical_links(
    base_url: str, hrefs, scope_host: str, js_only: bool
) -> List[str]:
    """Canonical, in-scope, non-asset links of one page, deduped and
    sorted (``sorted(set(...))`` enqueue order, bc:1403)."""
    keep = set()
    for href in hrefs:
        cand = urlnorm.canonicalize(base_url, href, scope_host)
        if cand is None or urlnorm.skip_by_path(cand):
            continue
        if js_only and not cand.lower().endswith((".js", ".mjs")):
            continue
        keep.add(cand)
    return sorted(keep)


def ref_page_features(doc, txt, js) -> Tuple[list, list, list, list]:
    """(hrefs, script_srcs, emails_raw, phones_raw) of one page: no
    harvest and no phones for .js URLs, no text sweep without text."""
    if doc is None:
        doc = ""
    hrefs: List[str] = []
    srcs: List[str] = []
    mailtos: List[str] = []
    tels: List[str] = []
    if not js and doc:
        hrefs, srcs = ref_harvest(doc)
        for href in hrefs:
            low = href.strip().lower()
            if low.startswith("mailto:"):
                mailtos.extend(cfn.mailto_addresses(href))
            elif low.startswith("tel:"):
                tels.extend(cfn.tel_numbers(href))
    e1: List[str] = []
    p1: List[str] = []
    e2: List[str] = []
    p2: List[str] = []
    if doc:
        normed = ref_norm_text(doc)
        e1, p1 = ref_extract_emails(normed), ref_extract_phones(normed)
    if not js and txt:
        normed_t = ref_norm_text(txt)
        e2, p2 = ref_extract_emails(normed_t), ref_extract_phones(normed_t)
    return hrefs, srcs, e1 + e2 + mailtos, [] if js else p1 + p2 + tels


def ref_contacts(emails_raw, phones_raw, default_region, org_domain):
    """(kept contacts, emails dropped, phones dropped) of one page."""
    kept: list[dict] = []
    ed = pd_ = 0
    for raw in emails_raw if emails_raw is not None else []:
        ident = ref_normalize_email(raw) if raw else None
        if ident is not None and cfn.email_org(ident) == org_domain:
            kept.append({"kind": "email", "identifier": ident})
        else:
            ed += 1
    for raw in phones_raw if phones_raw is not None else []:
        ident = cfn.normalize_phone(raw, default_region) if raw else None
        if ident is not None:
            kept.append({"kind": "phone", "identifier": ident})
        else:
            pd_ += 1
    return kept, ed, pd_


def ref_kernel_row(url, doc, txt, scope_host, default_region, org_domain) -> dict:
    """One row of ``extract._fused_preextract_fn``'s output, with links
    as plain url strings."""
    is_js = bool(re.search(_JS_PATH, urlparse(url).path or "/")) if url else False
    hrefs, srcs, emails_raw, phones_raw = ref_page_features(doc, txt, is_js)
    links = [] if is_js else (
        ref_canonical_links(url, hrefs, scope_host, False)
        + ref_canonical_links(url, srcs, scope_host, True)
    )
    kept, ed, pd_ = ref_contacts(emails_raw, phones_raw, default_region, org_domain)
    return {
        "url": url,
        "links": links,
        "contacts": kept,
        "emails_dropped": ed,
        "phones_dropped": pd_,
    }


# ---------------------------------------------------------- chained plan

PAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("hrefs", T.ArrayType(T.StringType())),
        T.StructField("script_srcs", T.ArrayType(T.StringType())),
        T.StructField("emails_raw", T.ArrayType(T.StringType())),
        T.StructField("phones_raw", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(PAGE_FEATURES_SCHEMA)
def page_features(raw: pd.Series, text: pd.Series, is_js: pd.Series) -> pd.DataFrame:
    rows = [ref_page_features(d, t, j) for d, t, j in zip(raw, text, is_js)]
    return pd.DataFrame(rows, columns=["hrefs", "script_srcs", "emails_raw", "phones_raw"])


def make_canonical_links_udf(scope_host: str, js_only: bool = False):
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def canonical_links(base: pd.Series, links: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [] if hrefs is None else ref_canonical_links(b, hrefs, scope_host, js_only)
                for b, hrefs in zip(base, links)
            ]
        )

    return canonical_links


@F.pandas_udf(T.StringType())
def normalize_email(raw: pd.Series) -> pd.Series:
    return raw.map(lambda e: ref_normalize_email(e) if e else None)


@F.pandas_udf(T.StringType())
def email_org(canonical: pd.Series) -> pd.Series:
    return canonical.map(lambda e: cfn.email_org(e) if e else None)


@F.pandas_udf(T.StringType())
def normalize_phone(raw: pd.Series, region: pd.Series) -> pd.Series:
    return pd.Series(
        [cfn.normalize_phone(r, reg) if r else None for r, reg in zip(raw, region)]
    )


class DropCounters:
    """Kept/dropped counters observed inside the contacts action."""

    def __init__(self, email_obs: Observation, phone_obs: Observation) -> None:
        self._email_obs = email_obs
        self._phone_obs = phone_obs

    def get(self) -> list[tuple[str, int]]:
        return [
            ("emails_dropped", int(self._email_obs.get["value"])),
            ("phones_dropped", int(self._phone_obs.get["value"])),
        ]


def is_js_url(url_col):
    """True when the URL's *path* ends .js/.mjs (bc:1374)."""
    return udfs.url_path(url_col).rlike(_JS_PATH)


def _enrich(src: DataFrame, keep: list[str]) -> DataFrame:
    """(keep..., hrefs, script_srcs, emails_raw, phones_raw, _is_js)
    from (url, html, text) rows."""
    raw_str = F.when(
        F.col("html").isNotNull(), F.decode(F.col("html"), "UTF-8")
    ).otherwise(F.col("text"))
    base = (
        src.filter(F.col("html").isNotNull() | F.col("text").isNotNull())
        .withColumn("_is_js", is_js_url(F.col("url")))
        .withColumn("_raw", raw_str)
    )
    feats = base.withColumn(
        "_pf", page_features(F.col("_raw"), F.col("text"), F.col("_is_js"))
    )
    return feats.select(
        *keep,
        F.col("_pf.hrefs").alias("hrefs"),
        F.col("_pf.script_srcs").alias("script_srcs"),
        F.col("_pf.emails_raw").alias("emails_raw"),
        F.col("_pf.phones_raw").alias("phones_raw"),
        F.col("_is_js"),
    )


def _links(scope_host: str):
    return F.concat(
        make_canonical_links_udf(scope_host, js_only=False)(F.col("url"), F.col("hrefs")),
        make_canonical_links_udf(scope_host, js_only=True)(F.col("url"), F.col("script_srcs")),
    )


def process_pages_chained(
    fetched: DataFrame,
    scope_host: str,
    default_region: str | None,
    org_domain: str,
) -> Tuple[DataFrame, DataFrame, DropCounters, list]:
    """Chained form of ``extract.process_pages``: exploded
    normalize → filter chains with CollectMetrics counters. Its
    link_candidates carry (url, depth) only."""
    enriched = _enrich(fetched, ["url", "depth"]).cache()
    link_candidates = (
        enriched.filter(~F.col("_is_js"))
        .select(
            F.explode(_links(scope_host)).alias("url"),
            (F.col("depth") + 1).alias("depth"),
        )
        .distinct()
    )
    email_rows_c = (
        enriched.select("url", "depth", F.explode("emails_raw").alias("_raw_id"))
        .withColumn("identifier", normalize_email(F.col("_raw_id")))
        .withColumn(
            "_org_ok",
            F.when(
                F.col("identifier").isNotNull(),
                email_org(F.col("identifier")) == F.lit(org_domain),
            ).otherwise(F.lit(False)),
        )
    ).cache()
    phone_rows_c = (
        enriched.select("url", "depth", F.explode("phones_raw").alias("_raw_id"))
        .withColumn(
            "identifier", normalize_phone(F.col("_raw_id"), F.lit(default_region))
        )
    ).cache()
    email_obs, phone_obs = Observation(), Observation()
    email_rows = email_rows_c.observe(
        email_obs,
        F.coalesce(F.sum(F.when(~F.col("_org_ok"), 1).otherwise(0)), F.lit(0)).alias("value"),
    )
    phone_rows = phone_rows_c.observe(
        phone_obs,
        F.coalesce(
            F.sum(F.when(F.col("identifier").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("value"),
    )
    cols = ["identifier", F.col("url").alias("source_url"), "depth"]
    contacts = (
        email_rows.filter(F.col("_org_ok"))
        .select(F.lit("email").alias("kind"), *cols)
        .unionByName(
            phone_rows.filter(F.col("identifier").isNotNull()).select(
                F.lit("phone").alias("kind"), *cols
            )
        )
    )
    caches = [enriched, email_rows_c, phone_rows_c]
    return link_candidates, contacts, DropCounters(email_obs, phone_obs), caches


_NORM_CONTACTS_T = T.StructType(
    [
        T.StructField(
            "contacts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("identifier", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("emails_dropped", T.LongType()),
        T.StructField("phones_dropped", T.LongType()),
    ]
)


def _make_normalize_contacts_udf(default_region: str | None, org_domain: str):
    """Per-page contact normalization + org/region filtering."""

    @F.pandas_udf(_NORM_CONTACTS_T)
    def norm(emails_raw, phones_raw):
        out = [
            ref_contacts(es, ps, default_region, org_domain)
            for es, ps in zip(emails_raw, phones_raw)
        ]
        return pd.DataFrame(out, columns=["contacts", "emails_dropped", "phones_dropped"])

    return norm


def preextract_pages_chained(
    pages: DataFrame,
    scope_host: str,
    default_region: str | None,
    org_domain: str,
) -> DataFrame:
    """Chained form of ``extract.preextract_pages`` (links as plain
    url strings)."""
    enr = _enrich(pages.select("url", "html", "text"), ["url"])
    empty = F.array().cast("array<string>")
    norm_udf = _make_normalize_contacts_udf(default_region, org_domain)
    return enr.select(
        "url",
        F.when(F.col("_is_js"), empty).otherwise(_links(scope_host)).alias("links"),
        norm_udf(F.col("emails_raw"), F.col("phones_raw")).alias("_nc"),
    ).select(
        "url",
        "links",
        F.col("_nc.contacts").alias("contacts"),
        F.col("_nc.emails_dropped").alias("emails_dropped"),
        F.col("_nc.phones_dropped").alias("phones_dropped"),
    )
