"""Page processing: one declarative pass from fetched pages to
(link candidates, contact candidates).

Reproduces the reference's per-page `_process_url` + `extract_data`
(/root/reference/break_checker.py:1352-1444) as column expressions:

* pass 1 — regex sweep over the raw page string (bc:1374-1379);
* pass 2 — regex sweep over the visible text, which finds emails split
  across tags (bc:1381-1383); the pages table's ``text`` column is
  authoritative for this (input_hint byte-identical invariant);
* pass 3 — mailto:/tel: anchors (bc:1385-1395);
* link/script harvesting with canonicalization, asset-skip, and the
  ``.js``/``.mjs``-only rule for scripts (bc:1397-1421);
* JS-fetched URLs: emails only, from the raw content; no phones, no
  link following (bc:1374-1377).

The per-page work is one Arrow-batched ``mapInPandas`` stage
(:func:`_fused_preextract_fn`) that parses each page once; the
surrounding plumbing (decode, when/otherwise masking, explode,
joins) is native Catalyst expressions.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql import types as T

from ..functions import urlnorm


class PreDrops:
    """Exact kept/dropped counters (reference bc:1238-1241) of one
    extraction: dropped counts come pre-aggregated per page (from the
    pre-extraction pass, or the round's own fused stage) and are summed
    per round by an Observation on the round's extracted rows, inside
    whatever action first materializes them (no separate count job).
    The same Observation sums the round's emitted links (``nl``), which
    upper-bounds its enqueue-time candidates. ``get()`` blocks until
    that action completes, then returns [(metric, value), ...]."""

    def __init__(self, obs: Observation) -> None:
        self._obs = obs

    def get(self) -> list[tuple[str, int]]:
        m = self._obs.get
        return [
            ("emails_dropped", int(m["ed"])),
            ("phones_dropped", int(m["pd"])),
        ]

    def candidate_bound(self) -> int:
        """Links emitted this round (≥ its distinct link candidates);
        blocks like :meth:`get`. Not a metrics row."""
        return int(self._obs.get["nl"])


_JS_PATH = r"\.m?js$"


def process_pages(
    fetched: DataFrame,
    scope_host: str,
    default_region: str | None,
    org_domain: str,
) -> Tuple[DataFrame, DataFrame, DataFrame, list]:
    """(link_candidates, contacts, drop_metrics, caches) from fetched rows.

    ``fetched``: (url, depth, html, text) — the frontier joined
    against the pages table (or live-fetched). Returns:

    * link_candidates: (url, host, skey, depth) at depth+1, canonical
      + deduped within each page but not across pages (the crawl's
      frontier build dedups by struct key once), host/struct-key
      precomputed (pure functions of the link url), ready for the seen
      filter;
    * contacts: (kind, identifier, source_url, depth) normalized, org-
      scoped (emails) / region-validated (phones);
    * drops: exact kept/dropped counts (reference counters
      bc:1238-1241) and the round's emitted-link count
      (``drops.candidate_bound()``), observed inside the action that
      materializes contacts (no separate aggregation job; read them
      only after that action);
    * caches: cached intermediate DataFrames — caller unpersists them
      once the round's outputs are materialized.

    r6: one fused mapInPandas stage per round (the same
    :func:`_fused_preextract_fn` the pre-extract pass uses, with depth
    riding through), replacing the chained pandas-UDF pipeline — the
    classic/live rounds carry a single Python stage and the downstream
    candidate build is pure Catalyst. tests/chained_extract.py keeps
    the chained form as the equality reference.
    """
    base = (
        fetched.select("url", "depth", "html", "text")
        .filter(F.col("html").isNotNull() | F.col("text").isNotNull())
        .select(
            "url",
            "depth",
            F.when(F.col("html").isNotNull(), F.decode(F.col("html"), "UTF-8"))
            .otherwise(F.col("text"))
            .alias("_raw"),
            "text",
        )
    )
    depth_field = fetched.schema["depth"]
    enr = base.mapInPandas(
        _fused_preextract_fn(
            scope_host, default_region, org_domain, passthrough=("depth",)
        ),
        schema=_pre_schema(
            (T.StructField("depth", depth_field.dataType, depth_field.nullable),)
        ),
    ).cache()
    drop_obs = Observation()
    observed = enr.observe(
        drop_obs,
        F.coalesce(F.sum("emails_dropped"), F.lit(0)).alias("ed"),
        F.coalesce(F.sum("phones_dropped"), F.lit(0)).alias("pd"),
        F.coalesce(F.sum(F.size("links")), F.lit(0)).alias("nl"),
    )
    link_candidates = observed.select(
        F.explode("links").alias("_l"),
        (F.col("depth") + 1).alias("depth"),
    ).select("_l.url", "_l.host", "_l.skey", "depth")
    contacts = observed.select(
        "url", "depth", F.explode("contacts").alias("_c")
    ).select(
        F.col("_c.kind").alias("kind"),
        F.col("_c.identifier").alias("identifier"),
        F.col("url").alias("source_url"),
        "depth",
    )
    return link_candidates, contacts, PreDrops(drop_obs), [enr]


# --------------------------------------------------------- pre-extraction

_PRE_LINK_T = T.StructType(
    [
        T.StructField("url", T.StringType()),
        # host/skey are pure functions of the link url (url_host /
        # struct_key_str), computed here so the per-round frontier
        # build needs NO Python stage — key_hash stays a JVM
        # xxhash64(skey) projection (operators/seen.with_struct_key)
        T.StructField("host", T.StringType()),
        T.StructField("skey", T.StringType()),
    ]
)

_PRE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("links", T.ArrayType(_PRE_LINK_T)),
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


def _page_links(url: str, hrefs: list, srcs: list, scope_host: str) -> list:
    """A page's canonical, in-scope, non-asset link URLs: its hrefs,
    deduped and sorted, then its ``.js``/``.mjs`` script srcs, deduped
    and sorted (duplicates across the two lists stay), in the
    reference's ``sorted(set(...))`` enqueue order (bc:1397-1421).

    ``canonicalize`` + ``skip_by_path`` run once per distinct
    (stripped href before its first ``#``, whether it has a ``#``) on
    the page: ``canonicalize`` drops the fragment, and the rest of the
    href reaches the result only through that key (equality with the
    unmemoized loop: tests/test_kernel_diff.py)."""
    memo: dict = {}

    def canon(href):
        if not href:
            return None
        pre, hash_, _ = href.strip().partition("#")
        key = (pre, hash_)
        if key not in memo:
            cand = urlnorm.canonicalize(url, href, scope_host)
            memo[key] = None if cand is None or urlnorm.skip_by_path(cand) else cand
        return memo[key]

    keep = {c for c in map(canon, hrefs) if c is not None}
    keep_js = {
        c
        for c in map(canon, srcs)
        if c is not None and c.lower().endswith((".js", ".mjs"))
    }
    return sorted(keep) + sorted(keep_js)


def _fused_preextract_fn(
    scope_host: str,
    default_region: str | None,
    org_domain: str,
    passthrough: tuple = (),
):
    """Whole-page extraction (harvest + sweeps + canonical links +
    contact normalization) as ONE mapInPandas stage.

    Row-for-row identical to the chained plan it replaced
    (page_features → canonical_links ×2 → normalize-contacts, kept in
    tests/chained_extract.py on the straightforward per-page semantics:
    stdlib ``HTMLParser`` harvest, the reference regexes, ``norm_text``
    by definition, one ``canonicalize`` per href). Equality is pinned
    by tests/test_crawl_e2e.py's fused≡chained tests (exact rows,
    including per-page link order) and tests/test_kernel_diff.py.

    On the 2000-page ``replay_bulk`` corpus (4 cores, ``local[4]``) the
    whole stage took 0.70 s, an identity ``mapInPandas`` over the same
    (url, page, text) columns 0.36-0.43 s (0.1-0.15 s of it the scan
    and decode) and an identity ``mapInArrow`` 0.34 s: about half the
    stage is the Python worker round trip, and Arrow batches in place
    of pandas would save at most ~0.1 s of it. Single-threaded, the
    per-page work on those pages is 1.4 s: harvest (links-only scan)
    0.28 s, ``norm_text`` 0.45 s, email sweeps 0.06 s, phone sweeps
    0.16 s, link canonicalization 0.25 s, link host/struct key 0.08 s;
    the rest is contact normalization and row assembly.
    """
    import re as _re
    from urllib.parse import urlparse

    from ..functions import contacts as cfn
    from ..functions import htmlx, textnorm, urlnorm

    js_re = _re.compile(_JS_PATH)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            urls, links_out, contacts_out = [], [], []
            ed_out, pd_out = [], []
            for url, doc, txt in zip(pdf["url"], pdf["_raw"], pdf["text"]):
                # is_js: url_path + rlike semantics (falsy url → null
                # predicate → behaves as False in both consumers)
                is_js = bool(js_re.search(urlparse(url).path or "/")) if url else False
                if doc is None:
                    doc = ""
                hrefs: list = []
                srcs: list = []
                mailtos: list = []
                tels: list = []
                if not is_js and doc:
                    h = htmlx.harvest(doc, collect_text=False)
                    hrefs, srcs = h.hrefs, h.script_srcs
                    for href in hrefs:
                        low = href.strip().lower()
                        if low.startswith("mailto:"):
                            mailtos.extend(cfn.mailto_addresses(href))
                        elif low.startswith("tel:"):
                            tels.extend(cfn.tel_numbers(href))
                if doc:
                    normed = textnorm.norm_text(doc)
                    e1 = cfn.extract_emails(normed)
                    p1 = cfn.extract_phones(normed)
                else:
                    e1, p1 = [], []
                if not is_js and txt:
                    normed_t = textnorm.norm_text(txt)
                    e2 = cfn.extract_emails(normed_t)
                    p2 = cfn.extract_phones(normed_t)
                else:
                    e2, p2 = [], []
                emails_raw = e1 + e2 + mailtos
                phones_raw = [] if is_js else p1 + p2 + tels

                if is_js:
                    links: list = []
                else:
                    links = [
                        {
                            "url": u,
                            "host": (urlparse(u).hostname or "").lower(),
                            "skey": urlnorm.struct_key_str(u),
                        }
                        for u in _page_links(url, hrefs, srcs, scope_host)
                    ]

                kept: list = []
                ed = pdd = 0
                for raw_mail in emails_raw:
                    ident = cfn.normalize_email(raw_mail) if raw_mail else None
                    if ident is not None and cfn.email_org(ident) == org_domain:
                        kept.append({"kind": "email", "identifier": ident})
                    else:
                        ed += 1
                for raw_ph in phones_raw:
                    ident = (
                        cfn.normalize_phone(raw_ph, default_region) if raw_ph else None
                    )
                    if ident is not None:
                        kept.append({"kind": "phone", "identifier": ident})
                    else:
                        pdd += 1

                urls.append(url)
                links_out.append(links)
                contacts_out.append(kept)
                ed_out.append(ed)
                pd_out.append(pdd)
            out = {
                "url": urls,
                "links": links_out,
                "contacts": contacts_out,
                "emails_dropped": pd.Series(ed_out, dtype="int64"),
                "phones_dropped": pd.Series(pd_out, dtype="int64"),
            }
            # passthrough columns ride along unchanged (one output row
            # per input row, in input order)
            for c in passthrough:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return run


def _pre_schema(extra_fields: tuple = ()) -> T.StructType:
    """_PRE_SCHEMA plus caller-supplied passthrough fields."""
    return T.StructType(list(_PRE_SCHEMA.fields) + list(extra_fields))


def preextract_pages(
    pages: DataFrame,
    scope_host: str,
    default_region: str | None,
    org_domain: str,
) -> DataFrame:
    """One extraction pass over the whole pages table → the slim
    per-page table the pre-extract crawl mode joins each round:

        (url, links: array<string>, contacts: array<(kind, identifier)>,
         emails_dropped, phones_dropped)

    Scale rationale: the classic replay loop re-scans the full raw
    pages table every BFS round for the fetch join (depth rounds × the
    whole corpus — at 100 TB that is the dominant non-scaling cost),
    and pays per-round pandas-UDF stage setup. Replay input is static,
    so extraction is paid ONCE in a single embarrassingly-parallel
    pass — the Common-Crawl shape: WARC → extracted link graph →
    iterative BFS over slim rows (~100× smaller than raw pages).
    Per-page outputs are exactly process_pages' (same semantics, same
    filters, same drop counters); tests/test_crawl_e2e.py proves
    mode-for-mode equality of the whole crawl.

    r6: the pass is ONE mapInPandas stage (the raw page crosses the
    Arrow boundary once; see :func:`_fused_preextract_fn`). Bytes→str
    decoding stays in the JVM (``F.decode``) so its replacement-char
    semantics are unchanged."""
    base = (
        pages.select("url", "html", "text")
        .filter(F.col("html").isNotNull() | F.col("text").isNotNull())
        .select(
            "url",
            F.when(F.col("html").isNotNull(), F.decode(F.col("html"), "UTF-8"))
            .otherwise(F.col("text"))
            .alias("_raw"),
            "text",
        )
    )
    return base.mapInPandas(
        _fused_preextract_fn(scope_host, default_region, org_domain),
        schema=_PRE_SCHEMA,
    )


def snippet_windows(
    df: DataFrame,
    text_col: str,
    pattern: str,
    width: int = 20,
    out_col: str = "snippets",
) -> DataFrame:
    """X14: per-match ±``width``-char debug context windows.

    Reproduces the reference's snippet construction exactly
    (break_checker.py:1438-1444): ``text[max(start-20,0):end+20]``
    with newlines replaced by spaces, then the log-time whitespace
    collapse ``" ".join(s.strip().split())`` (bc:1287-1289). Emitted
    as an ``array<struct<match,snippet>>`` column so callers explode
    only when debugging — the column is never computed on the
    non-debug path (lazy projection).
    """
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T

    rx = _re.compile(pattern)

    @F.pandas_udf(
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("match", T.StringType()),
                    T.StructField("snippet", T.StringType()),
                ]
            )
        )
    )
    def _snips(texts):
        out = []
        for t in texts:
            if not t:
                out.append([])
                continue
            rows = []
            for m in rx.finditer(t):
                snip = t[max(m.start() - width, 0): m.end() + width].replace(
                    "\n", " "
                )
                rows.append((m.group(), " ".join(snip.strip().split())))
            out.append(rows)
        return pd.Series(out)

    return df.withColumn(out_col, _snips(F.col(text_col)))


def dedup_contacts(contacts: DataFrame) -> DataFrame:
    """First-discovery-wins dedup, pinned deterministically.

    The reference keeps the first scheduler-race winner
    (bc:1278-1283); the pinned rule is min (depth, source_url) —
    SURVEY.md §7.1.
    """
    return contacts.groupBy("kind", "identifier").agg(
        F.min_by("source_url", F.struct("depth", "source_url")).alias("source_url"),
        F.min("depth").alias("depth"),
    )
