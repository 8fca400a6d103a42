"""Seeded inputs for the crawl-engine benchmark, with their ground truth.

Every table is a pure function of ``(seed, size arguments)``: the same
seed gives the same rows.  The engine only ever sees the parquet tables
written here; the ground truth (visited set, depths, contacts, breach
lists) stays on the benchmark side for the output checks.

File layout is a seeded shuffle of the rows over a few equal files, so
no file holds all link-rich pages and the layout never follows
out-degree or generation order.
"""

from __future__ import annotations

import datetime
import json
import os
import random
from collections import deque
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
BREACH_ARROW = pa.schema([("identifier", pa.string()), ("breach", pa.string())])

_TS0 = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
_WORDS = (
    "crawl frontier spark lorem ipsum dolor amet page section archive news "
    "report service product support about team history office market"
).split()
_BREACHES = [f"Breach{k:02d}" for k in range(12)]


@dataclass
class Page:
    """One generated page: what it links to and which identifiers it shows."""

    url: str
    links: list[str] = field(default_factory=list)  # canonical in-scope targets
    extra_hrefs: list[str] = field(default_factory=list)  # dups, off-scope
    emails: list[str] = field(default_factory=list)  # kept, shown in text
    mailtos: list[str] = field(default_factory=list)  # kept, mailto: hrefs
    phones: list[tuple[str, str]] = field(default_factory=list)  # (shown, normal)
    junk: list[str] = field(default_factory=list)  # dropped by extraction
    filler: list[int] = field(default_factory=list)


@dataclass
class Web:
    """A generated crawl scope: its pages and how to seed a crawl of it."""

    scope: str
    seed_host: str
    pages: dict[str, Page]

    @property
    def seed_url(self) -> str:
        return f"https://{self.seed_host}"

    @property
    def root_url(self) -> str:
        return f"https://{self.seed_host}/"


def _filler_blocks(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """``n`` distinct ~0.7 KB markup blocks and their visible text.

    Pages pick from this pool, so a heavy page costs a join, not a
    render; the markup has no digit runs or '@', so it adds extraction
    work but no identifiers."""
    out = []
    for b in range(n):
        words = " ".join(rng.choice(_WORDS) for _ in range(40))
        items = [f"item {rng.choice(_WORDS)} {rng.choice(_WORDS)}" for _ in range(6)]
        html = (
            f'<div class="s{b % 7}"><h3>Section {b}</h3><p>{words}'
            f' <a href="#frag{b}">anchor</a> &amp; entity &#x2014;</p><ul>'
            + "".join(f"<li>{it}</li>" for it in items)
            + "</ul></div>"
        )
        text = f"Section {b} {words} anchor & entity — " + " ".join(items)
        out.append((html, text))
    return out


def render(page: Page, blocks: list[tuple[str, str]]) -> tuple[str, str]:
    """(html, text) of a page; text is its visible text."""
    html = [f"<html><head><title>{page.url}</title></head><body><nav>"]
    text = [page.url]
    for k, href in enumerate(page.links + page.extra_hrefs):
        html.append(f'<a href="{href}">link {k}</a>')
        text.append(f"link {k}")
    for addr in page.mailtos:
        html.append(f'<a href="mailto:{addr}">write to us</a>')
        text.append("write to us")
    html.append("</nav><main>")
    for shown in page.emails + [p for p, _ in page.phones] + page.junk:
        html.append(f"<p>contact {shown} today</p>")
        text.append(f"contact {shown} today")
    for b in page.filler:
        html.append(blocks[b][0])
        text.append(blocks[b][1])
    html.append("</main></body></html>")
    return "".join(html), " ".join(text)


def _phone(rng: random.Random) -> tuple[str, str]:
    """A Greek E.164 number as shown on a page and as the engine keys it."""
    a = f"21{rng.randrange(10)}"
    b = f"{rng.randrange(1000):03d}"
    c = f"{rng.randrange(10000):04d}"
    return f"+30 {a} {b} {c}", a + b + c


def _junk(rng: random.Random) -> str:
    """An identifier extraction finds and then drops."""
    if rng.random() < 0.5:
        return f"{rng.choice(_WORDS)}{rng.randrange(1000)}@gmail.com"
    return f"+1 555 {rng.randrange(10000):04d}"


def write_pages(webs: list[Web], blocks, path: str, seed: int, files: int) -> int:
    """Render every page of ``webs`` into ``files`` parquet files, rows
    dealt by a seeded shuffle.  Returns the row count."""
    rows = [p for w in webs for p in w.pages.values()]
    random.Random(seed ^ 0x5EED).shuffle(rows)
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // files)
    for f in range(files):
        chunk = rows[f * per : (f + 1) * per]
        if not chunk:
            continue
        rendered = [render(p, blocks) for p in chunk]
        table = pa.table(
            {
                "url": [p.url for p in chunk],
                "warc_ts": [_TS0 + datetime.timedelta(seconds=i) for i in range(len(chunk))],
                "html": [h.encode("utf-8") for h, _ in rendered],
                "text": [t for _, t in rendered],
                "lang": ["el" if i % 5 == 0 else "en" for i in range(len(chunk))],
            },
            schema=PAGES_ARROW,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
    return len(rows)


# ----------------------------------------------------------- replay_bulk


def bulk_web(seed: int, n_pages: int, filler_blocks: int) -> tuple[Web, list]:
    """A Common-Crawl-style web under one org: a random three-level tree
    (so a crawl takes few rounds and extraction dominates it), cross
    links, dead links, tracking-parameter duplicates, off-scope links and
    a skewed host mix (one host holds ~30% of pages).

    Returns the web and the filler block pool its pages use."""
    rng = random.Random(seed)
    org = "bulkweb.gr"
    hosts = [f"h{k}.{org}" for k in range(16)]
    weights = [30] + [70 / 15] * 15
    ids = list(range(1, n_pages))
    rng.shuffle(ids)  # page numbers say nothing about depth
    l1 = max(4, round(n_pages**0.5))
    levels = [[0], ids[:l1], ids[l1:]]
    url = {0: f"https://{hosts[0]}/"}
    for i in ids:
        url[i] = f"https://{rng.choices(hosts, weights)[0]}/p{i}"
    pages = {url[i]: Page(url[i]) for i in url}
    for lvl in (1, 2):
        for i in levels[lvl]:
            pages[url[rng.choice(levels[lvl - 1])]].links.append(url[i])
    every = list(url.values())
    shallow = {url[i] for i in levels[0] + levels[1]}
    for k, p in enumerate(pages.values()):
        p.links += rng.sample(every, 2)  # cross links: depths come from BFS
        if p.url in shallow and rng.random() < 0.2:
            p.links.append(f"https://{rng.choice(hosts)}/gone{k}")  # dead link
        if p.links and rng.random() < 0.15:
            p.extra_hrefs.append(p.links[0] + f"?utm_source=bench&gclid=g{k}")
        if rng.random() < 0.1:
            p.extra_hrefs.append(f"https://elsewhere.org/x{k}")
        p.extra_hrefs.append(url[0])  # back link to the seed page
        if rng.random() < 0.3:
            p.emails.append(f"user{k}@{org}")
        if rng.random() < 0.05:
            p.emails.append(f"info@{org}")  # site-wide: first discovery wins
        if rng.random() < 0.05:
            p.mailtos.append(f"sales{k}@{org}")
        if rng.random() < 0.2:
            p.phones.append(_phone(rng))
        if rng.random() < 0.1:
            p.junk.append(_junk(rng))
        p.filler = [rng.randrange(64) for _ in range(filler_blocks)]
    return Web(org, hosts[0], pages), _filler_blocks(rng, 64)


def expected_crawl(web: Web, max_depth: int) -> tuple[dict, set]:
    """Ground truth of an unbudgeted crawl of ``web`` from its seed.

    Returns ({visited url: depth}, {(kind, identifier, source_url, depth)})
    — the level-synchronous BFS the engine implements, with contacts
    deduplicated to their minimum (depth, source url)."""
    depth = {web.root_url: 0}
    queue = deque([web.root_url])
    while queue:
        u = queue.popleft()
        if depth[u] >= max_depth or u not in web.pages:
            continue
        for v in web.pages[u].links:
            if v not in depth:
                depth[v] = depth[u] + 1
                queue.append(v)
    visited = {web.seed_url if u == web.root_url else u: d for u, d in depth.items()}
    best: dict[tuple[str, str], tuple[int, str]] = {}
    for u, d in depth.items():
        page = web.pages.get(u)
        if page is None:
            continue
        src = web.seed_url if u == web.root_url else u
        ids = [("email", e) for e in page.emails + page.mailtos]
        ids += [("phone", norm) for _, norm in page.phones]
        for key in ids:
            if key not in best or (d, src) < best[key]:
                best[key] = (d, src)
    contacts = {(k, i, src, d) for (k, i), (d, src) in best.items()}
    return visited, contacts


# --------------------------------------------------------- scan_requests


def scan_sites(seed: int, n_sites: int) -> tuple[Web, list]:
    """Small multi-subdomain sites of one shape: an apex home page
    linking to four apex pages and three subdomain home pages, each with
    five pages, some of which link one level deeper; every page
    carries nav back-links to the apex and its own host root.  The link
    graph is a tree plus back-links to pages seen earlier, so per-host
    budgets change the round count, never a depth.  One shape keeps the
    round count, the main cost of a scan, and the pages a scan visits the
    same across seeds."""
    rng = random.Random(seed * 7919 + 1)
    webs = []
    for s in range(n_sites):
        domain = f"site{s}.gr"
        apex = f"https://{domain}/"
        pages = {apex: Page(apex)}
        for k in range(4):
            u = f"https://{domain}/about{k}"
            pages[apex].links.append(u)
            pages[u] = Page(u)
        for sub in rng.sample(["www", "blog", "shop", "docs", "news"], 3):
            root = f"https://{sub}.{domain}/"
            pages[apex].links.append(root)
            pages[root] = Page(root)
            for k in range(5):
                u = f"https://{sub}.{domain}/a{k}"
                pages[root].links.append(u)
                pages[u] = Page(u)
                if rng.random() < 0.3:
                    v = f"https://{sub}.{domain}/a{k}/b0"
                    pages[u].links.append(v)
                    pages[v] = Page(v)
        for k, p in enumerate(pages.values()):
            host_root = "/".join(p.url.split("/", 3)[:3]) + "/"
            p.extra_hrefs += [apex, host_root]
            if rng.random() < 0.1:
                p.extra_hrefs.append(f"https://elsewhere.org/s{s}x{k}")
            if rng.random() < 0.35:
                p.emails.append(f"{rng.choice(_WORDS)}{k}@{domain}")
            if rng.random() < 0.1:
                p.emails.append(f"info@{domain}")
            if rng.random() < 0.05:
                p.mailtos.append(f"press{k}@{domain}")
            if rng.random() < 0.25:
                p.phones.append(_phone(rng))
            if rng.random() < 0.15:
                p.junk.append(_junk(rng))
        webs.append(Web(domain, domain, pages))
    return webs, _filler_blocks(rng, 16)


def breach_table(seed: int, webs: list[Web]) -> dict[str, list[str]]:
    """identifier -> breach names (with duplicate pairs) for about half of
    the identifiers the sites show, plus identifiers no site shows."""
    rng = random.Random(seed * 31 + 7)
    ids = sorted(
        {e for w in webs for p in w.pages.values() for e in p.emails + p.mailtos}
        | {n for w in webs for p in w.pages.values() for _, n in p.phones}
    )
    table: dict[str, list[str]] = {}
    for ident in ids:
        if rng.random() < 0.5:
            names = rng.sample(_BREACHES, rng.randint(1, 3))
            table[ident] = names + names[:1]  # a duplicate pair
    for k in range(200):
        table[f"ghost{k}@nowhere.example"] = [rng.choice(_BREACHES)]
    return table


def write_breaches(table: dict[str, list[str]], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pairs = [(i, b) for i, names in sorted(table.items()) for b in names]
    pq.write_table(
        pa.table(
            {"identifier": [i for i, _ in pairs], "breach": [b for _, b in pairs]},
            schema=BREACH_ARROW,
        ),
        os.path.join(path, "part-000.parquet"),
    )


# Request kinds repeat in this order, so every run, whatever its seed,
# sends the same mix: three in five scans carry a per-host budget, and
# the first two (all a short run times) do.
_BUDGET_PATTERN = (3, 3, None, 3, None)


def scan_requests(seed: int, n_sites: int, n: int) -> list[dict]:
    """The scan request sequence: a seeded site per request, depth 1, a
    per-host budget on the requests the pattern marks.  Site 0 is kept
    out of it for the untimed warm-up scan."""
    rng = random.Random(seed * 104729 + 3)
    out = []
    for k in range(n):
        req = {"domain": f"site{rng.randrange(1, n_sites)}.gr", "depth": 1}
        if _BUDGET_PATTERN[k % len(_BUDGET_PATTERN)] is not None:
            req["budget"] = _BUDGET_PATTERN[k % len(_BUDGET_PATTERN)]
        out.append(req)
    return out


# -------------------------------------------------------- operator_suite

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "matte"]
_NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "cable"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def suite_tables(seed: int, scale: float, out_dir: str) -> None:
    """The ten tables the operator queries read (TPC-H-style star schema,
    an event stream, a document corpus with near-duplicates and labelled
    embeddings), ``scale`` = 1.0 giving 60k lineitem rows."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_ev, n_docs, n_vec = int(15000 * scale), int(10000 * scale), int(500 * scale), 500
    n_li = 4 * n_ord
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": pa.array(_REGIONS, s),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(
                [f"{c} {n}" for c, n in zip(rng.choice(_COLORS, n_part), rng.choice(_NOUNS, n_part))], s
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s),
        },
    }
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2), f64),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2), f64),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li), pa.timestamp("us")),
    }
    secs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev), i64),
        "event_type": pa.array(rng.choice(_EVENTS, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01, f64),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)], s),
    }
    texts: list[str] = []
    for k in range(n_docs):
        if k > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")  # near-duplicate
        else:
            texts.append(" ".join(rng.choice(_DOC_VOCAB, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=[0.43, 0.15, 0.15, 0.13, 0.14]), s),
        "source": pa.array([f"src{k % 20}" for k in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.88, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
