"""Live distributed fetch (S6/S8) + net-error classifier (F12) tests.

A real ``http.server`` serves the fixture_web site; ``transform_url``
routes public URLs to it (``/q/<quoted-public-url>``), so the fetcher
exercises genuine HEAD/GET requests, content-type sniffing, attachment
and binary skips, the text-asset fallback (bc:544-561), HTTP errors,
and connection-refused classification (bc:571-604) — then an
end-to-end LIVE crawl is asserted equal to the replay crawl over the
identical content, and the two-strikes dead-host rule (bc:564-568,
803-806) is verified by observing that a dead host's later-round URL
is never fetched.
"""

from __future__ import annotations

import errno
import socket
import ssl
import threading
import urllib.error
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from breakchecker_spark import schemas
from breakchecker_spark.plans.crawl import CrawlConfig, run_crawl
from breakchecker_spark.sources import fetcher
from tests import fixture_web


# --------------------------------------------------------------------------
# local web server: public-url-keyed content
# --------------------------------------------------------------------------

def _site_content():
    """public url → (body bytes, content type, extra headers, status)."""
    site = {}
    for url, html_doc in fixture_web.build_pages().items():
        ct = (
            "application/javascript"
            if url.endswith(".js")
            else "text/html; charset=utf-8"
        )
        site[url] = (html_doc.encode("utf-8"), ct, {}, 200)
    # policy-path extras (not part of the crawl fixture)
    site["https://example.com/whitepaper"] = (
        b"%PDF-1.4 fake",
        "application/pdf",
        {"Content-Disposition": 'attachment; filename="wp.pdf"'},
        200,
    )
    site["https://example.com/logo-img"] = (
        b"\x89PNG\r\n\x1a\n",
        "image/png",
        {},
        200,
    )
    site["https://example.com/notes"] = (
        b"plain notes with owner@example.com",
        "text/plain; charset=utf-8",
        {},
        200,
    )
    site["https://example.com/teapot"] = (b"teapot", "text/html", {}, 418)
    # dead-host round-2 page: must NEVER be fetched once the host is dead
    site["https://dead.example.com/z"] = (
        b"<html><body>zombie@example.com</body></html>",
        "text/html; charset=utf-8",
        {},
        200,
    )
    return site


class _SiteHandler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # quiet
        pass

    def _lookup(self):
        if not self.path.startswith("/q/"):
            return None, None
        public = urllib.parse.unquote(self.path[3:])
        site = self.server.site
        # same mapping as the replay join key: bare-host == root slash
        entry = site.get(public) or site.get(public + "/")
        return public, entry

    def _respond(self, send_body):
        public, entry = self._lookup()
        self.server.requests.append((self.command, public))
        if entry is None:
            self.send_response(404)
            self.send_header("Content-Type", "text/html")
            self.end_headers()
            return
        body, ctype, extra, status = entry
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in extra.items():
            self.send_header(k, v)
        self.end_headers()
        if send_body and status < 400:
            self.wfile.write(body)

    def do_HEAD(self):
        self._respond(send_body=False)

    def do_GET(self):
        self._respond(send_body=True)


@pytest.fixture(scope="module")
def web():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    srv.site = _site_content()
    srv.requests = []  # (method, public_url); GIL-safe appends
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    # a port with no listener → deterministic ECONNREFUSED
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_port = s.getsockname()[1]
    s.close()
    yield srv, srv.server_address[1], dead_port
    srv.shutdown()


def _router(port: int, dead_port: int):
    """transform_url: dead-host x/y → refused port; else the local server."""

    def transform(url: str) -> str:
        if url.startswith("https://dead.example.com/") and not url.endswith("/z"):
            return f"http://127.0.0.1:{dead_port}/"
        return f"http://127.0.0.1:{port}/q/" + urllib.parse.quote(url, safe="")

    return transform


# --------------------------------------------------------------------------
# F12: error classifier
# --------------------------------------------------------------------------

def test_classify_net_error_labels():
    cases = [
        (socket.gaierror(8, "nodename nor servname"), "dns"),
        (ssl.SSLError("handshake"), "tls"),
        (TimeoutError("timed out"), "timeout"),
        (ConnectionRefusedError(errno.ECONNREFUSED, "refused"), "refused"),
        (ConnectionResetError(errno.ECONNRESET, "reset"), "reset"),
        (OSError(errno.ENETUNREACH, "net unreachable"), "unreachable"),
        (OSError(errno.EHOSTUNREACH, "host unreachable"), "unreachable"),
        (OSError(errno.EPIPE, "pipe"), "connect"),
        (ValueError("ERR_CONNECTION_REFUSED at tab"), "refused"),
        (ValueError("ERR_NAME_NOT_RESOLVED"), "dns"),
        (ValueError("operation timed out"), "timeout"),
        (ValueError("mystery"), "other"),
    ]
    for exc, want in cases:
        assert fetcher.classify_net_error(exc) == want, exc
    # urllib wraps transport errors in URLError(reason=...)
    wrapped = urllib.error.URLError(socket.gaierror(8, "x"))
    assert fetcher.classify_net_error(wrapped) == "dns"
    wrapped = urllib.error.URLError(ConnectionRefusedError(errno.ECONNREFUSED, "x"))
    assert fetcher.classify_net_error(wrapped) == "refused"


# --------------------------------------------------------------------------
# S6/S8: distributed fetch policy over a real server
# --------------------------------------------------------------------------

def test_fetch_pages_policy(spark, web):
    srv, port, dead_port = web
    urls = [
        "https://example.com",  # bare host → server's root-slash fallback
        "https://example.com/js/app.js",  # text asset fallback (S8)
        "https://example.com/whitepaper",  # Content-Disposition → attachment
        "https://example.com/logo-img",  # image/png → binary skip
        "https://example.com/notes",  # text/plain → returned as text
        "https://example.com/teapot",  # 418 → http_status
        "https://example.com/nope",  # 404 → http_status
        "https://example.com/media/brochure",  # F2 path skip, no request
        "https://dead.example.com/x",  # ECONNREFUSED → refused
    ]
    frontier = spark.createDataFrame([(u,) for u in urls], "url string")
    out = fetcher.fetch_pages(
        frontier, transform_url=_router(port, dead_port), timeout=10.0
    )
    rows = {r["url"]: r for r in out.collect()}
    assert set(rows) == set(urls)

    home = rows["https://example.com"]
    assert home["error"] is None and home["status"] == 200
    want_html = fixture_web.build_pages()["https://example.com/"].encode("utf-8")
    assert bytes(home["html"]) == want_html
    assert home["text"] == fixture_web.htmlx.page_text(want_html.decode("utf-8"))
    assert home["host"] == "example.com"  # derived when absent

    js = rows["https://example.com/js/app.js"]
    assert js["error"] is None
    assert js["content_type"].startswith("application/javascript")
    assert "js_owner@example.com" in js["text"]

    assert rows["https://example.com/whitepaper"]["error"] == "attachment"
    binary = rows["https://example.com/logo-img"]
    assert binary["error"] == "binary" and binary["html"] is None

    notes = rows["https://example.com/notes"]
    assert notes["error"] is None
    assert notes["text"] == "plain notes with owner@example.com"

    assert rows["https://example.com/teapot"]["error"] == "http_status"
    assert rows["https://example.com/teapot"]["status"] == 418
    assert rows["https://example.com/nope"]["error"] == "http_status"
    assert rows["https://example.com/nope"]["status"] == 404

    skipped = rows["https://example.com/media/brochure"]
    assert skipped["error"] == "skipped_path"
    assert not any("/media/brochure" in (u or "") for _, u in srv.requests)

    assert rows["https://dead.example.com/x"]["error"] == "refused"


def test_dead_hosts_from_errors(spark, web):
    _, port, dead_port = web
    frontier = spark.createDataFrame(
        [
            ("https://dead.example.com/x",),
            ("https://dead.example.com/y",),
            ("https://example.com/notes",),
        ],
        "url string",
    )
    fetched = fetcher.fetch_pages(
        frontier, transform_url=_router(port, dead_port), timeout=10.0
    )
    dead = fetcher.dead_hosts_from_errors(fetched, threshold=2)
    assert [r["host"] for r in dead.collect()] == ["dead.example.com"]
    # one strike is not enough
    one = fetcher.fetch_pages(
        spark.createDataFrame([("https://dead.example.com/x",)], "url string"),
        transform_url=_router(port, dead_port),
        timeout=10.0,
    )
    assert fetcher.dead_hosts_from_errors(one, threshold=2).count() == 0


# --------------------------------------------------------------------------
# end-to-end: LIVE crawl over HTTP == replay crawl over the pages table
# --------------------------------------------------------------------------

def test_live_crawl_equals_replay(spark, web):
    srv, port, dead_port = web
    pages_df = spark.createDataFrame(
        fixture_web.pages_rows(), schema=schemas.PAGES
    )
    seeds_df = spark.createDataFrame(fixture_web.SEEDS, schema=schemas.SEEDS)
    cfg = dict(scope_host=fixture_web.SCOPE, max_depth=3, use_bloom=True,
               bloom_parts=4, bloom_expected_per_part=1000)

    replay = run_crawl(spark, seeds_df, pages_df, CrawlConfig(**cfg))

    srv.requests.clear()
    live = run_crawl(
        spark,
        seeds_df,
        None,
        CrawlConfig(**cfg),
        fetcher=lambda df: fetcher.fetch_pages(
            df, transform_url=_router(port, dead_port), timeout=10.0
        ),
    )

    def visited(res):
        return {
            (r["url"], r["depth"])
            for r in res.url_seen.select("url", "depth").collect()
        }

    def contact_set(res):
        return {
            (r["kind"], r["identifier"], r["source_url"], r["depth"])
            for r in res.contacts.collect()
        }

    assert visited(live) == visited(replay)
    assert contact_set(live) == contact_set(replay)
    # scope filter holds on the wire: out-of-scope host never requested
    assert not any("outside.org" in (u or "") for _, u in srv.requests)
    # depth gate holds on the wire: deep4 is beyond max_depth
    assert not any("/deep4" in (u or "") for _, u in srv.requests)


def test_live_crawl_dead_host_two_strikes(spark, web):
    """Two refused fetches in round 1 → the host's round-2 URL is never hit.

    dead.example.com/{x,y} route to a listener-less port (refused, two
    strikes, bc:803-806); /z routes to the REAL server and carries a
    unique in-org email — if the dead-host anti-join failed, the crawl
    would fetch it and 'zombie@example.com' would appear in contacts.
    """
    srv, port, dead_port = web
    html = (
        "<html><body>"
        '<a href="https://dead.example.com/x">x</a>'
        '<a href="https://dead.example.com/y">y</a>'
        '<a href="/next">n</a>'
        "<p>root@example.com</p></body></html>"
    )
    next_html = (
        '<html><body><a href="https://dead.example.com/z">z</a></body></html>'
    )
    srv.site["https://a.example.com/"] = (
        html.encode(), "text/html; charset=utf-8", {}, 200
    )
    srv.site["https://a.example.com/next"] = (
        next_html.encode(), "text/html; charset=utf-8", {}, 200
    )
    srv.requests.clear()

    seeds_df = spark.createDataFrame(
        [("a.example.com", "https")], schema=schemas.SEEDS
    )
    res = run_crawl(
        spark,
        seeds_df,
        None,
        CrawlConfig(scope_host="example.com", max_depth=3, use_bloom=False),
        fetcher=lambda df: fetcher.fetch_pages(
            df, transform_url=_router(port, dead_port), timeout=10.0
        ),
    )
    visited = {r["url"] for r in res.url_seen.select("url").collect()}
    assert "https://dead.example.com/x" in visited
    assert "https://dead.example.com/y" in visited
    idents = {r["identifier"] for r in res.contacts.collect()}
    assert "root@example.com" in idents
    assert "zombie@example.com" not in idents
    assert not any((u or "").endswith("/z") for _, u in srv.requests)


def test_cli_live_mode(spark, web, tmp_path, monkeypatch):
    """`--live`: scheme probe (https→http fallback) + live crawl + report.

    blog.example.com serves only http (its https probe 404s), so the
    reference's choose_scheme fallback is exercised on the wire; the
    routing into the local server is injected by monkeypatching the
    fetcher module's fetch_pages (probe_live_hosts resolves it at call
    time), which is exactly the proxy seam a production mirror uses.
    """
    import json

    from breakchecker_spark import cli
    from breakchecker_spark.sources import fetcher as fmod

    srv, port, dead_port = web
    srv.site["http://blog.example.com/"] = (
        b'<html><body><a href="/post1">p1</a></body></html>',
        "text/html; charset=utf-8",
        {},
        200,
    )
    route = _router(port, dead_port)
    real_fetch = fmod.fetch_pages

    def routed_fetch(df, **kw):
        kw.pop("transform_url", None)
        return real_fetch(df, transform_url=route, **kw)

    monkeypatch.setattr(fmod, "fetch_pages", routed_fetch)

    seeds_path = str(tmp_path / "seeds")
    spark.createDataFrame(
        [("example.com",), ("blog.example.com",), ("gone.example.com",)],
        "host string",
    ).write.parquet(seeds_path)
    out = str(tmp_path / "report.json")

    def gone_requests():
        return {
            scheme: sum(
                1 for _, u in srv.requests
                if (u or "").rstrip("/") == f"{scheme}://gone.example.com"
            )
            for scheme in ("https", "http")
        }

    srv.requests.clear()
    rc = cli.main(
        ["--domain", "example.com", "--live", "--seeds", seeds_path,
         "--depth", "2", "--output", out]
    )
    assert rc == 0
    in_scan = gone_requests()
    # each scheme's probe of the unreachable seed ran exactly once: the
    # scan made as many requests per scheme as one direct fetch of its
    # roots does (no re-evaluated https pass, no re-run seed plan)
    srv.requests.clear()
    roots = spark.createDataFrame(
        [("https://gone.example.com",), ("http://gone.example.com",)], "url string"
    )
    routed_fetch(roots).collect()
    direct = gone_requests()
    assert direct["https"] > 0 and direct["http"] > 0
    assert in_scan == direct
    rep = json.load(open(out))
    emails = {e["email"] for e in rep["emails"]}
    assert "info@example.com" in emails
    # the http-only host was crawled via the fallback scheme
    sources = {e["source"] for e in rep["emails"]}
    assert any(u.startswith("http://blog.example.com") for u in sources)
    # the doubly-unreachable seed was dropped by the probe
    assert "gone.example.com" not in rep["subdomains"]


def test_live_mode_rejects_pre_extract(spark):
    seeds_df = spark.createDataFrame(
        [("a.example.com", "https")], schema=schemas.SEEDS
    )
    with pytest.raises(ValueError, match="classic mode"):
        run_crawl(
            spark,
            seeds_df,
            None,
            CrawlConfig(scope_host="a.example.com", pre_extract=True),
            fetcher=lambda df: df,
        )
    with pytest.raises(ValueError, match="pages table or a fetcher"):
        run_crawl(
            spark,
            seeds_df,
            None,
            CrawlConfig(scope_host="a.example.com"),
        )
