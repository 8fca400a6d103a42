"""Thin REST wrapper (reference S12: breakservice Django API).

The reference exposes ``POST /api/scan/`` with a JSON body
``{"domain": ..., "depth": ...}`` and returns the shaped report
(/root/reference/breakservice/api/views.py:19-112). This stdlib
``http.server`` equivalent shells the same engine path the CLI uses —
per SURVEY.md §2.1 the API is deliberately a thin wrapper around the
spark-submit-able entry, not part of the engine.

    python -m breakchecker_spark.api --pages /data/pages --port 8008
    curl -X POST localhost:8008/api/scan/ \
         -d '{"domain": "example.com", "depth": 2}'

Validation mirrors the reference's view: invalid domain → 400 with an
error body; unknown route → 404. The Spark session is created once and
reused across requests (the reference blocks its worker per scan,
views.py:60-68 — same model).
"""

from __future__ import annotations

import argparse
import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def make_handler(runner):
    class ScanHandler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            if self.path.rstrip("/") != "/api/scan":
                self._reply(404, {"error": "not found"})
                return
            try:
                length = int(self.headers.get("Content-Length", "0"))
                payload = json.loads(self.rfile.read(length) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._reply(400, {"error": "invalid JSON body"})
                return
            domain = payload.get("domain")
            if not domain:
                self._reply(400, {"error": "missing 'domain'"})
                return
            try:
                report = runner(
                    domain,
                    int(payload.get("depth", 3)),
                    payload.get("budget"),
                    bool(payload.get("pre_extract", False)),
                )
            except ValueError as exc:  # domain validation (views.py:41)
                self._reply(400, {"error": str(exc)})
                return
            self._reply(200, report)

    return ScanHandler


def make_runner(pages_path: str, breach_db_path: str | None = None):
    """Engine closure shared across requests."""
    from pyspark.sql import functions as F

    from .operators import breach as breach_op
    from .plans import report as report_mod
    from .plans.crawl import CrawlConfig, run_crawl
    from .session import get_spark
    from .sources import seeds as seeds_mod

    spark = get_spark(app_name="breakchecker_api")
    pages = spark.read.parquet(pages_path).cache()
    # the pages table is fixed for the runner's lifetime: its liveness
    # table is built once, not per request
    hosts = seeds_mod.host_schemes(pages).cache()
    breach_db = (
        spark.read.parquet(breach_db_path) if breach_db_path else None
    )

    def run(
        domain: str, depth: int, budget: int | None, pre_extract: bool = False
    ) -> dict:
        import datetime
        import time as time_mod

        ts_format = "%Y-%m-%d %H:%M:%S %Z"  # break_checker.py:1814
        start_time = time_mod.time()
        start_dt = datetime.datetime.now(datetime.timezone.utc)
        domain = seeds_mod.validate_domain(domain)
        seeds = seeds_mod.live_hosts(
            seeds_mod.union_seed_sources(spark, [], domain), hosts
        )
        result = run_crawl(
            spark,
            seeds,
            pages,
            CrawlConfig(
                scope_host=domain,
                max_depth=depth,
                host_budget=budget,
                # replay-scale mode on request: one extraction pass +
                # slim per-round joins (output-identical)
                pre_extract=pre_extract,
            ),
        )
        contacts = result.contacts
        if breach_db is not None:
            contacts = breach_op.match_breaches(contacts, breach_db)
        else:
            contacts = contacts.withColumn(
                "breaches", F.array().cast("array<string>")
            )
        end_dt = datetime.datetime.now(datetime.timezone.utc)
        return report_mod.build_report(
            domain,
            result,
            contacts,
            scan_start=start_dt.strftime(ts_format),
            scan_end=end_dt.strftime(ts_format),
            scan_duration=time_mod.time() - start_time,
        )

    return run


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="breakchecker-api")
    p.add_argument("--pages", required=True)
    p.add_argument("--breach-db")
    p.add_argument("--port", type=int, default=8008)
    p.add_argument("--host", default="127.0.0.1")
    args = p.parse_args(argv)
    server = ThreadingHTTPServer(
        (args.host, args.port), make_handler(make_runner(args.pages, args.breach_db))
    )
    print(f"breakchecker API listening on {args.host}:{args.port}")
    server.serve_forever()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
