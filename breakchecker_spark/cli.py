"""spark-submit entry point — the E1 CLI lifecycle (SURVEY.md §3).

    spark-submit --py-files breakchecker_spark.zip -m breakchecker_spark.cli \
        --domain example.com --pages /data/pages --seeds /data/seeds \
        --depth 2 --budget 100 --checkpoint /ckpt/run1 --output report.json

Mirrors the reference CLI (`python break_checker.py example.com -d 2
--json`, /root/reference/break_checker.py:1849-1928): validate domain
→ assemble seeds → liveness → crawl → breach match → report sink.
Replay-mode inputs are tables; ``--resume`` continues a killed run
from its last committed round.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="breakchecker-spark", description=__doc__)
    p.add_argument(
        "--config",
        help="JSON config file supplying defaults for any flag "
        "(reference S1 config.json, break_checker.py:158-174); "
        "explicit flags win",
    )
    p.add_argument("--domain", required=True, help="scan-scope apex domain")
    p.add_argument("--pages", help="parquet/iceberg pages table path (replay mode)")
    p.add_argument(
        "--pages-format",
        choices=["parquet", "warc"],
        default="parquet",
        help="replay input format: 'warc' replays a directory of WARC "
        "files (e.g. a Common Crawl slice) via the distributed reader "
        "in sources/warc.py",
    )
    p.add_argument(
        "--live",
        action="store_true",
        help="fetch the live web instead of replaying a pages table: "
        "seeds are probed for reachability (https preferred, like the "
        "reference's choose_scheme) and each round's frontier is "
        "fetched with the distributed HTTP fetcher (sources/fetcher.py)",
    )
    p.add_argument(
        "--timeout", type=float, default=20.0, help="live fetch timeout (s)"
    )
    p.add_argument(
        "--request-delay",
        type=float,
        default=0.0,
        help="live mode: minimum seconds between same-host requests",
    )
    p.add_argument(
        "--render",
        action="store_true",
        help="live mode: escalate script-heavy thin pages to a headless-"
        "browser render pass (S7, sources/render.py); requires the "
        "playwright package on the executors",
    )
    p.add_argument("--seeds", help="parquet seeds table (host[,scheme]); default: apex only")
    p.add_argument("--robots", help="parquet robots table (host, disallow_prefix, crawl_delay)")
    p.add_argument("--breach-db", help="parquet breach table (identifier, breach)")
    p.add_argument("-d", "--depth", type=int, default=3)
    p.add_argument("--budget", type=int, default=None, help="max URLs per host per round")
    p.add_argument("--no-bloom", action="store_true")
    p.add_argument(
        "--pre-extract",
        action="store_true",
        help="replay-scale mode: one extraction pass over the pages "
        "table up front, slim per-round frontier joins after "
        "(output-identical to the classic per-round extraction; "
        "the right plan when the whole corpus is pre-materialized)",
    )
    p.add_argument("--checkpoint", help="checkpoint dir (enables exact resume)")
    p.add_argument("--resume", action="store_true")
    p.add_argument(
        "--verify-checkpoint",
        action="store_true",
        help="on --resume, audit live checkpoint files against the "
        "committed per-partition lineage before trusting them",
    )
    p.add_argument("--output", default=None, help="report file path")
    p.add_argument("--fmt", choices=["json", "csv", "md"], default="json")
    p.add_argument("--contacts-sink", help="executor-side parquet sink for full contacts")
    p.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.config:
        import json

        with open(args.config) as fh:
            defaults = json.load(fh)
        unknown = set(defaults) - {a.dest for a in parser._actions}
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        parser.set_defaults(**defaults)
        args = parser.parse_args(argv)  # flags still win over config

    from .operators import breach as breach_op
    from .plans import report as report_mod
    from .plans.crawl import CrawlConfig, run_crawl
    from .session import get_spark
    from .sources import seeds as seeds_mod

    if bool(args.pages) == bool(args.live):
        parser.error("exactly one of --pages (replay) or --live is required")
    if args.resume and not args.checkpoint:
        parser.error("--resume needs --checkpoint (the dir to resume from)")
    if args.live and args.pre_extract:
        parser.error("--pre-extract is a replay-mode plan (pages at depth "
                     "d+1 don't exist until round d fetched them)")
    if args.render and not args.live:
        parser.error("--render escalates live fetches to a browser; replay "
                     "tables already hold the rendered html")
    if args.render:
        # capability probe BEFORE the SparkSession / plan build
        # (VERDICT r5 item #8): the factory raises NotImplementedError
        # with the documented remediation message when playwright (or
        # a Chromium) is absent, so a mistyped deploy fails in
        # milliseconds instead of after session startup.
        from .sources import render as render_mod

        render_mod.playwright_renderer_factory()

    domain = seeds_mod.validate_domain(args.domain)
    spark = get_spark(app_name=f"breakchecker:{domain}", master=args.master)

    import datetime
    import time as time_mod

    ts_format = "%Y-%m-%d %H:%M:%S %Z"  # break_checker.py:1814
    start_time = time_mod.time()
    start_dt = datetime.datetime.now(datetime.timezone.utc)

    from .sources import fetcher as fetcher_mod

    if args.pages and args.pages_format == "warc":
        from .sources import warc as warc_mod

        pages = warc_mod.warc_to_pages(warc_mod.read_warc(spark, args.pages))
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = None
    seed_sources = (
        [spark.read.parquet(args.seeds)] if args.seeds else []
    )
    if seed_sources and "scheme" in seed_sources[0].columns:
        raw_seeds = seed_sources[0]
    elif args.live:
        # reference choose_scheme: probe https-then-http on the wire
        raw_seeds = fetcher_mod.probe_live_hosts(
            seeds_mod.union_seed_sources(spark, seed_sources, domain),
            timeout=args.timeout,
        )
    else:
        raw_seeds = seeds_mod.live_hosts(
            seeds_mod.union_seed_sources(spark, seed_sources, domain),
            seeds_mod.host_schemes(pages),
        )
    robots = spark.read.parquet(args.robots) if args.robots else None
    live_fetcher = None
    if args.live:
        if args.render:
            from .sources import render as render_mod

            # raises NotImplementedError with a clear message when
            # playwright is absent on this machine
            live_fetcher = render_mod.rendering_fetcher(
                render_mod.playwright_renderer_factory(),
                fetch_kwargs={
                    "timeout": args.timeout,
                    "delay": args.request_delay,
                },
            )
        else:
            live_fetcher = lambda df: fetcher_mod.fetch_pages(  # noqa: E731
                df, timeout=args.timeout, delay=args.request_delay
            )

    cfg = CrawlConfig(
        scope_host=domain,
        max_depth=args.depth,
        host_budget=args.budget,
        use_bloom=not args.no_bloom,
        pre_extract=args.pre_extract,
        checkpoint_dir=args.checkpoint,
        verify_checkpoint=args.verify_checkpoint,
    )
    result = run_crawl(
        spark,
        raw_seeds,
        pages,
        cfg,
        robots=robots,
        resume=args.resume,
        fetcher=live_fetcher,
    )

    contacts = result.contacts
    if args.breach_db:
        db = spark.read.parquet(args.breach_db)
        contacts = breach_op.match_breaches(contacts, db)
    else:
        from pyspark.sql import functions as F

        contacts = contacts.withColumn("breaches", F.array().cast("array<string>"))

    if args.contacts_sink:
        report_mod.write_contacts_sink(contacts, args.contacts_sink)

    end_dt = datetime.datetime.now(datetime.timezone.utc)
    rep = report_mod.build_report(
        domain,
        result,
        contacts,
        scan_start=start_dt.strftime(ts_format),
        scan_end=end_dt.strftime(ts_format),
        scan_duration=time_mod.time() - start_time,
    )
    if args.output:
        report_mod.save(rep, args.output, args.fmt)
        print(f"report written: {args.output}")
    else:
        print(report_mod.to_json(rep))
    return 0


if __name__ == "__main__":
    sys.exit(main())
