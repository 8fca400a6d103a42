"""The crawl engine: level-synchronous BFS frontier loop over a pages table.

Reimplements the reference's async BFS crawler
(/root/reference/break_checker.py:1319-1421) as iterative DataFrame
rounds. Each round:

1. **dequeue** — the reference re-checks the seen set at dequeue time
   (bc:1338-1346) to close its async enqueue/visit race; this loop is
   level-synchronous and enforces the same set semantics at ENQUEUE
   (step 5), which makes ``frontier ∩ url_seen = ∅`` an invariant —
   the dequeue re-check is provably the identity and is skipped
   (see the step-1 comment in run_crawl for the induction);
2. **robots gate + politeness budget** — north-rule additions; eligible
   rows are capped per host (skew-safe two-phase window), deferred rows
   carry over at the same depth;
3. **visit** — eligible rows join the seen set (the reference adds to
   ``visited`` *before* fetching, bc:1344-1346 — misses still count);
4. **fetch = join** — the frontier joins the pages table on URL
   (replacing live HTTP, bc:742-839);
5. **extract + expand** — vectorized extraction produces contacts and
   canonical link candidates at depth+1 (enqueue-time checks: depth
   gate, within-round struct-key dedup pinned to min (depth, url),
   anti-join vs seen and vs queued — bc:1397-1421). The extraction
   observes the round's emitted-link count in-band, in both modes; that
   bound lets small rounds skip the bloom probe and the broadcast
   guard's count job, and no bloom filter exists until the first round
   whose bound is large enough to probe one;
6. **commit** — frontier / url_seen / contacts / metrics (and, once it
   exists, bloom) deltas stage and commit atomically through one store
   interface: on disk with a checkpoint dir (a killed run resumes from
   the last commit), else in memory. Reading state back from the store
   runs no Spark job and truncates plan lineage, keeping per-round
   shuffle count flat as depth grows.

The seed frontier is materialized once, before round 0, so its row
count is known up front and no round re-runs the seed plan (liveness,
struct keys) behind it.

Determinism pins (SURVEY.md §7): all seeds start at depth 0 together;
within a round, candidate dedup order is (depth, url); the reference's
completion-order races are replaced by these total orders, so the
URL-seen *set* per depth matches the reference exactly.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import contacts as contacts_fn
from ..functions import udfs
from ..operators import extract, politeness, seen
from .checkpoint import CheckpointStore, MemoryStore, materialize

_DEBUG_TIMING = os.environ.get("SPARK_GRAFT_DEBUG_TIMING", "") == "1"

# metrics deltas are written driver-side with pyarrow (no Spark job);
# types mirror plans.crawl's metrics schema exactly
import pyarrow as _pa

# per-round drop counters whose run totals the summary carries
_DROP_METRICS = ("emails_dropped", "phones_dropped")

_METRICS_ARROW = _pa.schema(
    [
        ("run_id", _pa.string()),
        ("round", _pa.int32()),
        ("metric", _pa.string()),
        ("value", _pa.int64()),
    ]
)


def _tlog(label: str, t0: float) -> float:
    """Per-phase stderr timing, enabled by SPARK_GRAFT_DEBUG_TIMING=1."""
    now = time.time()
    if _DEBUG_TIMING:
        print(f"TIMING {label}: {now - t0:.2f}s", file=sys.stderr)
    return now


@dataclass
class CrawlConfig:
    scope_host: str
    max_depth: int = 3
    host_budget: Optional[int] = None  # None = unlimited (reference parity)
    # when set (and robots carries crawl_delay), each round models this
    # many seconds of polite per-host wall clock: budget_host =
    # floor(round_seconds / crawl_delay) — politeness.crawl_delay_budgets
    round_seconds: Optional[float] = None
    use_bloom: bool = True
    bloom_parts: int = 32
    bloom_expected_per_part: int = 100_000
    # broadcast-safety guard: fall back to a plain anti-join for a round
    # whose bloom-surviving candidates exceed this (None disables)
    seen_broadcast_max_rows: Optional[int] = 4_000_000
    # skip the bloom-probe cogroup stage when the round's candidate
    # bound (its emitted-link count, observed in-band in both modes) is
    # at or below this (seen.filter_new probe_min_candidates);
    # 0 = always probe. A pre-extract round whose frontier is at or
    # below it also broadcasts the frontier into its fetch join.
    probe_min_candidates: int = 50_000
    # compact append tables (url_seen/contacts/metrics) every this many
    # rounds once they hold that many delta versions — the Iceberg
    # rewrite_data_files maintenance analogue. 0 disables.
    compact_every: int = 16
    # Replay-scale mode: run ONE extraction pass over the whole pages
    # table up front (extract.preextract_pages) and join each round's
    # frontier against the slim per-page (links, contacts, drops) table
    # instead of re-scanning + re-extracting raw pages every round.
    # Results are identical (tests/test_crawl_e2e.py equality matrix);
    # the classic mode models live fetching, where pages at depth d+1
    # don't exist until round d ran. At Common-Crawl replay scale the
    # per-round full-corpus rescan is the dominant non-scaling cost —
    # pre-extraction pays it once, embarrassingly parallel.
    pre_extract: bool = False
    checkpoint_dir: Optional[str] = None
    # on resume, audit every live table version's parquet footers
    # against the committed per-partition lineage before trusting the
    # checkpoint (CheckpointStore.verify_integrity); raises on mismatch
    verify_checkpoint: bool = False
    run_id: str = "run0"
    max_rounds: int = 1000
    default_region: Optional[str] = None  # derived from scope TLD when None
    org_domain: Optional[str] = None  # derived from scope host when None

    def __post_init__(self) -> None:
        if self.default_region is None:
            self.default_region = contacts_fn.region_for_domain(self.scope_host)
        if self.org_domain is None:
            self.org_domain = contacts_fn.registered_domain(self.scope_host)


@dataclass
class CrawlResult:
    url_seen: DataFrame
    contacts: DataFrame  # deduped (kind, identifier, source_url, depth)
    metrics: DataFrame  # (run_id, round, metric, value)
    rounds: int
    # num_endpoints, num_subdomains, rounds and the run's drop totals
    # (emails_dropped, phones_dropped) — driver-side, no job to read
    summary: dict = field(default_factory=dict)
    # per-partition commit lineage (round, table, version, partition,
    # files, rows, bytes) — None without a checkpoint dir
    lineage: Optional[DataFrame] = None
    # sorted distinct hosts of the visited URLs (len = num_subdomains)
    subdomains: list = field(default_factory=list)


def _fetch_key(url_col):
    """Join key against the pages table: bare-host URLs get a root slash.

    The reference's live fetch treats ``https://h`` and ``https://h/``
    identically (HTTP GET of "/"); the pages table stores the canonical
    slashed form, so only the frontier side needs normalizing.
    """
    return F.when(url_col.rlike("^https?://[^/]+$"), F.concat(url_col, F.lit("/"))).otherwise(
        url_col
    )


def _dedup_frontier(frontier: DataFrame) -> DataFrame:
    """One representative URL per struct key, pinned to min (depth, url).

    A single groupBy subsumes the reference's URL-level ``_queued``
    guard (bc:1417-1420): identical URLs share a struct key, so the
    min-(depth, url) pick keeps exactly one row — one shuffle, not two.
    """
    best = frontier.groupBy("struct_key").agg(
        F.min_by(
            F.struct("url", "depth", "host", "key_hash"), F.struct("depth", "url")
        ).alias("b")
    )
    return best.select(
        F.col("b.url").alias("url"),
        F.col("b.depth").alias("depth"),
        F.col("b.host").alias("host"),
        "struct_key",
        F.col("b.key_hash").alias("key_hash"),
    )


def _fetch_join(
    keyed: DataFrame, pre: DataFrame, frontier_rows: int, broadcast_max_rows: int
) -> DataFrame:
    """A round's frontier (``_fk``, ``url``, ``depth``) joined to the
    pre-extracted page table. INNER deliberately: frontier URLs with
    no page are already in url_seen (marked before the fetch) and
    yield no links/contacts/drops either way. A frontier of at most
    ``broadcast_max_rows`` rows is broadcast, so the persisted pre
    table is scanned, not hashed (the planner, sizing the frontier by
    its plan estimate, may hash the pre table instead); above the
    bound the planner chooses."""
    side = keyed.select("_fk", "url", "depth")
    if frontier_rows <= broadcast_max_rows:
        side = F.broadcast(side)
    return side.join(pre, "_fk")


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """(host, scheme) → depth-0 frontier rows ``scheme://host``.

    Seed URLs are intentionally *not* canonicalized — the reference
    enqueues them raw (bc:1326, 1760).
    """
    f = seeds.select(
        F.concat(F.col("scheme"), F.lit("://"), F.lower(F.col("host"))).alias("url"),
        F.lit(0).alias("depth"),
        F.lower(F.col("host")).alias("host"),
    )
    return seen.with_struct_key(f)


def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame | None,
    config: CrawlConfig,
    robots: DataFrame | None = None,
    dead_hosts: DataFrame | None = None,
    resume: bool = False,
    fetcher: "Callable[[DataFrame], DataFrame] | None" = None,
) -> CrawlResult:
    """Run (or resume) the BFS crawl; returns final state DataFrames.

    ``dead_hosts`` (host string) models the reference's two-strikes
    dead-host set (break_checker.py:566-568, 803-806): frontier rows on
    those hosts are skipped before the fetch join (broadcast anti-join)
    — in replay, fetch failures only exist if the caller supplies them.

    ``fetcher`` switches the engine to LIVE mode: instead of joining
    the frontier against a pages table, each round's eligible rows
    (url, host, depth) are handed to the callable — normally
    ``sources.fetcher.fetch_pages`` — which returns FETCH_SCHEMA rows.
    Fetch failures behave exactly like replay join misses (visited but
    yielding nothing), and refused hosts accumulate into the dead-host
    anti-join with the reference's two-strikes rule. Live mode requires
    the classic round structure (``pre_extract=False``): pages at
    depth d+1 cannot be pre-extracted before round d discovers them.
    Dead-host strike counts are per-run in-memory state, like the
    reference's globals — a resumed run starts its counts fresh.
    """
    if fetcher is not None and config.pre_extract:
        raise ValueError(
            "live fetch requires classic mode (pre_extract=False): "
            "pages at depth d+1 don't exist until round d fetched them"
        )
    if fetcher is None and pages is None:
        raise ValueError("either a pages table or a fetcher is required")
    if resume and not config.checkpoint_dir:
        raise ValueError("resume requires a checkpoint_dir to resume from")
    store = (
        CheckpointStore(config.checkpoint_dir)
        if config.checkpoint_dir
        else MemoryStore(spark)
    )

    start_round = 0
    bloom_table = None
    manifest = store.manifest()
    if resume and manifest is not None:
        if manifest.get("seen_buckets", 0):
            # url_seen deltas written with a bucket column (and possibly
            # bucket directories) by an earlier layout; unioning them
            # with bucketless deltas would fail mid-crawl
            raise ValueError(
                "checkpoint was written with the bucketed url_seen layout "
                f"(seen_buckets={manifest['seen_buckets']}), which this "
                "engine no longer reads; start a fresh run"
            )
        if config.verify_checkpoint:
            problems = store.verify_integrity()
            if problems:
                raise RuntimeError(
                    "checkpoint integrity check failed — live data files "
                    f"disagree with committed lineage: {problems[:5]}"
                    + (f" (+{len(problems) - 5} more)" if len(problems) > 5 else "")
                )
        start_round = manifest["round"] + 1
        frontier_rows = manifest["frontier_rows"]
        frontier = store.read(spark, "frontier")
        url_seen = store.read(spark, "url_seen")
        all_contacts = store.read(spark, "contacts")
        metrics = store.read(spark, "metrics")
        # a checkpoint with no bloom (written with use_bloom=False, or
        # before any round probed) leaves bloom_table None: the first
        # probing round then builds the filter from the whole url_seen
        bloom_table = store.read(spark, "bloom") if config.use_bloom else None
        # drop totals of the rounds before the kill (one job)
        rows = metrics.filter(F.col("metric").isin(*_DROP_METRICS))
        sums = dict(rows.groupBy("metric").sum("value").collect())
        dropped = {m: int(sums.get(m, 0)) for m in _DROP_METRICS}
    else:
        if manifest is not None:
            # fresh run over a dirty checkpoint dir: drop the old state,
            # or the append-table manifest would leak prior-run versions
            store.reset()
        # evaluated once: every round-0 consumer (budget split, its
        # deferred half, the frontier build) reads the checkpoint, not
        # the seed plan's liveness join and struct-key UDF
        frontier, frontier_rows = materialize(
            _dedup_frontier(seeds_to_frontier(seeds))
        )
        url_seen = spark.createDataFrame([], "key_hash long, url string, depth int")
        all_contacts = spark.createDataFrame(
            [], "kind string, identifier string, source_url string, depth int"
        )
        metrics = spark.createDataFrame(
            [], "run_id string, round int, metric string, value long"
        )
        dropped = dict.fromkeys(_DROP_METRICS, 0)

    host_budgets = None
    if robots is not None and config.round_seconds is not None:
        host_budgets = politeness.crawl_delay_budgets(robots, config.round_seconds)

    pages_slim = (
        pages.select("url", "html", "text") if pages is not None else None
    )
    # live-mode dead-host feedback: per-host refused strike counts
    # (reference _DEAD_HOST_FAILS/_DEAD_HOSTS, bc:564-568)
    _dead_fails: dict = {}
    _dead_set: set = set()
    pre = None
    if config.pre_extract:
        # one extraction pass, persisted for the whole run (the rounds
        # consume slim rows only; deterministic, so resume recomputes
        # it rather than checkpointing raw-page-derived state).
        # Materialized eagerly: the pass is the run's biggest single
        # job and this keeps it out of round-0's phase accounting.
        t_pre = time.time()
        pre = extract.preextract_pages(
            pages_slim, config.scope_host, config.default_region, config.org_domain
        ).withColumnRenamed("url", "_fk").persist()
        pre.count()
        _tlog("pre-extract pass", t_pre)
    rounds_run = start_round

    for round_no in range(start_round, config.max_rounds):
        if frontier_rows == 0:
            break
        rounds_run = round_no + 1
        t0 = time.time()

        round_caches: list = []
        # 1. dequeue-time seen re-check — structurally a NO-OP in this
        # engine, so it is skipped (r6, guide §2.1 "remove the shuffle
        # outright"). The reference re-checks at dequeue
        # (bc:1338-1346) because its async queue can hold entries
        # enqueued before their key was marked seen; this loop is
        # level-synchronous and every frontier is built by
        # _build_frontier_next, which anti-joins candidates against
        # ``url_seen_next`` — exactly the url_seen the same commit
        # publishes — and carries politeness-deferred rows whose keys
        # are disjoint from that round's ``new_seen`` (eligible and
        # deferred partition the frontier, and only eligible rows are
        # marked seen). Hence ``frontier ∩ url_seen = ∅`` holds
        # inductively for every mode (replay / classic / live, with or
        # without budgets, fresh or resumed — frontier and url_seen
        # are committed atomically by the same manifest), and the
        # per-round filter_new probe + broadcast confirm + re-dedup
        # recomputed an identity. Seeds are deduped at entry
        # (seeds_to_frontier → _dedup_frontier) and filter_new only
        # ever removes rows, so the frontier is also struct_key-unique
        # by construction — no re-dedup needed either. Verified by the
        # crawl e2e equality matrix and the round-simulating DuckDB
        # oracles (crawl_frontier_bfs / _preextract / _budget).
        live = frontier

        # 2. robots gate (dropped, not deferred) + per-host budget
        live = politeness.apply_robots(live, robots)
        eligible, deferred = politeness.host_budget_split(
            live, config.host_budget, host_budgets=host_budgets
        )
        eligible = eligible.cache()

        # 3. mark visited BEFORE the fetch join (bc:1344-1346).
        # struct_key is intentionally not persisted: key_hash carries
        # membership, url/depth carry reporting — the string key would
        # double the staged bytes per round for nothing.
        new_seen = eligible.select("key_hash", "url", "depth")
        url_seen_next = url_seen.unionByName(new_seen)

        # 4. fetch = left join against the pages table. Dead hosts are
        # suppressed at the fetch, not the frontier — the reference
        # marks the URL visited and then fails the fetch (bc:1344-1346,
        # 766-768), so dead-host URLs count as endpoints but yield
        # nothing and expand nothing.
        # 5. extract + expand — classic: one fused extraction stage over
        # this round's fetched raw pages; pre-extract: a slim join
        # against the one-pass table (no raw-page scan, no per-round UDF
        # stage). Neither dedups its links: the frontier build does.
        fetch_input = eligible
        if dead_hosts is not None:
            fetch_input = fetch_input.join(
                F.broadcast(dead_hosts.select("host")), "host", "left_anti"
            )
        keyed_input = fetch_input.withColumn("_fk", _fetch_key(F.col("url")))
        if pre is None:
            if fetcher is not None:
                # LIVE fetch: host-partitioned distributed HTTP GET of
                # this round's eligible rows (sources/fetcher.py).
                # Cached — the strike-count action below materializes
                # it once; extraction then reads the cache instead of
                # re-hitting the network.
                fetched_full = fetcher(
                    fetch_input.select("url", "host", "depth")
                ).cache()
                round_caches.append(fetched_full)
                for row in (
                    fetched_full.filter(F.col("error") == "refused")
                    .groupBy("host")
                    .count()
                    .collect()
                ):
                    _dead_fails[row["host"]] = (
                        _dead_fails.get(row["host"], 0) + row["count"]
                    )
                newly_dead = sorted(
                    h
                    for h, n in _dead_fails.items()
                    if n >= 2 and h not in _dead_set
                )
                if newly_dead:
                    _dead_set.update(newly_dead)
                    nd = spark.createDataFrame(
                        [(h,) for h in newly_dead], "host string"
                    )
                    dead_hosts = (
                        nd
                        if dead_hosts is None
                        else dead_hosts.select("host").unionByName(nd)
                    )
                # error rows keep html/text null — identical to replay
                # join misses: visited, yield nothing, expand nothing
                fetched = fetched_full.select("url", "depth", "html", "text")
            else:
                fetched = keyed_input.join(
                    pages_slim.withColumnRenamed("url", "_fk"), "_fk", "left"
                ).select("url", "depth", "html", "text")
            link_cands, round_contacts, drops, caches = extract.process_pages(
                fetched, config.scope_host, config.default_region, config.org_domain
            )
        else:
            from pyspark.sql import Observation

            # "nl" rides along for free (as in process_pages): the
            # total links emitted this round upper-bounds the
            # enqueue-time candidate set
            drop_obs = Observation()
            # a frontier within the small-round gate is broadcast
            joined = _fetch_join(
                keyed_input, pre, frontier_rows, config.probe_min_candidates
            ).observe(
                drop_obs,
                F.coalesce(F.sum("emails_dropped"), F.lit(0)).alias("ed"),
                F.coalesce(F.sum("phones_dropped"), F.lit(0)).alias("pd"),
                F.coalesce(F.sum(F.size("links")), F.lit(0)).alias("nl"),
            ).cache()
            round_caches.append(joined)
            link_cands = joined.select(
                F.explode("links").alias("_l"),
                (F.col("depth") + 1).alias("depth"),
            ).select("_l.url", "_l.host", "_l.skey", "depth")
            round_contacts = joined.select(
                "url", "depth", F.explode("contacts").alias("_c")
            ).select(
                F.col("_c.kind").alias("kind"),
                F.col("_c.identifier").alias("identifier"),
                F.col("url").alias("source_url"),
                "depth",
            )
            drops = extract.PreDrops(drop_obs)
            caches = []
        # links carry (url, host, skey) computed in the extraction stage
        # (pure functions of the link url, r6); only the JVM-side
        # key_hash projection remains per round — no url_host /
        # struct_key Python stages in either mode
        pre_candidates = (
            link_cands.filter(F.col("depth") <= config.max_depth)
            .withColumnRenamed("skey", "struct_key")
            .withColumn("key_hash", F.xxhash64("struct_key"))
            # same column order as seen.with_struct_key produced —
            # filter_new's cogroup schemas are order-sensitive
            .select("url", "depth", "host", "struct_key", "key_hash")
        )

        # 6. stage + atomic commit (also truncates lineage via read-back,
        # which takes its schema from a footer: no job). Row counts come
        # back from staging (parquet footers on disk, in-band
        # Observations in memory) — no count jobs.
        tt = _tlog(f"r{round_no} plan", t0)

        if config.compact_every and (round_no + 1) % config.compact_every == 0:
            # Iceberg-style maintenance: fold accumulated deltas
            # into one version per append table before this round's
            # delta stages on top (kill-safe — publishes with the
            # round's atomic commit; old dirs gc'd after).
            for table in ("url_seen", "contacts", "metrics", "lineage"):
                store.compact(
                    spark, table, round_no, min_versions=config.compact_every
                )
            tt = _tlog(f"r{round_no} compact", t0)
        # Stage contacts first: it materializes every shared cache
        # (eligible, harvested pages, contact rows). The remaining
        # tables then read caches only, so they stage concurrently
        # (separate driver threads → overlapping Spark jobs).
        n_contacts = store.stage_append("contacts", round_contacts, round_no)
        tt = _tlog(f"r{round_no} stage contacts n={n_contacts}", tt)

        # Contacts staging materialized the round's extraction (the
        # cached fused stage, or the frontier⋈pre join), so the
        # frontier build (probe + anti-join + dedup) reads caches only
        # and runs INSIDE the staging pool, overlapping the
        # url_seen/bloom writes. The in-band link-count bound usually
        # removes the guard's count job and the bloom probe entirely.
        cand_bound = drops.candidate_bound()

        # The bloom exists from the first round that probes: that round
        # builds it from the whole seen set, later rounds add only their
        # new keys (seen.bloom_add). Earlier rounds stage no filter.
        bloom_next = None
        if config.use_bloom and (
            bloom_table is not None
            or seen.probes(
                cand_bound, config.probe_min_candidates, config.seen_broadcast_max_rows
            )
        ):
            sizing = (config.bloom_parts, config.bloom_expected_per_part)
            bloom_next = (
                seen.build_bloom(url_seen_next, *sizing)
                if bloom_table is None
                else seen.bloom_add(bloom_table, new_seen, *sizing)
            ).cache()  # read by the staging write and the probe cogroup
            round_caches.append(bloom_next)

        def _build_frontier_next() -> DataFrame:
            """Enqueue-time checks: not seen, not already queued. With
            no deferrals possible the candidates are deduped once,
            before the filter: membership is a function of struct_key,
            so dedup-then-filter equals filter-then-dedup."""
            deferrals = config.host_budget is not None or host_budgets is not None
            new = seen.filter_new(
                pre_candidates if deferrals else _dedup_frontier(pre_candidates),
                url_seen_next,
                bloom_next,
                config.bloom_parts,
                cache_registry=round_caches,
                max_broadcast_rows=config.seen_broadcast_max_rows,
                candidate_bound=cand_bound,
                probe_min_candidates=config.probe_min_candidates,
            ).select(*deferred.columns)
            if not deferrals:
                return new
            anti = new.join(deferred.select("url"), "url", "left_anti")
            return _dedup_frontier(deferred.unionByName(anti))

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as pool:
            f_seen = pool.submit(store.stage_append, "url_seen", new_seen, round_no)
            f_frontier = pool.submit(
                lambda: store.stage_replace("frontier", _build_frontier_next(), round_no)
            )
            f_bloom = (
                pool.submit(store.stage_replace, "bloom", bloom_next, round_no)
                if bloom_next is not None
                else None
            )
            n_eligible = f_seen.result()
            frontier_rows = f_frontier.result()
            if f_bloom is not None:
                f_bloom.result()
        tt = _tlog(
            f"r{round_no} stage seen={n_eligible} frontier={frontier_rows} bloom",
            tt,
        )
        # driver-side metric rows; drops.get() blocks until the contacts
        # plan has materialized, which its staging above guaranteed
        round_drops = drops.get()
        for m, v in round_drops:
            dropped[m] += v
        round_metrics = [
            ("frontier_urls", n_eligible),
            ("contacts_extracted", n_contacts),
            ("round_millis", int((time.time() - t0) * 1000)),
            *round_drops,
        ]
        store.stage_append_rows(
            "metrics",
            [
                dict(run_id=config.run_id, round=round_no, metric=m, value=int(v))
                for m, v in round_metrics
            ],
            _METRICS_ARROW,
            round_no,
        )
        tt = _tlog(f"r{round_no} stage metrics", tt)
        store.commit(
            round_no, {"run_id": config.run_id, "frontier_rows": frontier_rows}
        )
        store.gc()  # drop compacted-away / orphan version dirs
        frontier = store.read(spark, "frontier")
        url_seen = store.read(spark, "url_seen")
        all_contacts = store.read(spark, "contacts")
        metrics = store.read(spark, "metrics")
        if bloom_next is not None:
            bloom_table = store.read(spark, "bloom")
        eligible.unpersist()
        for df in caches:
            df.unpersist()
        for df in round_caches:
            df.unpersist()

    if pre is not None:
        # every round's state was read back from the store, so nothing
        # returned still depends on the persisted pre-extraction table
        pre.unpersist()
    t_tail = time.time()
    deduped = extract.dedup_contacts(all_contacts)
    # endpoint count from the store's committed row counts — no Spark
    # job (url_seen rows are exactly the visited endpoints)
    n_endpoints = store.table_rows("url_seen") or 0
    t_tail = _tlog("tail endpoints", t_tail)
    # r6: shrink before the Python stage — substring_index(url,'/',3)
    # keeps scheme://netloc verbatim (netloc ends at the first '/', '?'
    # or '#', and neither query nor fragment affects the parsed
    # hostname), so url_host over the ≤|hosts×schemes| distinct
    # prefixes equals url_host over every visited URL; the pandas UDF
    # never scans the full url_seen table. The host list is small by
    # construction, so it is collected for the report.
    subdomains = sorted(
        r["h"]
        for r in url_seen.select(F.substring_index(F.col("url"), "/", 3).alias("u"))
        .distinct()
        .select(udfs.url_host(F.col("u")).alias("h"))
        .distinct()
        .collect()
    )
    summary = {
        "num_endpoints": n_endpoints,
        "num_subdomains": len(subdomains),
        "rounds": rounds_run,
        **dropped,
    }
    t_tail = _tlog("tail subdomains", t_tail)
    lineage = store.read(spark, "lineage")
    return CrawlResult(
        url_seen, deduped, metrics, rounds_run, summary, lineage, subdomains
    )
