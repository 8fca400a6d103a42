"""End-to-end crawl replay: distributed engine vs pure-Python oracle.

The oracle (breakchecker_spark/oracle.py) implements the reference
crawler's observable semantics (break_checker.py:1319-1444) with the
pinned determinism rules; these tests assert the Spark engine produces
the identical URL-seen set (with depths), contacts with first-source
attribution, under no-budget, budgeted, robots-gated, bloom-on/off and
kill/resume conditions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from breakchecker_spark import oracle, schemas
from breakchecker_spark.plans.crawl import CrawlConfig, run_crawl
from tests import fixture_web


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(fixture_web.pages_rows(), schema=schemas.PAGES).cache()


@pytest.fixture(scope="module")
def seeds_df(spark):
    return spark.createDataFrame(fixture_web.SEEDS, schema=schemas.SEEDS)


def _sim(max_depth, budget=None, robots=None):
    pages = fixture_web.build_pages()
    texts = {
        u: (fixture_web.htmlx.page_text(h) if not u.endswith(".js") else h)
        for u, h in pages.items()
    }
    return oracle.simulate_crawl(
        pages,
        fixture_web.SEEDS,
        fixture_web.SCOPE,
        max_depth,
        host_budget=budget,
        robots=robots,
        page_texts=texts,
    )


def _engine_visited(result):
    return {
        (r["url"], r["depth"]) for r in result.url_seen.select("url", "depth").collect()
    }


def _engine_contacts(result):
    rows = result.contacts.collect()
    emails = {r["identifier"]: (r["depth"], r["source_url"]) for r in rows if r["kind"] == "email"}
    phones = {r["identifier"]: (r["depth"], r["source_url"]) for r in rows if r["kind"] == "phone"}
    return emails, phones


@pytest.mark.parametrize(
    "use_bloom,pre_extract", [(False, False), (True, False), (True, True)]
)
def test_full_crawl_matches_oracle(spark, pages_df, seeds_df, use_bloom, pre_extract):
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=3, use_bloom=use_bloom,
                      bloom_parts=4, bloom_expected_per_part=1000,
                      pre_extract=pre_extract)
    result = run_crawl(spark, seeds_df, pages_df, cfg)
    sim = _sim(max_depth=3)

    assert _engine_visited(result) == set(sim.visited.items())
    emails, phones = _engine_contacts(result)
    assert emails == sim.emails
    assert phones == sim.phones


def _engine_metrics(result):
    return sorted(
        map(tuple, result.metrics.select("round", "metric", "value")
            .filter(F.col("metric") != "round_millis").collect())
    )


def test_pre_extract_equals_classic_with_budget_and_robots(
    spark, pages_df, seeds_df, tmp_path, monkeypatch
):
    """Pre-extract mode must be output-identical to the classic loop
    under the adversarial configs too: politeness carry-over rounds
    (deferred rows re-join later frontiers) and robots gating. Metrics
    (incl. the per-round drop counters, which pre-extract aggregates
    via a different mechanism) must also match round for round. The
    classic side runs on the in-memory store and the pre-extract side
    on the checkpoint store, so the two stores are pinned equal too.

    The classic loop also runs on both sides of the probe gate: with
    the default ``probe_min_candidates`` every round's in-band candidate
    bound is below it, so each round skips the bloom probe; with 0
    every round probes."""
    from breakchecker_spark.operators import seen

    calls = []
    real_filter_new = seen.filter_new

    def recording_filter_new(*args, **kw):
        calls.append((kw["candidate_bound"], kw["probe_min_candidates"]))
        return real_filter_new(*args, **kw)

    monkeypatch.setattr(seen, "filter_new", recording_filter_new)
    robots_rows = [("example.com", "/deep", 1.0)]
    robots_df = spark.createDataFrame(robots_rows, schema=schemas.ROBOTS)
    base = dict(scope_host=fixture_web.SCOPE, max_depth=3, host_budget=1,
                use_bloom=True, bloom_parts=4, bloom_expected_per_part=1000)
    a = run_crawl(spark, seeds_df, pages_df, CrawlConfig(**base), robots=robots_df)
    skipped, calls[:] = list(calls), []
    c = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(**base, probe_min_candidates=0), robots=robots_df,
    )
    probed, calls[:] = list(calls), []
    b = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(**base, pre_extract=True, checkpoint_dir=str(tmp_path)),
        robots=robots_df,
    )
    # one frontier build per round, each bounded in-band; the default
    # gate skips the probe on every one of them, the 0 gate on none
    assert len(skipped) == a.rounds
    assert all(0 <= bound <= pmin for bound, pmin in skipped)
    assert any(bound > 0 for bound, _ in skipped)
    assert [bound for bound, _ in probed] == [bound for bound, _ in skipped]
    assert all(pmin == 0 for _, pmin in probed)
    for other in (b, c):
        assert _engine_visited(a) == _engine_visited(other)
        assert _engine_contacts(a) == _engine_contacts(other)
        assert _engine_metrics(a) == _engine_metrics(other)
        assert a.rounds == other.rounds
    assert a.rounds > 4


def test_budgeted_crawl_evaluates_seed_plan_once(spark, pages_df):
    """The seed frontier is materialized once before round 0: the
    round-0 budget split, its deferred half and the frontier build
    read that checkpoint instead of re-running the seed plan (in a real
    scan, the liveness join and the struct-key UDF)."""
    evaluated = spark.sparkContext.accumulator(0)

    def tick(host):
        evaluated.add(1)
        return host

    tick_udf = F.udf(tick, "string").asNondeterministic()
    seeds = spark.createDataFrame(fixture_web.SEEDS, schema=schemas.SEEDS)
    seeds = seeds.withColumn("host", tick_udf("host"))
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=1, host_budget=1,
                      use_bloom=False)
    result = run_crawl(spark, seeds, pages_df, cfg)
    assert result.rounds > 2  # budget carry-over rounds ran
    assert evaluated.value == len(fixture_web.SEEDS)


def test_depth_gate(spark, pages_df, seeds_df):
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=1, use_bloom=False)
    result = run_crawl(spark, seeds_df, pages_df, cfg)
    sim = _sim(max_depth=1)
    assert _engine_visited(result) == set(sim.visited.items())
    # the depth-4 page's email must never appear
    emails, _ = _engine_contacts(result)
    assert "never-reached@example.com" not in emails
    assert all(d <= 1 for _, (d, _) in emails.items())


def test_expected_semantic_facts(spark, pages_df, seeds_df):
    """Hard-coded facts independent of the oracle implementation."""
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=3, use_bloom=False)
    result = run_crawl(spark, seeds_df, pages_df, cfg)
    emails, phones = _engine_contacts(result)

    # extraction positives
    assert "info@example.com" in emails
    assert "ceo@example.com" in emails  # html entity decoded
    assert "jobs@example.com" in emails and "talent@example.com" in emails
    assert "recruit@example.com" in emails  # mailto cc list
    assert "sales@example.com" in emails  # <wrapped>
    assert "js_owner@example.com" in emails  # from .js raw content
    assert "esc@example.com" in emails  # \\u0040 decoded
    assert "team@sub.example.com" in emails  # same org, subdomain
    assert "orders@example.com" in emails  # via link-discovered subdomain
    # negatives
    assert "partner@gmail.com" not in emails  # out of org
    assert "secret@example.com" not in emails  # out-of-scope host never fetched
    assert "never-reached@example.com" not in emails  # depth gate
    assert not any(e.endswith("png") or e.endswith("jpeg") for e in emails)

    # phones: + prefixed valid; no-region nationals dropped; js phone dropped
    assert "2125550123" in phones and "2125550124" in phones
    assert "2125550199" in phones
    assert "2101234567" in phones  # +30 → GR national
    assert "2125550888" not in phones  # js file: phones suppressed
    assert "2125550125" not in phones  # national form, no default region for .com

    # subdomain discovery via BFS link
    hosts = {
        r["url"].split("://")[1].split("/")[0]
        for r in result.url_seen.select("url").collect()
    }
    assert "shop.example.com" in hosts
    assert not any(h.endswith("outside.org") for h in hosts)
    # the tail's shrunken distinct-host job equals the full per-URL set
    assert result.subdomains == sorted(hosts)
    assert result.summary["num_subdomains"] == len(hosts)

    # struct-key collapse: /contact never visited alongside /contact.html
    urls = {r["url"] for r in result.url_seen.select("url").collect()}
    assert "https://example.com/contact.html" in urls
    assert "https://example.com/contact" not in urls


def test_politeness_budget_carryover(spark, pages_df, seeds_df):
    cfg = CrawlConfig(
        scope_host=fixture_web.SCOPE, max_depth=3, host_budget=1, use_bloom=False
    )
    result = run_crawl(spark, seeds_df, pages_df, cfg)
    sim = _sim(max_depth=3, budget=1)
    assert _engine_visited(result) == set(sim.visited.items())
    emails, phones = _engine_contacts(result)
    assert emails == sim.emails and phones == sim.phones
    # budget=1 must take strictly more rounds than depth+1
    assert result.rounds > 4


def test_robots_gating(spark, pages_df, seeds_df):
    robots_rows = [("example.com", "/deep", 1.0), ("shop.example.com", "/cart", 1.0)]
    robots_df = spark.createDataFrame(robots_rows, schema=schemas.ROBOTS)
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=3, use_bloom=False)
    result = run_crawl(spark, seeds_df, pages_df, cfg, robots=robots_df)
    sim = _sim(max_depth=3, robots=[("example.com", "/deep"), ("shop.example.com", "/cart")])
    assert _engine_visited(result) == set(sim.visited.items())
    urls = {u for u, _ in _engine_visited(result)}
    assert not any("/deep" in u for u in urls)
    assert not any("/cart" in u for u in urls)
    emails, _ = _engine_contacts(result)
    assert "cart-help@example.com" not in emails


def test_resume_equals_uninterrupted(spark, pages_df, seeds_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    base = dict(scope_host=fixture_web.SCOPE, max_depth=3, use_bloom=False)

    # uninterrupted run
    full = run_crawl(spark, seeds_df, pages_df, CrawlConfig(**base))

    # killed after 2 rounds, then resumed
    cfg_kill = CrawlConfig(**base, checkpoint_dir=ckpt, max_rounds=2)
    run_crawl(spark, seeds_df, pages_df, cfg_kill)
    cfg_resume = CrawlConfig(**base, checkpoint_dir=ckpt)
    resumed = run_crawl(spark, seeds_df, pages_df, cfg_resume, resume=True)

    assert _engine_visited(resumed) == _engine_visited(full)
    assert _engine_contacts(resumed) == _engine_contacts(full)
    assert resumed.summary == full.summary


def test_resume_without_checkpoint_dir_raises(spark, pages_df, seeds_df):
    """Without a checkpoint dir there is no state to resume from; a
    silent fresh re-crawl would hide the caller's mistake."""
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=1)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        run_crawl(spark, seeds_df, pages_df, cfg, resume=True)


def test_pre_extract_resume_equals_uninterrupted(
    spark, pages_df, seeds_df, tmp_path
):
    """Kill/resume under pre_extract: the pre-extraction table is
    deterministic from pages, so resume recomputes it and the final
    state must equal the uninterrupted run."""
    ckpt = str(tmp_path / "ckpt_pre")
    base = dict(scope_host=fixture_web.SCOPE, max_depth=3, use_bloom=True,
                bloom_parts=4, bloom_expected_per_part=1000, pre_extract=True)

    full = run_crawl(spark, seeds_df, pages_df, CrawlConfig(**base))
    cfg_kill = CrawlConfig(**base, checkpoint_dir=ckpt, max_rounds=2)
    run_crawl(spark, seeds_df, pages_df, cfg_kill)
    cfg_resume = CrawlConfig(**base, checkpoint_dir=ckpt)
    resumed = run_crawl(spark, seeds_df, pages_df, cfg_resume, resume=True)

    assert _engine_visited(resumed) == _engine_visited(full)
    assert _engine_contacts(resumed) == _engine_contacts(full)


def test_resume_bloom_on_over_bloomless_checkpoint(spark, pages_df, seeds_df, tmp_path):
    """Resume with use_bloom=True over a checkpoint written with
    use_bloom=False: the filter must be built from the full url_seen,
    or a delta-only bloom would mark resumed-seen URLs as 'definitely
    new' and re-crawl them (ADVICE r1). With probe_min_candidates=0 the
    first resumed round probes, so it builds the filter there."""
    ckpt = str(tmp_path / "ckpt_bloomless")
    base = dict(scope_host=fixture_web.SCOPE, max_depth=3)

    full = run_crawl(
        spark, seeds_df, pages_df, CrawlConfig(**base, use_bloom=False)
    )

    cfg_kill = CrawlConfig(**base, use_bloom=False, checkpoint_dir=ckpt, max_rounds=2)
    run_crawl(spark, seeds_df, pages_df, cfg_kill)
    cfg_resume = CrawlConfig(
        **base, use_bloom=True, bloom_parts=4, bloom_expected_per_part=1000,
        checkpoint_dir=ckpt, probe_min_candidates=0,
    )
    resumed = run_crawl(spark, seeds_df, pages_df, cfg_resume, resume=True)

    assert _engine_visited(resumed) == _engine_visited(full)
    # no duplicate url_seen rows (re-crawl symptom)
    n = resumed.url_seen.count()
    assert n == resumed.url_seen.select("key_hash").distinct().count()
    assert _engine_contacts(resumed) == _engine_contacts(full)


def test_lazy_bloom_on_both_sides_of_the_probe_gate(
    spark, pages_df, seeds_df, tmp_path, monkeypatch
):
    """The fixture crawl's per-round candidate bounds are 6, 7, 1, 1;
    with ``probe_min_candidates=6`` only round 1 probes. Round 0 stages
    no bloom, round 1 builds it once from the whole url_seen, and
    rounds 2-3 (below the gate again) extend it with ``bloom_add``, so
    it covers every visited key. Output equals a ``use_bloom=False``
    run, and so does a kill/resume on each side of the crossing
    round."""
    import numpy as np

    from breakchecker_spark.operators import bloom, seen
    from breakchecker_spark.plans.checkpoint import CheckpointStore

    built, added, bounds = [], [], []
    real_build, real_add, real_filter = (
        seen.build_bloom, seen.bloom_add, seen.filter_new
    )

    def build(keys, *a, **kw):
        built.append(keys.count())
        return real_build(keys, *a, **kw)

    def add(table, keys, *a, **kw):
        added.append(keys.count())
        return real_add(table, keys, *a, **kw)

    def filter_new(*a, **kw):
        bounds.append(kw["candidate_bound"])
        return real_filter(*a, **kw)

    monkeypatch.setattr(seen, "build_bloom", build)
    monkeypatch.setattr(seen, "bloom_add", add)
    monkeypatch.setattr(seen, "filter_new", filter_new)
    base = dict(scope_host=fixture_web.SCOPE, max_depth=3, bloom_parts=4,
                bloom_expected_per_part=1000)
    lazy = dict(base, probe_min_candidates=6)

    def crawl(ckpt=None, resume=False, **kw):
        cfg = CrawlConfig(**{**lazy, **kw}, checkpoint_dir=ckpt)
        return run_crawl(spark, seeds_df, pages_df, cfg, resume=resume)

    def same(a, b):
        assert _engine_visited(a) == _engine_visited(b)
        assert _engine_contacts(a) == _engine_contacts(b)
        assert _engine_metrics(a) == _engine_metrics(b)
        assert a.summary == b.summary

    plain = run_crawl(spark, seeds_df, pages_df, CrawlConfig(**base, use_bloom=False))
    assert not built and not added
    bounds.clear()

    ckpt = str(tmp_path / "lazy")
    full = crawl(ckpt)
    assert bounds == [6, 7, 1, 1]
    same(full, plain)
    per_round = {
        r["round"]: r["value"]
        for r in full.metrics.filter(F.col("metric") == "frontier_urls").collect()
    }
    # built once, in round 1, from every key seen through round 1
    assert built == [per_round[0] + per_round[1]]
    assert added == [per_round[2], per_round[3]]
    bloom_rounds = {r["round"] for r in full.lineage.collect() if r["table"] == "bloom"}
    assert bloom_rounds == {1, 2, 3}
    parts = {
        r["part_id"]: bloom.BloomPart.from_bytes(r["nbits"], r["k"], r["bits"])
        for r in CheckpointStore(ckpt).read(spark, "bloom").collect()
    }
    for r in full.url_seen.select("key_hash").collect():
        key = np.array([r["key_hash"]], dtype=np.int64)
        assert parts[r["key_hash"] % 4].might_contain(key)[0]

    # kill before the crossing round: the resumed run builds the bloom
    for killed_after, want_built in ((1, 1), (2, 0)):
        built.clear()
        added.clear()
        ckpt = str(tmp_path / f"kill{killed_after}")
        crawl(ckpt, max_rounds=killed_after)
        has_bloom = "bloom" in CheckpointStore(ckpt).manifest()["tables"]
        assert has_bloom == (killed_after == 2)
        built.clear()
        resumed = crawl(ckpt, resume=True)
        same(resumed, full)
        assert len(built) == want_built
        assert len(added) == 2


def test_fetch_join_builds_on_frontier_side(spark):
    """The pre-extract round join broadcasts the frontier when its
    driver-side row count is within the bound, even when the planner's
    size estimate of the frontier (a filtered 2M-row range here)
    exceeds the persisted pre table's: the pre table is then scanned,
    not hashed. Above the bound the planner chooses. Only ``url`` and
    ``depth`` ride along from the frontier side."""
    import re

    from breakchecker_spark.plans.crawl import _fetch_join

    pre = spark.createDataFrame(
        [(f"https://h/{i}", i) for i in range(200)], "_fk string, n int"
    ).persist()
    pre.count()
    frontier = spark.range(2_000_000).filter("id < 3").select(
        F.concat(F.lit("https://h/"), F.col("id").cast("string")).alias("_fk"),
        F.col("id").cast("string").alias("url"),
        F.lit(0).alias("depth"),
        F.lit("h").alias("host"),
    )

    def build_side(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.search(r"BroadcastHashJoin .*?(Build\w+)", plan).group(1)

    try:
        assert build_side(_fetch_join(frontier, pre, 3, 2)) == "BuildRight"
        joined = _fetch_join(frontier, pre, 3, 3)
        assert build_side(joined) == "BuildLeft"
        assert joined.columns == ["_fk", "url", "depth", "n"]
        assert sorted(r["n"] for r in joined.collect()) == [0, 1, 2]
    finally:
        pre.unpersist()


def test_resume_landing_on_compaction_round(
    spark, pages_df, seeds_df, tmp_path
):
    """Resume where the FIRST resumed round is also a compaction round:
    the compaction folds the checkpoint's committed versions and the
    round's delta appends on top. host_budget=1 stretches the crawl so
    round 5 exists; (5+1) % compact_every==0 with 5 ≥ min_versions
    fires the url_seen compact on the first resumed round."""
    ckpt = str(tmp_path / "ckpt_compact")
    base = dict(scope_host=fixture_web.SCOPE, max_depth=3, host_budget=1,
                use_bloom=True, bloom_parts=4, bloom_expected_per_part=1000,
                compact_every=3)

    full = run_crawl(spark, seeds_df, pages_df, CrawlConfig(**base))
    assert full.rounds > 5

    cfg_kill = CrawlConfig(**base, checkpoint_dir=ckpt, max_rounds=5)
    run_crawl(spark, seeds_df, pages_df, cfg_kill)
    cfg_resume = CrawlConfig(**base, checkpoint_dir=ckpt)
    resumed = run_crawl(spark, seeds_df, pages_df, cfg_resume, resume=True)

    assert _engine_visited(resumed) == _engine_visited(full)
    n = resumed.url_seen.count()
    assert n == resumed.url_seen.select("key_hash").distinct().count()
    assert _engine_contacts(resumed) == _engine_contacts(full)


def test_resume_refuses_bucketed_checkpoint(spark, pages_df, seeds_df, tmp_path):
    """A checkpoint whose manifest records the removed bucketed
    url_seen layout (seen_buckets > 0) carries a bucket column that
    bucketless deltas cannot union with: resume refuses it up front."""
    import json

    ckpt = tmp_path / "ckpt_bucketed"
    ckpt.mkdir()
    manifest = {"round": 1, "tables": {}, "run_id": "run0",
                "frontier_rows": 3, "seen_buckets": 32}
    (ckpt / "_manifest.json").write_text(json.dumps(manifest))
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, checkpoint_dir=str(ckpt))
    with pytest.raises(ValueError, match="seen_buckets"):
        run_crawl(spark, seeds_df, pages_df, cfg, resume=True)


def test_metrics_recorded(spark, pages_df, seeds_df):
    cfg = CrawlConfig(scope_host=fixture_web.SCOPE, max_depth=2, use_bloom=False)
    result = run_crawl(spark, seeds_df, pages_df, cfg)
    m = {r["metric"] for r in result.metrics.select("metric").distinct().collect()}
    assert {"frontier_urls", "contacts_extracted", "emails_dropped", "phones_dropped"} <= m
    total_frontier = (
        result.metrics.filter(F.col("metric") == "frontier_urls")
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert total_frontier == result.summary["num_endpoints"]


def test_fused_preextract_equals_chained(spark, pages_df):
    """r6: preextract_pages is one fused mapInPandas stage; its rows
    (incl. per-page link ORDER and exact drop counts) must equal the
    chained pandas-UDF composition it replaced."""
    from breakchecker_spark.operators import extract

    from urllib.parse import urlparse

    from breakchecker_spark.functions import urlnorm

    args = (fixture_web.SCOPE, "GR", fixture_web.SCOPE)
    fused = extract.preextract_pages(pages_df, *args)
    chained = extract.preextract_pages_chained(pages_df, *args)
    ra = sorted(
        (r.asDict(recursive=True) for r in fused.collect()),
        key=lambda r: r["url"],
    )
    rb = sorted(
        (r.asDict(recursive=True) for r in chained.collect()),
        key=lambda r: r["url"],
    )
    assert len(ra) == len(rb)
    n_links = 0
    for x, y in zip(ra, rb):
        # links carry (url, host, skey); the url sequence must equal
        # the chained output exactly, and host/skey must equal the
        # url_host / struct_key_str pure functions of each link url
        for link in x["links"]:
            assert link["host"] == (urlparse(link["url"]).hostname or "").lower()
            assert link["skey"] == urlnorm.struct_key_str(link["url"])
            n_links += 1
        x = dict(x, links=[link["url"] for link in x["links"]])
        assert x == y
    assert n_links > 0
    # no chained python runners on the hot path: exactly one
    # MapInPandas / python-eval node in the fused plan
    import re

    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"MapInPandas", plan)) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fused_process_pages_equals_chained(spark, pages_df):
    """r6: the classic/live per-round extraction is one fused
    mapInPandas stage; its outputs (link candidate set incl. carried
    host/skey, contact rows, exact drop counts) must equal the chained
    pandas-UDF pipeline it replaced."""
    from urllib.parse import urlparse

    from breakchecker_spark.functions import urlnorm
    from breakchecker_spark.operators import extract

    fetched = pages_df.select(
        "url", F.lit(2).alias("depth"), "html", "text"
    )
    args = (fixture_web.SCOPE, "GR", fixture_web.SCOPE)
    links_f, contacts_f, drops_f, caches_f = extract.process_pages(fetched, *args)
    links_c, contacts_c, drops_c, caches_c = extract.process_pages_chained(
        fetched, *args
    )
    rows_f = links_f.collect()
    rows_c = links_c.collect()
    assert {(r["url"], r["depth"]) for r in rows_f} == {
        (r["url"], r["depth"]) for r in rows_c
    }
    for r in rows_f:
        assert r["host"] == (urlparse(r["url"]).hostname or "").lower()
        assert r["skey"] == urlnorm.struct_key_str(r["url"])
    cf = sorted(map(tuple, contacts_f.collect()))
    cc = sorted(map(tuple, contacts_c.collect()))
    assert cf == cc and len(cf) > 0
    assert sorted(drops_f.get()) == sorted(drops_c.get())
    for df_ in caches_f + caches_c:
        df_.unpersist()
    # one Python stage in the fused round plan
    plan = links_f._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
