"""The three benchmark workloads: set-up, one timed operation, its check.

Each workload is closed loop with one client: the harness in ``run.py``
calls :meth:`op` again only after the previous operation returned, and
checks each operation's outputs outside its timed section.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import threading
import time
import traceback
from http.server import ThreadingHTTPServer
from urllib.parse import urlparse

import gen
from spans import median, union_length

from breakchecker_spark import api, oracle, schemas
from breakchecker_spark.operators import breach, extract, politeness, seen
from breakchecker_spark.plans import checkpoint, crawl, report
from breakchecker_spark.sources import seeds as seeds_mod

SIZES = {
    # ~30 KB pages, so the one-pass extraction is near half of a crawl
    "full": {"bulk_pages": 2000, "bulk_filler": 40, "scan_sites": 60, "suite_scale": 1.0},
    "tiny": {"bulk_pages": 150, "bulk_filler": 2, "scan_sites": 6, "suite_scale": 0.1},
}
BULK_MAX_DEPTH = 12


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Workload:
    """Interface the harness drives; ``tracer`` is set on traced runs."""

    name = ""

    def __init__(self, spark, work: str, seed: int, size: dict, tracer=None) -> None:
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.tracer = tracer
        self.ops: list[dict] = []  # per operation: wall time and counts

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, k: int) -> dict:
        raise NotImplementedError

    def check(self, k: int, out: dict) -> list[str]:
        return []

    def summary(self) -> dict:
        """End-to-end figures under their per-workload names."""
        return {}

    def work_items(self, out: dict) -> float:
        """Units of work one operation completed (for ``work_per_s``)."""
        raise NotImplementedError

    def patch(self) -> None:
        """Install this workload's tracer wrappers."""

    def close(self) -> None:
        """Stop whatever ``setup`` started."""

    def layers(self, op_spans: list) -> dict:
        """Per-layer figures of a traced run, as {name: (value, unit)}."""
        return {}


# ------------------------------------------------------------ crawl trace


def _patch_crawl_layers(t) -> None:
    """Wrappers shared by both crawl workloads."""
    t.patch(extract, "preextract_pages", "extract.preextract_pages", boundary="pre", capture="preextract")
    t.patch(politeness, "apply_robots", "politeness.apply_robots", boundary="round")
    t.patch(politeness, "host_budget_split", "politeness.host_budget_split")
    t.patch(extract, "process_pages", "extract.process_pages")
    t.patch(extract, "dedup_contacts", "extract.dedup_contacts", boundary="tail")
    t.patch(seen, "filter_new", "seen.filter_new", on_call=lambda a, kw: _count_probe(t, a, kw))
    store = checkpoint.CheckpointStore
    t.patch(store, "stage_append", lambda a, k: f"checkpoint.stage_{a[1]}")
    t.patch(store, "stage_replace", lambda a, k: f"checkpoint.stage_{a[1]}")
    t.patch(store, "stage_append_rows", "checkpoint.stage_metrics")
    t.patch(store, "commit", "checkpoint.commit")
    t.patch(store, "read", "checkpoint.read")
    t.patch(store, "gc", "checkpoint.gc")


def _count_probe(t, args, kw) -> None:
    """Count a ``seen.filter_new`` call that skips the bloom probe, and
    its candidate bound, from the call's own arguments and the same test
    filter_new applies."""
    bound = kw.get("candidate_bound")
    pmin = kw.get("probe_min_candidates", 50_000)
    maxb = kw.get("max_broadcast_rows", 4_000_000)
    bloom = args[2] if len(args) > 2 else kw.get("bloom_table")
    skipped = (
        bloom is not None
        and kw.get("strategy", "broadcast") == "broadcast"
        and not kw.get("prune_buckets", False)
        and bound is not None
        and pmin
        and bound <= pmin
        and (maxb is None or bound <= maxb)
    )
    t.calls["seen.probe_skipped"] += bool(skipped)
    t.calls["seen.candidate_bound_rows"] += bound or 0


_COMMIT_READ = ("checkpoint.commit", "checkpoint.read", "checkpoint.gc")


def _crawl_layers(t, ops: list) -> dict:
    """Per-operation phase and layer figures common to both crawl workloads."""
    per_op = []
    for op in ops:
        spans = t.op_spans(op)
        phases = [s for s in spans if s.parent == op.id]
        rounds = [s for s in phases if s.name == "round"]
        in_round = {s.id for s in rounds}
        round_jobs = sum(s.jobs for s in spans if s.id in in_round or s.parent in in_round)
        round_tasks = sum(s.tasks for s in spans if s.id in in_round or s.parent in in_round)
        by_name: dict = {}
        jobs_by_name: dict = {}
        for s in spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + s.duration
            jobs_by_name[s.name] = jobs_by_name.get(s.name, 0) + s.jobs
        jobs, tasks = t.jobs(op)
        per_op.append(
            {
                "wall": op.duration,
                "rounds": len(rounds),
                "round_p50": median(s.duration for s in rounds),
                "phase": {n: sum(s.duration for s in phases if s.name == n) for n in {p.name for p in phases}},
                "by_name": by_name,
                "self": t.self_times(op),
                "jobs_by_name": jobs_by_name,
                "jobs": jobs,
                "tasks": tasks,
                "round_jobs": round_jobs / max(len(rounds), 1),
                "round_tasks": round_tasks / max(len(rounds), 1),
                "coverage": t.coverage(op),
                "frontier_rows": sum(s.ret or 0 for s in spans if s.name == "checkpoint.stage_frontier"),
                # staging runs on several threads at once: the share of the
                # operation any staging covers, not the sum of the stages
                "stage_union": union_length(
                    [(s.start, s.end) for s in spans if s.name.startswith("checkpoint.stage_")]
                ),
                "commit_union": union_length(
                    [(s.start, s.end) for s in spans if s.name in _COMMIT_READ]
                ),
            }
        )

    def m(key):
        return median(o[key] for o in per_op)

    def frac(phase):
        return median(o["phase"].get(phase, 0.0) / o["wall"] for o in per_op)

    def stage_s(name):
        return median(o["by_name"].get(name, 0.0) for o in per_op)

    n_ops = max(len(per_op), 1)
    bound = t.calls["seen.candidate_bound_rows"]
    out = {
        "crawl.rounds": (m("rounds"), "count"),
        "crawl.round_p50_s": (m("round_p50"), "s"),
        "crawl.pre_s": (median(o["phase"].get("pre", 0.0) for o in per_op), "s"),
        "crawl.tail_s": (median(o["phase"].get("tail", 0.0) for o in per_op), "s"),
        "crawl.pre_frac": (frac("pre"), "frac"),
        "crawl.rounds_frac": (frac("round"), "frac"),
        "crawl.tail_frac": (frac("tail"), "frac"),
        "spark.jobs_per_op": (m("jobs"), "count"),
        "spark.tasks_per_op": (m("tasks"), "count"),
        "spark.jobs_per_round": (m("round_jobs"), "count"),
        "spark.tasks_per_round": (m("round_tasks"), "count"),
        "seen.filter_new_calls": (t.calls["seen.filter_new"] / n_ops, "count"),
        "seen.probe_skipped_calls": (t.calls["seen.probe_skipped"] / n_ops, "count"),
        "seen.candidate_bound_rows": (bound / n_ops, "count"),
        "trace.coverage_frac": (min(o["coverage"] for o in per_op) if per_op else 0.0, "frac"),
    }
    frontier = sum(o["frontier_rows"] for o in per_op)
    if bound and frontier:
        out["seen.new_frac"] = (frontier / bound, "frac")
    for name in ("contacts", "url_seen", "frontier", "bloom", "metrics"):
        out[f"checkpoint.stage_{name}_s"] = (stage_s(f"checkpoint.stage_{name}"), "s")
    for name in ("commit", "read", "gc"):
        out[f"checkpoint.{name}_s"] = (stage_s(f"checkpoint.{name}"), "s")
    out["checkpoint.stage_frac"] = (median(o["stage_union"] / o["wall"] for o in per_op), "frac")
    out["checkpoint.commit_read_frac"] = (median(o["commit_union"] / o["wall"] for o in per_op), "frac")
    for n in sorted({n for o in per_op for n in o["jobs_by_name"]}):
        out[f"spark.jobs.{n}"] = (median(o["jobs_by_name"].get(n, 0) for o in per_op), "count")
        out[f"self_s.{n}"] = (median(o["self"].get(n, 0.0) for o in per_op), "s")
    return out


# ------------------------------------------------------------ replay_bulk


class ReplayBulk(Workload):
    """One checkpointed pre-extract crawl of a seeded synthetic web per
    operation (``run_crawl`` plus ``contacts.count()``, as ``bench.py``)."""

    name = "replay_bulk"

    def setup(self) -> None:
        self.web, blocks = gen.bulk_web(self.seed, self.size["bulk_pages"], self.size["bulk_filler"])
        path = os.path.join(self.work, "bulk_pages")
        self.n_pages = gen.write_pages([self.web], blocks, path, self.seed, files=8)
        self.pages = self.spark.read.parquet(path)
        self.seeds = self.spark.createDataFrame([(self.web.seed_host, "https")], schema=schemas.SEEDS)
        self.truth = gen.expected_crawl(self.web, BULK_MAX_DEPTH)
        # untimed warm-up: a two-round crawl of the same web (the
        # pre-extract pass still covers every page), so the timed crawls
        # run with compiled code and warm Python workers
        warm = os.path.join(self.work, "warm_ckpt")
        self._crawl(warm, max_depth=1)
        shutil.rmtree(warm, ignore_errors=True)

    def _crawl(self, ckpt: str, max_depth: int = BULK_MAX_DEPTH):
        cfg = crawl.CrawlConfig(
            scope_host=self.web.scope,
            max_depth=max_depth,
            use_bloom=True,
            bloom_parts=32,
            bloom_expected_per_part=max(self.n_pages // 16, 1000),
            checkpoint_dir=ckpt,
            run_id="bench",
            pre_extract=True,
        )
        res = crawl.run_crawl(self.spark, self.seeds, self.pages, cfg)
        return res, res.contacts.count()

    def op(self, k: int) -> dict:
        ckpt = os.path.join(self.work, f"ckpt{k}")
        t0 = time.perf_counter()
        res, n_ids = self._crawl(ckpt)
        wall = time.perf_counter() - t0
        out = {"wall": wall, "res": res, "ckpt": ckpt, "visited": res.summary["num_endpoints"], "ids": n_ids}
        self.ops.append(out)
        return out

    def check(self, k: int, out: dict) -> list[str]:
        res = out.pop("res")
        try:
            want_visited, want_contacts = self.truth
            got_visited = {r["url"]: r["depth"] for r in res.url_seen.select("url", "depth").collect()}
            got_contacts = {
                (r["kind"], r["identifier"], r["source_url"], r["depth"]) for r in res.contacts.collect()
            }
            errors = []
            if got_visited != want_visited:
                diff = set(got_visited.items()) ^ set(want_visited.items())
                errors.append(f"visited set/depths differ on {len(diff)} entries, e.g. {sorted(diff)[:3]}")
            if got_contacts != want_contacts:
                diff = got_contacts ^ want_contacts
                errors.append(f"contacts differ on {len(diff)} rows, e.g. {sorted(diff)[:3]}")
            if out["ids"] != len(want_contacts) or out["visited"] != len(want_visited):
                errors.append("summary counts differ from ground truth")
            if self.tracer is not None:
                lin = res.lineage.groupBy().sum("files", "bytes").collect()[0]
                out["files_staged"], out["bytes_staged"] = int(lin[0] or 0), int(lin[1] or 0)
                drops = {
                    r["metric"]: r["v"]
                    for r in res.metrics.groupBy("metric").sum("value").withColumnRenamed("sum(value)", "v").collect()
                }
                out["emails_dropped"] = drops.get("emails_dropped", 0)
                out["phones_dropped"] = drops.get("phones_dropped", 0)
            return errors
        finally:
            shutil.rmtree(out["ckpt"], ignore_errors=True)

    def summary(self) -> dict:
        walls = [o["wall"] for o in self.ops]
        if not walls:
            return {}
        return {
            "crawl_s": (median(walls), "s"),
            "frontier_urls_per_s": (median(o["visited"] / o["wall"] for o in self.ops), "1/s"),
            "identifiers_per_s": (median(o["ids"] / o["wall"] for o in self.ops), "1/s"),
        }

    def work_items(self, out: dict) -> float:
        return out["visited"]

    def patch(self) -> None:
        _patch_crawl_layers(self.tracer)

    def layers(self, op_spans: list) -> dict:
        t = self.tracer
        out = _crawl_layers(t, op_spans)
        out["checkpoint.files_staged"] = (median(o.get("files_staged", 0) for o in self.ops), "count")
        out["checkpoint.bytes_staged"] = (median(o.get("bytes_staged", 0) for o in self.ops), "bytes")
        out["extract.emails_dropped"] = (median(o.get("emails_dropped", 0) for o in self.ops), "count")
        out["extract.phones_dropped"] = (median(o.get("phones_dropped", 0) for o in self.ops), "count")
        out["politeness.carryover_rounds"] = (
            out["crawl.rounds"][0] - (1 + max(self.truth[0].values())),
            "count",
        )
        # direct drives of the one-pass extraction on the captured input:
        # forced to the noop sink, then again under the UDF profiler
        t.unpatch()
        args, kw = t.captured["preextract"]
        drive = _timed(lambda: _noop(extract.preextract_pages(*args, **kw)))
        out["extract.preextract_s"] = (drive, "s")
        out["extract.pages_per_s"] = (self.n_pages / drive, "1/s")
        python_s = _profiled_python_s(self.spark, lambda: _noop(extract.preextract_pages(*args, **kw)))
        out["extract.udf_python_s"] = (python_s, "s")
        return out


def _profiled_python_s(spark, fn) -> float:
    """Python time inside UDFs (summed over worker processes) while
    ``fn`` runs, from PySpark's built-in perf UDF profiler.  It covers
    ``mapInPandas``, so the fused extraction stage is included.  The
    profiler slows Python code, so this overstates the unprofiled time."""
    coll = spark._profiler_collector
    coll.clear_perf_profiles()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        fn()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    total = sum(st.total_tt for st in coll._perf_profile_results.values())
    coll.clear_perf_profiles()
    return total


# ---------------------------------------------------------- scan_requests


class ScanRequests(Workload):
    """Domain scans POSTed one at a time to ``/api/scan/`` on a local
    server running ``api.make_handler(api.make_runner(pages, breaches))``."""

    name = "scan_requests"

    def setup(self) -> None:
        n_sites = self.size["scan_sites"]
        self.webs, blocks = gen.scan_sites(self.seed, n_sites)
        pages_path = os.path.join(self.work, "scan_pages")
        breach_path = os.path.join(self.work, "breaches")
        gen.write_pages(self.webs, blocks, pages_path, self.seed, files=4)
        self.breaches = gen.breach_table(self.seed, self.webs)
        gen.write_breaches(self.breaches, breach_path)
        self.blocks = blocks
        self.requests = gen.scan_requests(self.seed, n_sites, 500)
        self._expected: dict = {}
        self.runner = api.make_runner(pages_path, breach_path)
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), api.make_handler(self.runner))
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        # untimed warm-up: a one-round budgeted scan of site0, which the
        # timed sequence never asks for
        warm = self._post({"domain": "site0.gr", "depth": 0, "budget": 3})
        if "summary" not in warm:
            raise RuntimeError(f"warm-up scan failed: {warm}")

    def close(self) -> None:
        if getattr(self, "thread", None) is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)

    def _post(self, req: dict) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.server.server_address[1], timeout=170)
        try:
            conn.request("POST", "/api/scan/", json.dumps(req), {"Content-Type": "application/json"})
            resp = conn.getresponse()
            body = json.loads(resp.read())
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status}: {body}")
            return body
        finally:
            conn.close()

    def op(self, k: int) -> dict:
        req = self.requests[k % len(self.requests)]
        t0 = time.perf_counter()
        rep = self._post(req)
        wall = time.perf_counter() - t0
        out = {"wall": wall, "req": req, "report": rep, "visited": rep["summary"]["num_endpoints"]}
        out["ids"] = rep["summary"]["num_emails"] + rep["summary"]["num_phones"]
        self.ops.append(out)
        return out

    def expected(self, req: dict) -> tuple[dict, dict]:
        """(report without timestamps, simulated crawl) for a request,
        from ``oracle.simulate_crawl`` over the site's pages."""
        key = (req["domain"], req["depth"], req.get("budget"))
        if key not in self._expected:
            web = next(w for w in self.webs if w.scope == req["domain"])
            rendered = {u: gen.render(p, self.blocks) for u, p in web.pages.items()}
            sim = oracle.simulate_crawl(
                {u: h for u, (h, _) in rendered.items()},
                [(web.seed_host, "https")],
                web.scope,
                req["depth"],
                host_budget=req.get("budget"),
                page_texts={u: t for u, (_, t) in rendered.items()},
            )

            def rows(found, key_name):
                return [
                    {key_name: i, "source": src, "breaches": sorted(set(self.breaches.get(i, [])))}
                    for i, (_, src) in sorted(found.items())
                ]

            emails, phones = rows(sim.emails, "email"), rows(sim.phones, "phone")
            hosts = sorted({(urlparse(u).hostname or "").lower() for u in sim.visited})
            want = {
                "scan_domain": web.scope,
                "summary": {
                    "num_subdomains": len(hosts),
                    "num_endpoints": len(sim.visited),
                    "num_emails": len(emails),
                    "num_phones": len(phones),
                    "num_breached_emails": sum(1 for e in emails if e["breaches"]),
                    "num_breached_phones": sum(1 for p in phones if p["breaches"]),
                    "emails_dropped": sim.emails_dropped,
                    "phones_dropped": sim.phones_dropped,
                },
                "subdomains": hosts,
                "emails": emails,
                "phones": phones,
            }
            self._expected[key] = (want, sim)
        return self._expected[key]

    def check(self, k: int, out: dict) -> list[str]:
        want, _ = self.expected(out["req"])
        got = {key: out["report"].get(key) for key in want}
        if got == want:
            return []
        bad = [key for key in want if got[key] != want[key]]
        return [f"scan {out['req']}: report differs in {bad}: got {str({b: got[b] for b in bad})[:300]}"]

    def summary(self) -> dict:
        walls = sorted(o["wall"] for o in self.ops)
        if not walls:
            return {}
        out = {
            "scan_p50_s": (median(walls), "s"),
            "frontier_urls_per_s": (median(o["visited"] / o["wall"] for o in self.ops), "1/s"),
            "identifiers_per_s": (median(o["ids"] / o["wall"] for o in self.ops), "1/s"),
        }
        n = len(walls)
        if n > 10:
            # highest percentile with at least ten scans beyond it
            out[f"scan_tail_s(p{100 * (n - 10) / n:.0f},n={n})"] = (walls[n - 11], "s")
        else:
            out["scan_tail_s"] = (float("nan"), f"s (needs over 10 scans, {n} timed)")
        return out

    def work_items(self, out: dict) -> float:
        return out["visited"]

    def patch(self) -> None:
        t = self.tracer
        _patch_crawl_layers(t)
        t.patch(seeds_mod, "live_hosts", "seeds.live_hosts", boundary="seeds", capture="live_hosts")
        t.patch(breach, "match_breaches", "breach.match_breaches", boundary="breach", capture="match_breaches")
        t.patch(report, "build_report", "report.build_report", boundary="report")

    def layers(self, op_spans: list) -> dict:
        t = self.tracer
        out = _crawl_layers(t, op_spans)
        per_op = [
            {n: sum(s.duration for s in t.op_spans(op) if s.parent == op.id and s.name == n) / op.duration
             for n in ("seeds", "breach", "report")}
            for op in op_spans
        ]
        for n in ("seeds", "breach", "report"):
            out[f"{n}.frac"] = (median(p[n] for p in per_op), "frac")
        out["report.build_s"] = (
            median(sum(s.duration for s in t.op_spans(op) if s.name == "report.build_report") for op in op_spans),
            "s",
        )
        reps = [o["report"] for o in self.ops]
        ids = sum(r["summary"]["num_emails"] + r["summary"]["num_phones"] for r in reps)
        hits = sum(r["summary"]["num_breached_emails"] + r["summary"]["num_breached_phones"] for r in reps)
        out["breach.hit_frac"] = (hits / ids if ids else 0.0, "frac")
        out["extract.emails_dropped"] = (median(r["summary"]["emails_dropped"] for r in reps), "count")
        out["extract.phones_dropped"] = (median(r["summary"]["phones_dropped"] for r in reps), "count")
        carry = []
        for op, o in zip(op_spans, self.ops):
            _, sim = self.expected(o["req"])
            rounds = sum(1 for s in t.op_spans(op) if s.name == "round")
            carry.append(rounds - (1 + max(sim.visited.values())))
        out["politeness.carryover_rounds"] = (sum(carry) / len(carry) if carry else 0.0, "count")
        # direct drives of the lazily planned layers on the captured inputs
        t.unpatch()
        a, kw = t.captured["live_hosts"]
        out["seeds.live_hosts_s"] = (median(_timed(lambda: _noop(seeds_mod.live_hosts(*a, **kw))) for _ in range(3)), "s")
        a, kw = t.captured["match_breaches"]
        out["breach.match_s"] = (median(_timed(lambda: _noop(breach.match_breaches(*a, **kw))) for _ in range(3)), "s")
        return out


# --------------------------------------------------------- operator_suite


class OperatorSuite(Workload):
    """One pass over the ``bench.py`` HEADLINE queries, each built and run
    once to the noop sink, over seeded tables."""

    name = "operator_suite"

    def setup(self) -> None:
        import duckdb
        import pandas as pd
        from bench import HEADLINE
        from check_oracle import TABLES, normalize

        from breakchecker_spark import queries

        self.names, self.queries = list(HEADLINE), queries
        self.dir = os.path.join(self.work, "suite")
        gen.suite_tables(self.seed, self.size["suite_scale"], self.dir)
        # untimed warm-up that is also the output check: every query once,
        # collected (a thread per core), against its DuckDB oracle
        from concurrent.futures import ThreadPoolExecutor

        def collect(name):
            try:
                return queries.QUERIES[name](self.spark, self.dir).toPandas()
            except Exception:  # reported as a failed query, run continues
                traceback.print_exc()
                return None

        with ThreadPoolExecutor(max_workers=self.spark.sparkContext.defaultParallelism) as pool:
            got = dict(zip(self.names, pool.map(collect, self.names)))
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
            self.mismatch: dict[str, str] = {}
            for name in self.names:
                if got[name] is None:
                    self.mismatch[name] = "spark error"
                    continue
                g, w = normalize(got[name]), normalize(con.execute(queries.ORACLES[name]).fetchdf())
                if list(g.columns) != list(w.columns) or len(g) != len(w):
                    self.mismatch[name] = f"shape {g.shape} vs oracle {w.shape}"
                    continue
                try:
                    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
                except AssertionError as exc:
                    self.mismatch[name] = str(exc)[:300]
        finally:
            con.close()

    def op(self, k: int) -> dict:
        times, errors = {}, []
        t0 = time.perf_counter()
        for name in self.names:
            if self.tracer is not None:
                self.tracer.phase(f"q.{name}")
            q0 = time.perf_counter()
            try:
                _noop(self.queries.QUERIES[name](self.spark, self.dir))
            except Exception:  # one failed query does not end the pass
                traceback.print_exc()
                errors.append(name)
            times[name] = time.perf_counter() - q0
        wall = time.perf_counter() - t0
        out = {"wall": wall, "times": times, "raised": errors, "attempted": len(self.names)}
        self.ops.append(out)
        return out

    def check(self, k: int, out: dict) -> list[str]:
        bad = sorted(set(out["raised"]) | set(self.mismatch))
        return [f"{n}: {self.mismatch.get(n, 'raised in the timed pass')}" for n in bad]

    def summary(self) -> dict:
        if not self.ops:
            return {}
        return {"suite_s": (median(o["wall"] for o in self.ops), "s")}

    def work_items(self, out: dict) -> float:
        return out["attempted"]

    def layers(self, op_spans: list) -> dict:
        t = self.tracer
        out = {}
        for name in self.names:
            out[f"q.{name}_s"] = (median(o["times"][name] for o in self.ops), "s")
            out[f"q.{name}_frac"] = (median(o["times"][name] / o["wall"] for o in self.ops), "frac")
        jobs = [t.jobs(op) for op in op_spans]
        out["spark.jobs_per_op"] = (median(j for j, _ in jobs), "count")
        out["spark.tasks_per_op"] = (median(k for _, k in jobs), "count")
        out["trace.coverage_frac"] = (min(t.coverage(op) for op in op_spans), "frac")
        return out


WORKLOADS = {w.name: w for w in (ReplayBulk, ScanRequests, OperatorSuite)}
