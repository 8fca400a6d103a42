"""50-round checkpoint-store depth probe (VERDICT r4 item #7).

Compaction/gc are correctness-tested but were never measured
at depth: this runner drives a 50-round synthetic crawl (a URL chain —
one page per round, so every observed cost is the store's, not the
engine's per-row work), with ``compact_every=8``, and records:

* per-round commit cost (the engine's own ``round_millis`` metric) —
  the claim under test is that it stays FLAT as rounds accumulate,
  i.e. compaction keeps the append tables' version count bounded so
  read-back/listing cost can't creep;
* live url_seen version count per compaction cycle (from the
  manifest) — bounded by ``compact_every`` + 1;
* total version dirs gc'd;
* resume cost: re-open the finished checkpoint with ``resume=True``
  (frontier is empty → 0 rounds) and time the state reconstruction.

Writes BENCH/checkpoint_probe_r5.json.

Usage: python scripts/checkpoint_probe.py [n_rounds] [compact_every]
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from breakchecker_spark import schemas  # noqa: E402
from breakchecker_spark.plans.checkpoint import CheckpointStore  # noqa: E402
from breakchecker_spark.plans.crawl import CrawlConfig, run_crawl  # noqa: E402
from breakchecker_spark.session import get_spark  # noqa: E402

HOST = "chain.example"


def chain_pages(spark, n: int):
    """Root → p0 → p1 → … → p{n-1}: one new URL per round."""
    ts = datetime.datetime(2025, 1, 1)
    rows = [
        (
            f"https://{HOST}/",
            ts,
            f'<a href="https://{HOST}/p0">next</a> <p>c0@{HOST}</p>'.encode(),
            "root",
            "en",
        )
    ]
    for i in range(n):
        nxt = f'<a href="https://{HOST}/p{i + 1}">next</a>' if i + 1 < n else ""
        rows.append(
            (
                f"https://{HOST}/p{i}",
                ts,
                f"{nxt} <p>c{i + 1}@{HOST}</p>".encode(),
                f"page {i}",
                "en",
            )
        )
    return spark.createDataFrame(rows, schema=schemas.PAGES)


def main() -> None:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    compact_every = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    spark = get_spark(
        app_name="ckptprobe", master="local[4]", shuffle_partitions=4
    )
    pages = chain_pages(spark, n_rounds)
    seeds = spark.createDataFrame([(HOST, "https")], schema=schemas.SEEDS)
    ckpt = tempfile.mkdtemp(prefix="ckpt_probe_")
    cfg = CrawlConfig(
        scope_host=HOST,
        max_depth=n_rounds + 1,
        checkpoint_dir=ckpt,
        compact_every=compact_every,
        run_id="probe",
    )

    t0 = time.time()
    res = run_crawl(spark, seeds, pages, cfg)
    crawl_s = time.time() - t0

    per_round = {
        int(r["round"]): int(r["value"])
        for r in res.metrics.filter("metric = 'round_millis'").collect()
    }
    millis = [per_round[k] for k in sorted(per_round)]
    # rounds that ran a compaction pay the rewrite inside round_millis
    compact_rounds = [
        m
        for i, m in enumerate(millis)
        if (i + 1) % compact_every == 0 and i + 1 >= compact_every
    ]
    plain_rounds = [
        m
        for i, m in enumerate(millis)
        if (i + 1) % compact_every != 0
    ]

    store = CheckpointStore(ckpt)
    manifest = store.manifest()
    live_versions = {t: len(v) for t, v in manifest["tables"].items()}
    seen_rows = store.table_rows("url_seen")

    # resume: reconstruct final state from the manifest (0 new rounds)
    t1 = time.time()
    res2 = run_crawl(spark, seeds, pages, cfg, resume=True)
    resume_s = time.time() - t1
    resumed_ids = res2.contacts.count()

    report = {
        "rounds": res.rounds,
        "compact_every": compact_every,
        "crawl_seconds": round(crawl_s, 2),
        "round_millis_first5": millis[:5],
        "round_millis_last5": millis[-5:],
        "round_millis_median_plain": statistics.median(plain_rounds),
        "round_millis_median_compacting": (
            statistics.median(compact_rounds) if compact_rounds else None
        ),
        # flatness: last-quarter median over first-quarter median — a
        # store whose commit cost grows with depth shows > 1 here
        "flatness_last_over_first_quartile": round(
            statistics.median(plain_rounds[-len(plain_rounds) // 4:])
            / statistics.median(plain_rounds[: len(plain_rounds) // 4]),
            3,
        ),
        "live_versions_at_end": live_versions,
        "url_seen_rows": seen_rows,
        "resume_seconds": round(resume_s, 2),
        "resumed_contacts": resumed_ids,
    }
    out = os.environ.get(
        "SPARK_GRAFT_PROBE_OUT",
        os.path.join(REPO, "BENCH", "checkpoint_probe_r5.json"),
    )
    with open(out, "w") as fh:
        json.dump(report, fh, indent=2)
    print(json.dumps(report))
    shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":
    main()
