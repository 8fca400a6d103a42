"""Per-partition commit lineage + checkpoint integrity audit.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Every atomic commit records, per staged table version and
per partition directory, the (files, rows, bytes) it published —
derived from the parquet footers the staging path already reads, so
lineage costs no extra I/O and no Spark job. verify_integrity()
re-walks live versions against those records, catching lost or
truncated data files before a resume trusts the checkpoint.
"""

from __future__ import annotations

import glob
import os

import pytest

from breakchecker_spark import schemas
from breakchecker_spark.plans.checkpoint import CheckpointStore
from breakchecker_spark.plans.crawl import CrawlConfig, run_crawl
from tests import fixture_web


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(fixture_web.pages_rows(), schema=schemas.PAGES).cache()


@pytest.fixture(scope="module")
def seeds_df(spark):
    return spark.createDataFrame(fixture_web.SEEDS, schema=schemas.SEEDS)


def test_lineage_records_every_commit_per_partition(
    spark, seeds_df, pages_df, tmp_path
):
    ckpt = str(tmp_path / "ckpt")
    res = run_crawl(
        spark,
        seeds_df,
        pages_df,
        CrawlConfig(
            scope_host=fixture_web.SCOPE,
            max_depth=3,
            bloom_parts=4,
            bloom_expected_per_part=1000,
            checkpoint_dir=ckpt,
            # every round probes, so every round stages a bloom
            probe_min_candidates=0,
        ),
    )
    assert res.lineage is not None
    rows = res.lineage.collect()
    tables = {r["table"] for r in rows}
    # every checkpointed table appears in lineage
    assert {"url_seen", "contacts", "metrics", "frontier", "bloom"} <= tables
    assert {r["round"] for r in rows if r["table"] == "bloom"} == set(range(res.rounds))

    # url_seen deltas are unpartitioned: their lineage rows carry the
    # empty partition dir, and their row counts sum to the final table
    # exactly
    seen_rows = [r for r in rows if r["table"] == "url_seen"]
    assert all(r["partition"] == "" for r in seen_rows)
    assert sum(r["rows"] for r in seen_rows) == res.url_seen.count()
    assert all(r["files"] >= 1 and r["bytes"] > 0 for r in rows)

    # one lineage delta per committed round
    assert {r["round"] for r in rows} == set(range(res.rounds))

    # the committed store audits clean
    assert CheckpointStore(ckpt).verify_integrity() == []


def test_default_gate_stages_no_bloom(spark, seeds_df, pages_df, tmp_path):
    """Under the default probe gate no round of the small fixture crawl
    probes, so none builds a bloom: lineage has no bloom row and the
    store has no bloom table."""
    ckpt = str(tmp_path / "ckpt_nobloom")
    res = run_crawl(
        spark,
        seeds_df,
        pages_df,
        CrawlConfig(
            scope_host=fixture_web.SCOPE,
            max_depth=3,
            bloom_parts=4,
            bloom_expected_per_part=1000,
            checkpoint_dir=ckpt,
        ),
    )
    tables = {r["table"] for r in res.lineage.collect()}
    assert {"url_seen", "contacts", "metrics", "frontier"} <= tables
    assert "bloom" not in tables
    store = CheckpointStore(ckpt)
    assert "bloom" not in store.manifest()["tables"]
    assert store.read(spark, "bloom") is None
    assert store.verify_integrity() == []


def test_resume_appends_lineage_and_verify_gate(spark, seeds_df, pages_df, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    base = dict(
        scope_host=fixture_web.SCOPE,
        max_depth=3,
        bloom_parts=4,
        bloom_expected_per_part=1000,
        checkpoint_dir=ckpt,
    )
    run_crawl(spark, seeds_df, pages_df, CrawlConfig(**base, max_rounds=1))
    resumed = run_crawl(
        spark,
        seeds_df,
        pages_df,
        CrawlConfig(**base, verify_checkpoint=True),
        resume=True,
    )
    rounds = {r["round"] for r in resumed.lineage.collect()}
    assert 0 in rounds and max(rounds) >= 1  # history + resumed commits

    # corrupt one committed url_seen data file → audit reports it and a
    # verifying resume refuses to trust the checkpoint
    victim = sorted(
        glob.glob(os.path.join(ckpt, "url_seen", "v*", "**", "*.parquet"),
                  recursive=True)
    )[0]
    os.remove(victim)
    problems = CheckpointStore(ckpt).verify_integrity()
    assert problems and problems[0]["table"] == "url_seen"
    with pytest.raises(RuntimeError, match="integrity"):
        run_crawl(
            spark,
            seeds_df,
            pages_df,
            CrawlConfig(**base, verify_checkpoint=True),
            resume=True,
        )


def test_lineage_survives_compaction_and_gc(spark, seeds_df, pages_df, tmp_path):
    """Compaction rewrites live versions; lineage keeps per-commit
    history, records the compacted version itself, and the audit stays
    clean after gc removes superseded dirs (pre-compaction versions
    are no longer live, so their historical rows are skipped)."""
    ckpt = str(tmp_path / "ckpt3")
    res = run_crawl(
        spark,
        seeds_df,
        pages_df,
        CrawlConfig(
            scope_host=fixture_web.SCOPE,
            max_depth=3,
            bloom_parts=4,
            bloom_expected_per_part=1000,
            checkpoint_dir=ckpt,
            compact_every=2,
        ),
    )
    store = CheckpointStore(ckpt)
    assert store.verify_integrity() == []
    lineage = {(r["table"], r["version"]) for r in res.lineage.collect()}
    compacted = {v for t, v in lineage if v.endswith("c")}
    assert compacted  # the rewrite itself is lineage-tracked


def test_cli_verify_checkpoint_flag(spark, pages_df, tmp_path):
    """--resume --verify-checkpoint: clean audit resumes, a corrupted
    checkpoint aborts with the integrity error."""
    from breakchecker_spark import cli

    pages_path = str(tmp_path / "pages")
    pages_df.write.parquet(pages_path)
    ck = str(tmp_path / "ck")
    args = [
        "--domain", fixture_web.SCOPE,
        "--pages", pages_path,
        "--depth", "2",
        "--checkpoint", ck,
        "--output", str(tmp_path / "r.json"),
    ]
    assert cli.main(args) == 0
    assert cli.main(args + ["--resume", "--verify-checkpoint"]) == 0
    victim = sorted(
        glob.glob(os.path.join(ck, "url_seen", "v*", "**", "*.parquet"),
                  recursive=True)
    )[0]
    os.remove(victim)
    with pytest.raises(RuntimeError, match="integrity"):
        cli.main(args + ["--resume", "--verify-checkpoint"])


def test_store_level_lineage_unpartitioned(spark, tmp_path):
    """Plain append table: partition dir is empty-string, counts match."""
    store = CheckpointStore(str(tmp_path / "s"))
    for r in range(2):
        store.stage_append("t", spark.createDataFrame([(r,)] * 3, "x long"), r)
        store.commit(r)
    recs = spark.read.parquet(
        *glob.glob(os.path.join(str(tmp_path / "s"), "lineage", "v*"))
    ).collect()
    t_rows = [r for r in recs if r["table"] == "t"]
    assert sum(r["rows"] for r in t_rows) == 6
    assert all(r["partition"] == "" for r in t_rows)
    assert store.verify_integrity() == []
