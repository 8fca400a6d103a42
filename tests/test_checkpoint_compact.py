"""Checkpoint compaction (Iceberg rewrite_data_files analogue) + gc, and
the in-memory store's equivalence with the on-disk one."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from breakchecker_spark import schemas
from breakchecker_spark.plans.checkpoint import CheckpointStore, MemoryStore
from breakchecker_spark.plans.crawl import CrawlConfig, run_crawl
from tests import fixture_web


def _versions_on_disk(root: str, table: str) -> list[str]:
    return sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(root, table, "v*"))
    )


def test_compact_merges_versions_and_gc_removes_old(spark, tmp_path):
    root = str(tmp_path / "store")
    store = CheckpointStore(root)
    for r in range(4):
        df = spark.createDataFrame([(r * 10 + i,) for i in range(5)], "x long")
        store.stage_append("t", df, r)
        store.commit(r)
    assert len(_versions_on_disk(root, "t")) == 4
    assert store.read(spark, "t").count() == 20

    did = store.compact(spark, "t", 4, min_versions=4)
    assert did
    # compaction alone is invisible until commit
    assert store.read(spark, "t").count() == 20
    df5 = spark.createDataFrame([(99,)], "x long")
    store.stage_append("t", df5, 4)
    store.commit(4)
    removed = store.gc()
    assert removed == 4  # v0..v3 superseded by v4c
    assert _versions_on_disk(root, "t") == ["v4", "v4c"]
    rows = {r["x"] for r in store.read(spark, "t").collect()}
    assert rows == {r * 10 + i for r in range(4) for i in range(5)} | {99}


def test_compact_noop_below_threshold(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "s2"))
    store.stage_append("t", spark.createDataFrame([(1,)], "x long"), 0)
    store.commit(0)
    assert not store.compact(spark, "t", 1, min_versions=8)


def test_kill_between_compact_and_commit_is_safe(spark, tmp_path):
    """A compacted-but-uncommitted version must not change reads, and a
    new store instance (simulated restart) must still see old state and
    gc the orphan."""
    root = str(tmp_path / "s3")
    store = CheckpointStore(root)
    for r in range(3):
        store.stage_append("t", spark.createDataFrame([(r,)], "x long"), r)
        store.commit(r)
    store.compact(spark, "t", 3, min_versions=3)
    # "killed" here: new instance, no commit of the compaction
    store2 = CheckpointStore(root)
    assert store2.read(spark, "t").count() == 3
    assert store2.gc() == 1  # the orphan v3c
    assert store2.read(spark, "t").count() == 3


def test_memory_store_matches_checkpoint_store(spark, tmp_path):
    """Both stores through one stage → commit → read → compact sequence
    (replace, append, driver-side rows, zero-row stages): same returned
    counts, same committed row counts, same rows read back."""
    schema = pa.schema([("x", pa.int64())])

    def ids(lo, hi):
        return spark.range(lo, hi).withColumnRenamed("id", "x")

    def drive(store):
        returned = []
        for r in range(3):
            returned.append(store.stage_append("t", ids(r * 10, r * 10 + r), r))
            returned.append(store.stage_replace("f", ids(0, r), r))
            returned.append(store.stage_append_rows("m", [{"x": r}] * r, schema, r))
            store.commit(r)
        returned.append(store.compact(spark, "t", 3, min_versions=3))
        returned.append(store.compact(spark, "m", 3, min_versions=4))  # no-op
        # compaction alone is invisible until commit
        returned.append(store.read(spark, "t").count())
        returned.append(store.stage_append("t", ids(100, 102), 3))
        store.commit(3)
        store.gc()
        rows = {t: sorted(r["x"] for r in store.read(spark, t).collect())
                for t in ("t", "f", "m")}
        counts = {t: store.table_rows(t) for t in ("t", "f", "m", "absent")}
        return returned, counts, rows, store.read(spark, "absent")

    disk = drive(CheckpointStore(str(tmp_path / "disk")))
    memory_store = MemoryStore(spark)
    memory = drive(memory_store)
    assert memory == disk
    assert disk[1] == {"t": 5, "f": 2, "m": 3, "absent": None}
    # the compaction folded t's three round versions into one
    assert len(memory_store._tables["t"]) == 2
    assert _versions_on_disk(str(tmp_path / "disk"), "t") == ["v3", "v3c"]


def test_crawl_with_frequent_compaction_matches_uninterrupted(spark, tmp_path):
    pages_df = spark.createDataFrame(fixture_web.pages_rows(), schema=schemas.PAGES)
    seeds_df = spark.createDataFrame(fixture_web.SEEDS, schema=schemas.SEEDS)
    base = dict(scope_host=fixture_web.SCOPE, max_depth=3, host_budget=1)

    plain = run_crawl(
        spark, seeds_df, pages_df, CrawlConfig(**base, use_bloom=False)
    )
    ckpt = str(tmp_path / "ck")
    compacted = run_crawl(
        spark,
        seeds_df,
        pages_df,
        CrawlConfig(**base, checkpoint_dir=ckpt, compact_every=2),
    )
    assert compacted.rounds == plain.rounds > 4  # budget=1 → many rounds
    v_seen = {(r["url"], r["depth"]) for r in plain.url_seen.collect()}
    v_comp = {(r["url"], r["depth"]) for r in compacted.url_seen.collect()}
    assert v_seen == v_comp
    # compaction really happened: far fewer url_seen versions than rounds
    n_versions = len(_versions_on_disk(ckpt, "url_seen"))
    assert n_versions < compacted.rounds
    # metrics survived compaction (sum over all rounds)
    total = (
        compacted.metrics.filter(F.col("metric") == "frontier_urls")
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert total == compacted.summary["num_endpoints"]
    # the in-memory store compacts on the same schedule, to the same state
    in_memory = run_crawl(
        spark, seeds_df, pages_df, CrawlConfig(**base, compact_every=2)
    )
    assert in_memory.rounds == plain.rounds
    assert {(r["url"], r["depth"]) for r in in_memory.url_seen.collect()} == v_seen
    assert in_memory.summary == compacted.summary
    assert sorted(
        in_memory.metrics.filter(F.col("metric") != "round_millis")
        .select("round", "metric", "value").collect()
    ) == sorted(
        compacted.metrics.filter(F.col("metric") != "round_millis")
        .select("round", "metric", "value").collect()
    )


def test_read_back_runs_no_job_over_every_version(spark, tmp_path):
    """Read-back is one scan over every live version with the schema
    taken from a footer: no Spark job until the caller acts on it. The
    schema equals what parquet inference gives, for a Spark-written
    append table (several versions, one of them zero-row) and for a
    driver-side pyarrow table."""
    root = str(tmp_path / "s_read")
    store = CheckpointStore(root)
    schema = "key_hash long, url string, depth int"
    arrow = pa.schema([("round", pa.int32()), ("metric", pa.string())])
    for r in range(3):
        rows = [(r * 10 + i, f"https://h/{r}/{i}", r) for i in range(r)]
        store.stage_append("t", spark.createDataFrame(rows, schema), r)
        store.stage_append_rows("m", [{"round": r, "metric": "x"}], arrow, r)
        store.commit(r)
    sc = spark.sparkContext
    sc.setJobGroup("read-back", "read-back")
    try:
        t, m = store.read(spark, "t"), store.read(spark, "m")
        assert not sc.statusTracker().getJobIdsForGroup("read-back")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for table, df in (("t", t), ("m", m)):
        dirs = glob.glob(os.path.join(root, table, "v*"))
        assert df.schema == spark.read.parquet(*dirs).schema
    assert sorted(map(tuple, t.collect())) == [
        (10, "https://h/1/0", 1), (20, "https://h/2/0", 2), (21, "https://h/2/1", 2)
    ]
    assert sorted(r["round"] for r in m.collect()) == [0, 1, 2]
