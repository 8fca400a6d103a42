"""Direct tests for the partitioned bloom filter + seen operator."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from breakchecker_spark.operators import bloom, seen


def test_bloom_no_false_negatives():
    rng = np.random.RandomState(7)
    keys = rng.randint(-(2**62), 2**62, size=20_000, dtype=np.int64)
    nbits, k = bloom.optimal_params(20_000, 0.01)
    part = bloom.BloomPart(nbits, k)
    part.add(keys)
    assert part.might_contain(keys).all()


def test_bloom_fp_rate_near_target():
    rng = np.random.RandomState(8)
    keys = rng.randint(-(2**62), 2**62, size=50_000, dtype=np.int64)
    probe = rng.randint(-(2**62), 2**62, size=50_000, dtype=np.int64)
    nbits, k = bloom.optimal_params(50_000, 0.01)
    part = bloom.BloomPart(nbits, k)
    part.add(keys)
    fp = part.might_contain(probe).mean()
    assert fp < 0.03  # target 1%, generous bound


def test_bloom_merge_equals_union_build():
    rng = np.random.RandomState(9)
    a_keys = rng.randint(0, 2**62, size=5_000, dtype=np.int64)
    b_keys = rng.randint(0, 2**62, size=5_000, dtype=np.int64)
    nbits, k = bloom.optimal_params(10_000, 0.01)
    a = bloom.BloomPart(nbits, k); a.add(a_keys)
    b = bloom.BloomPart(nbits, k); b.add(b_keys)
    merged = a.merge(b)
    direct = bloom.BloomPart(nbits, k)
    direct.add(np.concatenate([a_keys, b_keys]))
    assert (merged.bits == direct.bits).all()


def test_bloom_serialization_roundtrip():
    part = bloom.BloomPart(1024, 3)
    part.add(np.array([1, 2, 3], dtype=np.int64))
    back = bloom.BloomPart.from_bytes(1024, 3, part.to_bytes())
    assert (back.bits == part.bits).all()


@pytest.fixture(scope="module")
def seen_and_candidates(spark):
    seen_df = spark.range(0, 5000).select(
        (F.col("id") * 7919).alias("key_hash"),
        F.concat(F.lit("k"), "id").alias("struct_key"),
        F.concat(F.lit("https://h/"), "id").alias("url"),
        F.lit(0).alias("depth"),
    ).cache()
    # half overlap with seen, half new
    cand = spark.range(2500, 7500).select(
        (F.col("id") * 7919).alias("key_hash"),
        F.concat(F.lit("k"), "id").alias("struct_key"),
        F.concat(F.lit("https://h/"), "id").alias("url"),
        F.lit(1).alias("depth"),
    ).cache()
    return seen_df, cand


def test_filter_new_bloom_equals_exact(spark, seen_and_candidates):
    seen_df, cand = seen_and_candidates
    exact = set(
        r["url"] for r in seen.filter_new(cand, seen_df).select("url").collect()
    )
    bloom_table = seen.build_bloom(seen_df, n_parts=8, expected_per_part=1000)
    with_bloom = set(
        r["url"]
        for r in seen.filter_new(cand, seen_df, bloom_table, 8).select("url").collect()
    )
    assert exact == with_bloom
    assert len(exact) == 2500  # exactly the non-overlapping half


def test_merge_bloom_dataframe(spark, seen_and_candidates):
    seen_df, cand = seen_and_candidates
    b1 = seen.build_bloom(seen_df, n_parts=4, expected_per_part=2000)
    b2 = seen.build_bloom(cand, n_parts=4, expected_per_part=2000)
    merged = {r["part_id"]: r for r in seen.merge_bloom(b1, b2).collect()}
    # no false negatives: every key from either side hits its merged part
    all_keys = np.array(
        [r["key_hash"] for r in
         seen_df.select("key_hash").unionByName(cand.select("key_hash")).collect()],
        dtype=np.int64,
    )
    for key in all_keys:
        pid = int(np.uint64(key) % np.uint64(4))
        row = merged[pid]
        part = bloom.BloomPart.from_bytes(int(row["nbits"]), int(row["k"]), row["bits"])
        assert part.might_contain(np.array([key], dtype=np.int64))[0]


def test_bloom_add_equals_build_then_merge(spark, seen_and_candidates):
    """r6: the fused cogrouped add stage must be BIT-identical to
    merge_bloom(old, build_bloom(new)) — including parts that receive
    no new keys (pass-through) and parts with no prior row (fresh
    bitset with build_bloom's params)."""
    seen_df, cand = seen_and_candidates
    n_parts, expected = 4, 2000
    old = seen.build_bloom(seen_df, n_parts=n_parts, expected_per_part=expected)
    want = {
        r["part_id"]: r
        for r in seen.merge_bloom(
            old, seen.build_bloom(cand, n_parts=n_parts, expected_per_part=expected)
        ).collect()
    }
    got = {
        r["part_id"]: r
        for r in seen.bloom_add(
            old, cand, n_parts=n_parts, expected_per_part=expected
        ).collect()
    }
    assert set(got) == set(want)
    for pid in want:
        assert got[pid]["nbits"] == want[pid]["nbits"]
        assert got[pid]["k"] == want[pid]["k"]
        assert bytes(got[pid]["bits"]) == bytes(want[pid]["bits"])

    # empty-part edges: new keys confined to one partition → every
    # other part must pass through byte-unchanged
    one_part = cand.filter(F.pmod(F.col("key_hash"), F.lit(n_parts)) == 1)
    old_rows = {r["part_id"]: r for r in old.collect()}
    added = {
        r["part_id"]: r
        for r in seen.bloom_add(
            old, one_part, n_parts=n_parts, expected_per_part=expected
        ).collect()
    }
    for pid, row in old_rows.items():
        if pid != 1:
            assert bytes(added[pid]["bits"]) == bytes(row["bits"])


def test_filter_new_probe_skip_equals_probed(spark, seen_and_candidates):
    """r6: with a small driver-known candidate bound the bloom-probe
    cogroup stage is skipped (all candidates take the exact broadcast
    confirm) — results must equal the probed plan, and the skipped
    plan must contain no Python cogroup (FlatMapCoGroupsInPandas)."""
    seen_df, cand = seen_and_candidates
    bloom_table = seen.build_bloom(seen_df, n_parts=8, expected_per_part=1000)
    want = {
        r["url"]
        for r in seen.filter_new(
            cand, seen_df, bloom_table, 8, probe_min_candidates=0
        ).select("url").collect()
    }
    skipped = seen.filter_new(
        cand, seen_df, bloom_table, 8, candidate_bound=5000,
        probe_min_candidates=50_000,
    )
    plan = skipped._jdf.queryExecution().analyzed().toString()
    assert "FlatMapCoGroupsInPandas" not in plan
    assert {r["url"] for r in skipped.select("url").collect()} == want


def test_filter_new_guard_active_without_registry(spark, seen_and_candidates):
    """The max_broadcast_rows driver-OOM guard must fire even when no
    cache_registry is passed (ADVICE r3 — it was silently inactive):
    survivors above the threshold drop the broadcast hint; results are
    identical either way."""
    seen_df, cand = seen_and_candidates
    bloom_table = seen.build_bloom(seen_df, n_parts=8, expected_per_part=1000)
    want = {
        r["url"] for r in seen.filter_new(cand, seen_df).select("url").collect()
    }

    guarded = seen.filter_new(
        cand, seen_df, bloom_table, 8, max_broadcast_rows=100
    )
    assert "ResolvedHint" not in guarded._jdf.queryExecution().analyzed().toString()
    assert {r["url"] for r in guarded.select("url").collect()} == want

    unguarded = seen.filter_new(
        cand, seen_df, bloom_table, 8, max_broadcast_rows=None
    )
    assert "ResolvedHint" in unguarded._jdf.queryExecution().analyzed().toString()
    assert {r["url"] for r in unguarded.select("url").collect()} == want
