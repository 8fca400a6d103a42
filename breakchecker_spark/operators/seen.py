"""URL-seen membership: partitioned bloom prefilter + exact anti-join.

Distributed equivalent of the reference's three in-memory sets
(``visited`` / ``_queued`` / ``_seen_keys``,
/root/reference/break_checker.py:1222-1226, checks at 1338-1346 and
1404-1420). Membership is keyed by ``xxhash64(struct_key_str(url))`` —
the structural key that collapses near-duplicate URLs
(break_checker.py:956-972).

Scale design (10^10 seen URLs):

* the exact membership check never shuffles the ``url_seen`` table:
  bloom survivors are broadcast into a map-side semi join against its
  scan, and the confirmed-seen set — smaller still — is broadcast back
  into the final anti-join;
* the bloom filter is itself a table of (part_id, bitset) rows,
  co-grouped with candidates via ``cogroup().applyInPandas`` — no
  driver state, no whole-filter broadcast;
* candidates that miss the bloom are **definitely new** and skip the
  exact check entirely; bloom hits (true-seen + ~1% FP) go through
  it, so results are exactly equal to exact-only
  (verified by tests/test_seen_bloom.py);
* the filter is an accelerator, not state the answer depends on: a
  crawl builds it in the first round with enough candidates to probe
  it (:func:`probes`) and extends it from then on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions import udfs
from . import bloom

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("nbits", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)


def with_struct_key(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add ``struct_key`` (string) and ``key_hash`` (xxhash64) columns."""
    return df.withColumn("struct_key", udfs.struct_key_str(F.col(url_col))).withColumn(
        "key_hash", F.xxhash64("struct_key")
    )


def build_bloom(
    seen: DataFrame,
    n_parts: int = 32,
    expected_per_part: int = 100_000,
    fp_rate: float = 0.01,
) -> DataFrame:
    """Build the partitioned bloom table from the exact seen table.

    One applyInPandas group per partition; each group emits one bitset
    row. The crawl builds it once, in the first round that probes, and
    extends it with :func:`bloom_add` from then on.
    """
    nbits, k = bloom.optimal_params(expected_per_part, fp_rate)

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = bloom.BloomPart(nbits, k)
        part.add(pdf["key_hash"].to_numpy(dtype=np.int64))
        pid = int(pdf["part_id"].iloc[0])
        return pd.DataFrame(
            {"part_id": [pid], "nbits": [nbits], "k": [k], "bits": [part.to_bytes()]}
        )

    keyed = seen.select(
        F.pmod(F.col("key_hash"), F.lit(n_parts)).cast("int").alias("part_id"),
        "key_hash",
    )
    return keyed.groupBy("part_id").applyInPandas(_build, schema=BLOOM_SCHEMA)


def merge_bloom(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bitwise-OR two bloom tables built with identical (nbits, k).

    Enables incremental maintenance: each round builds a small filter
    over only the newly-seen keys and ORs it into the running filter —
    the full seen table is never rescanned (the Iceberg-persisted
    "filters" table pattern from SURVEY.md §4).
    """

    def _or(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        merged = bloom.BloomPart.from_bytes(
            int(first["nbits"]), int(first["k"]), first["bits"]
        )
        for raw in pdf["bits"].iloc[1:]:
            merged = merged.merge(
                bloom.BloomPart.from_bytes(int(first["nbits"]), int(first["k"]), raw)
            )
        return pd.DataFrame(
            {
                "part_id": [int(first["part_id"])],
                "nbits": [int(first["nbits"])],
                "k": [int(first["k"])],
                "bits": [merged.to_bytes()],
            }
        )

    return (
        a.unionByName(b).groupBy("part_id").applyInPandas(_or, schema=BLOOM_SCHEMA)
    )


def bloom_add(
    bloom_table: DataFrame,
    new_keys: DataFrame,
    n_parts: int = 32,
    expected_per_part: int = 100_000,
    fp_rate: float = 0.01,
) -> DataFrame:
    """Add ``new_keys`` (key_hash rows) into an existing bloom table.

    Bit-identical to ``merge_bloom(bloom_table, build_bloom(new_keys))``
    — setting a delta's bits into a copy of the old bitset IS the OR of
    the two filters — but runs as ONE cogrouped Arrow stage instead of
    two chained ``applyInPandas`` stages (build then merge), halving
    the per-round Python barrier count in the crawl loop (guide §4).
    Parts with no prior row get a fresh bitset with the same
    ``optimal_params`` build_bloom would use; parts with no new keys
    pass through unchanged.
    """
    nbits, k = bloom.optimal_params(expected_per_part, fp_rate)

    def _add(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            part = bloom.BloomPart(nbits, k)
            pid = int(left["part_id"].iloc[0])
            out_nbits, out_k = nbits, k
        else:
            first = right.iloc[0]
            out_nbits, out_k = int(first["nbits"]), int(first["k"])
            part = bloom.BloomPart.from_bytes(out_nbits, out_k, first["bits"])
            pid = int(first["part_id"])
        if not left.empty:
            part.add(left["key_hash"].to_numpy(dtype=np.int64))
        return pd.DataFrame(
            {
                "part_id": [pid],
                "nbits": [out_nbits],
                "k": [out_k],
                "bits": [part.to_bytes()],
            }
        )

    keyed = new_keys.select(
        F.pmod(F.col("key_hash"), F.lit(n_parts)).cast("int").alias("part_id"),
        "key_hash",
    )
    return (
        keyed.groupBy("part_id")
        .cogroup(bloom_table.groupBy("part_id"))
        .applyInPandas(_add, schema=BLOOM_SCHEMA)
    )


def _probe_schema(candidates: DataFrame) -> T.StructType:
    return T.StructType(
        candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )


def probes(
    candidate_bound: int | None,
    probe_min_candidates: int,
    max_broadcast_rows: int | None,
) -> bool:
    """Whether :func:`filter_new` runs the bloom probe for candidates
    bounded by ``candidate_bound`` (None = unbounded). It skips the
    probe when the bound is at or below ``probe_min_candidates``
    (0 = never skip) and the bound also keeps the broadcast confirm
    safe. The crawl asks the same question before building a filter,
    so no round builds a bloom that its probe would not read."""
    return not (
        candidate_bound is not None
        and probe_min_candidates
        and candidate_bound <= probe_min_candidates
        and (max_broadcast_rows is None or candidate_bound <= max_broadcast_rows)
    )


def filter_new(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_table: DataFrame | None = None,
    n_parts: int = 32,
    cache_registry: list | None = None,
    max_broadcast_rows: int | None = 4_000_000,
    candidate_bound: int | None = None,
    probe_min_candidates: int = 50_000,
) -> DataFrame:
    """Candidates whose struct key is not in the seen set.

    ``candidates`` must already carry ``key_hash`` (with_struct_key).
    With a bloom table, definitely-new rows bypass the exact check;
    results are identical either way (tests/test_seen_bloom.py). Which
    path runs is decided in this order:

    1. a bound at or below the probe gate (:func:`probes` is False):
       every candidate takes the broadcast confirm, with or without a
       bloom table — the crawl builds no filter for such rounds;
    2. no bloom table: a plain anti-join against the seen side;
    3. otherwise the bloom probe, then the confirm of its survivors.

    Exact-check shape (the 10^10-key path): the seen table is **never
    shuffled**. Bloom survivors (true dups + ~1% FP — bounded small)
    are broadcast; ``seen ⋉ broadcast(survivors)`` confirms which are
    truly seen with a map-side scan, then the (even smaller) confirmed
    set is broadcast back into an anti-join (``_confirm_new``). The
    semi join keys on ``key_hash`` alone: a round's survivors spread
    over the whole key space, so no storage layout of the seen table
    lets the scan skip a useful share of it.

    ``cache_registry``: the probed candidate frame feeds three branches
    (definitely-new, broadcast build, final anti-join); when a list is
    passed it is cached once and appended for caller-side unpersist.

    ``max_broadcast_rows``: broadcast-safety guard. Bloom survivors are
    *not* inherently bounded — on real sites most extracted links point
    at already-seen URLs, so survivors scale with the round's duplicate
    links, and an unguarded broadcast at 10^10-key scale risks driver
    OOM. When the probe is cached (cache_registry passed), survivors
    are counted (one cheap job over the cache) and the plan falls back
    to a shuffling anti-join against the seen side above the threshold.
    None disables the guard.

    ``candidate_bound``: driver-known upper bound on candidate rows
    (the crawl passes its round's emitted-link count, observed in-band). When it is
    already ≤ the threshold the broadcast is safe by construction and
    the count job is skipped — keeps the guard free on the common
    small-round path.

    ``probe_min_candidates``: the bloom probe is a fixed-cost Python
    cogroup barrier whose benefit (shrinking the broadcast to the
    bloom survivors) scales with the candidate count; when the caller
    bounds the candidates at or below this threshold, the probe is
    skipped and ALL candidates take the exact broadcast-confirm path
    (r6, guide §4.1 — the broadcast of ≤50k keys costs less than the
    probe stage it replaces); a bloom table, if passed, is not read.
    Results are identical either way: the probe only splits candidates
    into definitely-new vs maybe-seen, and the confirm join is exact
    for both populations. The seen side is still never shuffled. 0
    disables the skip (always probe).
    """
    if not probes(candidate_bound, probe_min_candidates, max_broadcast_rows):
        survivors = candidates
        if cache_registry is not None:
            # the candidate pipeline feeds both the broadcast-confirm
            # build and the final anti-join — cache it once, exactly
            # like the probed path caches ``probed``
            survivors = survivors.cache()
            cache_registry.append(survivors)
        return _confirm_new(survivors, seen)
    if bloom_table is None:
        return candidates.join(seen.select("key_hash"), "key_hash", "left_anti")

    cand_cols = candidates.columns
    cand = candidates.withColumn(
        "part_id", F.pmod(F.col("key_hash"), F.lit(n_parts)).cast("int")
    )
    out_schema = _probe_schema(cand)

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series(dtype=bool))
        if right.empty:
            return left.assign(maybe_seen=False)
        part = bloom.BloomPart.from_bytes(
            int(right["nbits"].iloc[0]),
            int(right["k"].iloc[0]),
            right["bits"].iloc[0],
        )
        mask = part.might_contain(left["key_hash"].to_numpy(dtype=np.int64))
        return left.assign(maybe_seen=mask)

    probed = (
        cand.groupBy("part_id")
        .cogroup(bloom_table.groupBy("part_id"))
        .applyInPandas(_probe, schema=out_schema)
    )
    # The guard must run whenever max_broadcast_rows is set and the
    # caller can't bound the candidates — an unguarded broadcast of
    # survivors risks driver OOM at 10^10-key scale. Without a caller
    # cache registry the probe is cached internally so the count job
    # doesn't recompute it (evicted by the session, never unpersisted
    # by us — the crawl loop always passes a registry).
    need_guard = max_broadcast_rows is not None and not (
        candidate_bound is not None and candidate_bound <= max_broadcast_rows
    )
    if cache_registry is not None:
        probed = probed.cache()
        cache_registry.append(probed)
    elif need_guard:
        probed = probed.cache()
    definitely_new = probed.filter(~F.col("maybe_seen")).select(*cand_cols)
    survivors = probed.filter(F.col("maybe_seen")).select(*cand_cols)

    if need_guard:
        big = survivors.count() > max_broadcast_rows
        if cache_registry is None:
            # registry-less caller: the count was the guard's only
            # mandatory consumer — release the cache now rather than
            # leaking one cached plan per call in a long-lived session
            # (ADVICE r4); the returned plan recomputes the (cheap)
            # bloom probe when materialized.
            probed.unpersist()
        if big:
            # too many survivors to broadcast safely: plain anti-join
            new_survivors = survivors.join(
                seen.select("key_hash"), "key_hash", "left_anti"
            )
            return definitely_new.unionByName(new_survivors)

    return definitely_new.unionByName(_confirm_new(survivors, seen))


def _confirm_new(survivors: DataFrame, seen: DataFrame) -> DataFrame:
    """The exact check shared by both filter_new paths: ``survivors``
    rows whose key is not in ``seen``, without shuffling ``seen``."""
    confirmed = seen.select("key_hash").join(
        F.broadcast(survivors.select("key_hash")), "key_hash", "left_semi"
    )
    return survivors.join(F.broadcast(confirmed), "key_hash", "left_anti")
