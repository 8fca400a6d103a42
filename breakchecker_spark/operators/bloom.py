"""Partitioned bloom filter over 64-bit key hashes (numpy bitsets).

The URL-seen fast path (north rule): at 10^10 seen URLs an exact
anti-join shuffles every candidate against a 10^10-row table each
round. A partitioned bloom prefilter kills the ~95%+ of candidates that
are already seen *before* that shuffle; the exact anti-join then only
closes the false-positive gap on the survivors.

Layout: keys are range-partitioned by ``key_hash % n_parts``; each
partition holds an independent bitset sized for its expected key count.
Partitions serialize to (part_id, nbits, k, bitset bytes) rows, so the
whole filter lives in a DataFrame/checkpoint table and co-groups with
candidate partitions — no driver-side state, no global broadcast needed
at scale (a 10^10-key / 1% fp filter is ~12 GB total but only ~12 MB
per 1024-way partition).

Hashing: k probe positions derive from the single 64-bit key via a
splitmix64 remix — vectorized with numpy over Arrow batches.

The reference holds its seen-set as in-memory Python sets
(/root/reference/break_checker.py:1222-1226); this is the distributed,
resumable equivalent.
"""

from __future__ import annotations

import math
from typing import Iterable, Tuple

import numpy as np

_SPLITMIX_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain algorithm)."""
    z = (x + _SPLITMIX_GAMMA).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * _MIX1
    z = (z ^ (z >> np.uint64(27))) * _MIX2
    return z ^ (z >> np.uint64(31))


def _probe_positions(keys: np.ndarray, k: int, nbits: int) -> Iterable[np.ndarray]:
    """k probe bit-positions per key (double hashing: h1 + i*h2)."""
    h1 = _splitmix64(keys.astype(np.uint64))
    h2 = _splitmix64(h1) | np.uint64(1)  # odd → full-period stride
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(nbits)).astype(np.int64)


def optimal_params(expected_keys: int, fp_rate: float = 0.01) -> Tuple[int, int]:
    """(nbits, k) for a target false-positive rate."""
    expected_keys = max(expected_keys, 1)
    nbits = max(64, int(-expected_keys * math.log(fp_rate) / (math.log(2) ** 2)))
    k = max(1, round(nbits / expected_keys * math.log(2)))
    return nbits, k


class BloomPart:
    """One partition's bitset; builds from and serializes to bytes."""

    def __init__(self, nbits: int, k: int, bits: np.ndarray | None = None) -> None:
        self.nbits = nbits
        self.k = k
        nwords = (nbits + 63) // 64
        self.bits = bits if bits is not None else np.zeros(nwords, dtype=np.uint64)

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        for pos in _probe_positions(keys, self.k, self.nbits):
            np.bitwise_or.at(
                self.bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
            )

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        """Boolean mask; False is definitive (no false negatives)."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        out = np.ones(len(keys), dtype=bool)
        for pos in _probe_positions(keys, self.k, self.nbits):
            word = self.bits[pos >> 6]
            bit = (word >> (pos & 63).astype(np.uint64)) & np.uint64(1)
            out &= bit.astype(bool)
        return out

    def merge(self, other: "BloomPart") -> "BloomPart":
        assert (self.nbits, self.k) == (other.nbits, other.k)
        return BloomPart(self.nbits, self.k, self.bits | other.bits)

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, nbits: int, k: int, raw: bytes) -> "BloomPart":
        return cls(nbits, k, np.frombuffer(raw, dtype=np.uint64).copy())
