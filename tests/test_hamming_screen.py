"""The banded hamming screen shared by SimHash and pHash near-dup
queries (`dedup.hamming_near_pairs`): exact for hamming ≤ 3 by
pigeonhole over 4 bands of 15 bits, and refused at ≥ 4, where a pair
can differ in every band and never collide."""

from __future__ import annotations

import pytest

from apd_map_reduce_spark.operators.dedup import hamming_near_pairs

BASE = 0x0123456789ABCDE  # 60 bits
BAND_BITS = 15


def _flip(*bits: int) -> int:
    h = BASE
    for b in bits:
        h ^= 1 << b
    return h


ROWS = [
    (1, BASE),
    (2, BASE),  # hamming 0
    (3, _flip(3)),  # 1 bit, band 0
    (4, _flip(3, 20)),  # 2 bits, bands 0 and 1
    (5, _flip(0, 16, 31)),  # 3 bits, bands 0, 1, 2
    (6, _flip(1, 2, 4)),  # 3 bits, all in band 0
    (7, _flip(5, 17, 33, 50)),  # 4 bits, one in each band
    (8, BASE ^ ((1 << 60) - 1)),  # every bit differs
]


HASH = dict(ROWS)


def _bands_differing(a: int, b: int) -> int:
    x = HASH[a] ^ HASH[b]
    return sum(1 for k in range(4) if (x >> (k * BAND_BITS)) & ((1 << BAND_BITS) - 1))


def _brute(max_hamming: int) -> set[tuple[int, int, int]]:
    dist = {(a, b): bin(HASH[a] ^ HASH[b]).count("1") for a in HASH for b in HASH if a < b}
    return {(a, b, h) for (a, b), h in dist.items() if h <= max_hamming}


def test_hamming_screen_matches_bruteforce(spark):
    sig = spark.createDataFrame(ROWS, "doc_id LONG, h LONG")
    # The fixture covers what the pigeonhole argument must handle:
    # hamming 0-3 with the differing bits spread over 1, 2 and 3 bands,
    # and a hamming-4 pair (1, 7) that differs in all 4 bands.
    spans = {(h, _bands_differing(a, b)) for a, b, h in _brute(3)}
    assert {(0, 0), (1, 1), (2, 2), (3, 3), (3, 1)} <= spans
    assert _bands_differing(1, 7) == 4
    for m in range(4):
        got = {tuple(r) for r in hamming_near_pairs(sig, "h", m).collect()}
        assert got == _brute(m), m
    with pytest.raises(ValueError):
        hamming_near_pairs(sig, "h", 4)
