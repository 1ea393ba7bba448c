"""MinHash-LSH recall on near-duplicates, replicated in pure Python.

The replica mirrors ``operators.dedup``: the 28-bit base hash (first 7
hex digits of the shingle's md5), the affine family from
``_affine_params`` (a·h + b mod 2³¹−1, minimum over the shingle set)
and 4 bands of 4 rows. A one-word-changed copy of a 300-word document
has 3-shingle Jaccard ≈ 0.98; 16 independent hashes miss such a pair
with probability (1 − 0.98⁴)⁴ ≈ 4·10⁻⁵. Hashes whose multipliers share
one constant disagree together and miss ~100× more often.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np

from optimus_any2any_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    _MERSENNE31,
    _affine_params,
)

N_PAIRS = 2000
DOC_TOKENS = 300


def _base_hash(shingle: str) -> int:
    return int(hashlib.md5(shingle.encode()).hexdigest()[:7], 16)


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def _signature(bh: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return ((bh[:, None] * a[None, :] + b[None, :]) % _MERSENNE31).min(axis=0)


def _caught(s1: np.ndarray, s2: np.ndarray) -> bool:
    rows = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    return any(
        np.array_equal(s1[i * rows:(i + 1) * rows], s2[i * rows:(i + 1) * rows])
        for i in range(DEFAULT_BANDS)
    )


def test_affine_params_in_range():
    params = _affine_params(DEFAULT_NUM_HASHES)
    assert len(set(params)) == DEFAULT_NUM_HASHES
    for a, b in params:
        assert 1 <= a < _MERSENNE31 and 0 <= b < _MERSENNE31
        # the largest a·h + b with a 28-bit h stays under 2^59, exact
        # in Spark's and DuckDB's int64 arithmetic
        assert a * (2**28 - 1) + b < 2**59


def test_near_duplicates_are_candidates():
    params = _affine_params(DEFAULT_NUM_HASHES)
    a = np.array([p[0] for p in params], dtype=np.int64)
    b = np.array([p[1] for p in params], dtype=np.int64)
    rng = random.Random(20240601)
    vocab = [f"w{i}" for i in range(5000)]
    misses = 0
    for _ in range(N_PAIRS):
        words = [rng.choice(vocab) for _ in range(DOC_TOKENS)]
        near = list(words)
        pos = rng.randrange(DOC_TOKENS)
        near[pos] = rng.choice([w for w in vocab[:50] if w != words[pos]])
        sh, sh_near = _shingles(words), _shingles(near)
        common = sh & sh_near
        sig_common = _signature(
            np.array([_base_hash(s) for s in common], dtype=np.int64), a, b
        )
        sigs = [
            np.minimum(
                sig_common,
                _signature(
                    np.array([_base_hash(s) for s in own - common],
                             dtype=np.int64),
                    a, b,
                ),
            )
            for own in (sh, sh_near)
        ]
        misses += not _caught(*sigs)
    assert misses <= 1, f"{misses} of {N_PAIRS} near-duplicate pairs missed"
