"""Plain-Python reference implementations of the dedup and similarity
kernels, for tests: md5 token hash → integer 3-shingle hashes → MinHash
signature → LSH band keys, and the left-to-right double folds behind
dot / l2norm / cosine and the sign-LSH bucket.

They share constants with the engine (seeds, primes, planes) but no
expression text, so agreement with the Spark builders is evidence that
the builders compute what their docstrings say.
"""

from __future__ import annotations

import hashlib
import math

from movies_etl_spark.operators.dedup import (
    MINHASH_P,
    MINHASH_SEEDS,
    N_BANDS,
    N_MINHASH,
    SHINGLE_C1,
    SHINGLE_C2,
)


def token_hash(tok: str) -> int:
    """48-bit md5-prefix token hash (text.token_hash)."""
    return int(hashlib.md5(tok.encode()).hexdigest()[:12], 16)


def shingle_hashes(text: str) -> list[int]:
    """Integer 3-shingle hashes of the single-space tokens of ``text``,
    in order; empty under 3 tokens."""
    th = [token_hash(t) % MINHASH_P for t in text.split(" ")]
    if len(th) < 3:
        return []
    return [
        (th[i] * SHINGLE_C1 + th[i + 1] * SHINGLE_C2 + th[i + 2]) % MINHASH_P
        for i in range(len(th) - 2)
    ]


def minhash_signature(shingles: list[int]) -> list[int]:
    """Per seed, min over shingles of (a·h + b) mod P (non-empty input)."""
    return [
        min((a * h + b) % MINHASH_P for h in shingles)
        for a, b in MINHASH_SEEDS[:N_MINHASH]
    ]


def band_keys(sig: list[int]) -> list[str]:
    """'|'-joined signature slices, one key per band."""
    r = len(sig) // N_BANDS
    return ["|".join(str(x) for x in sig[b * r : (b + 1) * r]) for b in range(N_BANDS)]


def dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def l2norm(a) -> float:
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def cosine(a, b) -> float:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def rp_bucket(vec, planes) -> int:
    """Sign-LSH bucket: bit j set when round(dot(vec, plane_j), 6) >= 0."""
    return sum(1 << j for j, p in enumerate(planes) if round(dot(vec, p), 6) >= 0)
