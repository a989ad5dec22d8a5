"""Independent pure-Python oracle for the `dedup_simhash` key.

The operator is fully deterministic — the first 64 bits of md5 over
UTF-8 shingles, majority bit votes, pigeonhole block join — so this
module recomputes the ENTIRE expected candidate set from the parquet in
pure Python (hashlib.md5, same shingle definition, same blocking) and
`tools/check.py` compares it value-for-value against the Spark output,
as a second witness alongside the DuckDB SQL oracle (which rebuilds the
same fingerprints via bin(('0x'||substr(md5(x),1,16))::UBIGINT)). An
independent reimplementation of the same spec is a stronger falsifier
than any similarity-based secondary assertion: a measured attempt at
"candidates ⊇ verified Jaccard@0.8 pairs" FAILS (hamming of a
0.98-Jaccard pair ranges 0..10 on this corpus — SimHash approximates
cosine, and ~40-shingle docs give each bit vote high variance), so that
containment is NOT a sound contract and is not used.

Mirrors `excel_to_db_spark/operators/dedup.py` (`shingles`,
`simhash_pairs`) and the registry call
`simhash_pairs(docs, max_hamming=3, keyset=shingles)`.
"""

from __future__ import annotations

import hashlib


def h64(s: str) -> int:
    """The per-shingle 64-bit hash: first 16 hex chars of md5 parsed as
    an unsigned big-endian integer — exactly what Spark's
    conv(substring(md5(t),1,16),16,2) and DuckDB's
    ('0x'||substr(md5(x),1,16))::UBIGINT produce."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)


def shingles(text: str, k: int = 3) -> list[str]:
    """Distinct k-gram shingles over the token sequence — mirrors
    operators/dedup.py shingles() including the len<k -> empty rule."""
    toks = (text or "").split(" ")
    if len(toks) < k:
        return []
    return sorted({" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)})


def simhash64_py(text: str) -> int:
    """Unsigned 64-bit SimHash, bit i = sign of the per-bit +-1 vote sum
    over h64(shingle) — mirrors the vote sums in operators/dedup.py
    simhash_pairs()."""
    votes = [0] * 64
    for s in shingles(text):
        h = h64(s)
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    fp = 0
    for i in range(64):
        if votes[i] > 0:
            fp |= 1 << i
    return fp


def expected_pairs(docs: list[tuple[int, str]], max_hamming: int = 3,
                   n_blocks: int = 4) -> set[tuple[int, int, int]]:
    """The exact candidate set simhash_pairs() must produce: pigeonhole
    chunk-equality candidates, true-hamming filtered, (d1, d2, hamming)
    with d1 < d2, distinct."""
    fps = {did: simhash64_py(text) for did, text in docs}
    bits_per = 64 // n_blocks
    buckets: dict[tuple[int, int], list[int]] = {}
    for did, fp in fps.items():
        for c in range(n_blocks):
            ck = (fp >> (c * bits_per)) & ((1 << bits_per) - 1)
            buckets.setdefault((c, ck), []).append(did)
    out: set[tuple[int, int, int]] = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                ham = bin(fps[a] ^ fps[b]).count("1")
                if ham <= max_hamming:
                    out.add((a, b, ham))
    return out
