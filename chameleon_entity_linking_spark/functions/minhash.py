"""MinHash signatures + LSH band keys (deterministic, seedless entropy).

Replaces the reference's global FAISS ANN index
(`BiEncoder/test_retrieval.py:42-76`) with a shuffle-friendly
candidate generator: per-doc signatures -> banded keys -> equi-join.
A global index cannot be built at 10^12 docs; banded LSH keys turn
similarity search into a hash-partitioned self-join that Spark
shuffles like any other join.

One signature family per purpose:

- ``minhash_fast_from_texts`` + ``band_hashes``: the pipeline family
  (block.blocking_keys' LSH UDF). Char-3 shingles pack losslessly into
  one uint64, each shingle's base hash is ``splitmix64`` of its pack,
  and the 64 hash functions are ``splitmix64(base ^ c_i)`` — wrapping
  uint64 numpy end to end, no md5 and no string building anywhere.
- ``minhash_md5``: per-seed min over ``md5(f"{seed}:{shingle}")`` hex
  prefixes. Slower, but *exactly* reproducible in DuckDB SQL
  (``substr(md5(...),1,16)`` + ``min``) — the oracle-parity family.

Both are deterministic across processes (no PYTHONHASHSEED exposure).
"""

from __future__ import annotations

import hashlib

import numpy as np

_U64 = np.uint64


def _seed_constants(n_hashes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    # two 32-bit draws per constant -> full-width uint64
    hi = rng.randint(0, 1 << 32, size=n_hashes, dtype=np.uint64)
    lo = rng.randint(0, 1 << 32, size=n_hashes, dtype=np.uint64)
    return (hi << _U64(32)) | lo


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer; wrapping uint64 arithmetic is intentional."""
    z = (z + _U64(0x9E3779B97F4A7C15)) & _U64(0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def minhash_md5(shingles: list[str], n_hashes: int = 16) -> list[str]:
    """Per-seed min of 16-hex-char md5 prefixes (oracle-parity family).

    Returns fixed-width lowercase hex strings, so lexicographic min ==
    numeric min — letting the DuckDB oracle use plain ``min()``.
    Empty shingle set -> all ``"f"*16`` sentinels.
    """
    if not shingles:
        return ["f" * 16] * n_hashes
    out = []
    for i in range(n_hashes):
        out.append(
            min(
                hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:16]
                for s in shingles
            )
        )
    return out


# ---------------------------------------------------------------------------
# pipeline family: char-3 shingles pack losslessly into one uint64
# (3 codepoints x 21 bits), so the base hash is splitmix64 of the pack
# and the whole signature matrix is wrapping-uint64 numpy end-to-end.
# ---------------------------------------------------------------------------


def pack_char3_windows(text: str) -> np.ndarray:
    """All char-3 windows of ``text`` as packed uint64s (MULTISET —
    repeated windows keep their weight). THE one packing shared by the
    minhash shingle space and the embedding trigram space
    (functions/embed.py): collision-free (c0 << 42) | (c1 << 21) | c2,
    codepoints < 2^21. Texts shorter than 3 chars pack their 1-2
    codepoints the same way (missing positions = 0, unambiguous: real
    codepoints are nonzero).
    """
    if not text:
        return np.empty(0, dtype=_U64)
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        _U64
    )
    n = len(codes)
    if n < 3:
        packed = codes[0] << _U64(42)
        if n > 1:
            packed |= codes[1] << _U64(21)
        return np.array([packed], dtype=_U64)
    return (codes[:-2] << _U64(42)) | (codes[1:-1] << _U64(21)) | codes[2:]


def _pack_shingles(text: str) -> np.ndarray:
    """Distinct char-3 shingles (SET semantics: a repeated window
    counts once in a MinHash) — the deduplicated view of
    :func:`pack_char3_windows`."""
    return np.unique(pack_char3_windows(text))


def minhash_fast_from_texts(
    texts: list[str], n_hashes: int = 64, seed: int = 42
) -> np.ndarray:
    """(n_docs, n_hashes) uint64 signature matrix over packed char-3
    shingles — the vectorized hot-path family (no md5 anywhere).
    Empty text -> all-max sentinel row."""
    consts = _seed_constants(n_hashes, seed)
    out = np.full(
        (len(texts), n_hashes), np.iinfo(np.uint64).max, dtype=_U64
    )
    with np.errstate(over="ignore"):
        for row, s in enumerate(texts):
            packed = _pack_shingles(s)
            if packed.size == 0:
                continue
            base = _splitmix64(packed)
            out[row] = _splitmix64(base[:, None] ^ consts[None, :]).min(
                axis=0
            )
    return out


def band_hashes(
    sigs: np.ndarray, n_bands: int, rows_per_band: int, lane_offset: int = 0
) -> np.ndarray:
    """(n_docs, n_bands) int64 LSH band keys, fully vectorized.

    Each band's ``rows_per_band`` signature values are folded with a
    splitmix64 chain; the band index is mixed in so band i and band j
    never share keys (the vector analogue of the ``b{i}:`` prefix).
    ``lane_offset`` shifts the band indices so a SECOND band family
    over the same signature (different rows_per_band) cannot collide
    with the first one's lanes. ``sigs`` is the uint64 matrix of
    :func:`minhash_fast_from_texts`.
    """
    n_docs = sigs.shape[0]
    bands = sigs.reshape(n_docs, n_bands, rows_per_band)
    with np.errstate(over="ignore"):
        # seed each band lane with its index (family separation)
        acc = _splitmix64(
            np.arange(
                lane_offset + 1, lane_offset + n_bands + 1, dtype=_U64
            )[None, :]
            * _U64(0x9E3779B97F4A7C15)
        )
        acc = np.broadcast_to(acc, (n_docs, n_bands)).copy()
        for r in range(rows_per_band):
            acc = _splitmix64(acc ^ bands[:, :, r])
    return acc.view(np.int64)
