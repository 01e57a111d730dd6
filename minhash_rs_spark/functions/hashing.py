"""Deterministic 64/128-bit hashing primitives (numpy-vectorized).

Re-derivation of the reference's hashing stack (SURVEY.md §2.3) with
public, stable functions:

  reference (Rust)                          here
  ----------------------------------------  --------------------------------
  ChaCha20Rng/StdRng seed expansion          splitmix64 stream
    (src/main.rs:642-693, H1/H2)             (documented divergence — the
                                              reference's RNGs are not a
                                              stable public spec; SURVEY §7.4)
  ahash(seed=123/456) ngram -> u128 (H3)     rolling polynomial + splitmix64
                                              finalizers -> u128
  min(hv, (a*h mod 2^128) >> 64) (H4)        identical math, numpy uint64
    (src/main.rs:664-677)                     32-bit-limb mulhi
  SHA256(band)[:sig_size] (H5)               128-bit splitmix mix of the
    (src/main.rs:537-543)                     band's u64s (collision-safe at
                                              10^12 docs; engine-internal)

All functions operate on / return numpy uint64 arrays with silent
wraparound semantics (mod 2^64), matching the reference's `wrapping_mul`.
Python-int constants are pre-cast to np.uint64 — mixing raw Python ints
with uint64 arrays would promote to float64 and corrupt hashes.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np


def _wrapping(fn):
    """Silence numpy's scalar-overflow RuntimeWarning — wraparound mod 2^64
    is the intended semantic (reference: Rust `wrapping_mul`)."""
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with np.errstate(over="ignore"):
            return fn(*args, **kwargs)
    return inner

U64 = np.uint64
_M1 = U64(0xBF58476D1CE4E5B9)
_M2 = U64(0x94D049BB133111EB)
_GOLDEN = U64(0x9E3779B97F4A7C15)
_SH30, _SH27, _SH31 = U64(30), U64(27), U64(31)
_SH32 = U64(32)
_LO32 = U64(0xFFFFFFFF)

# domain-separation constants for deriving u128 shingle hashes / band sigs
_C_LO = U64(0x243F6A8885A308D3)  # pi fractional bits
_C_HI = U64(0x13198A2E03707344)
_POLY_B = U64(0x100000001B3)  # FNV-1a prime, odd — polynomial base

MAX_HASH = U64(0xFFFFFFFFFFFFFFFF)


@_wrapping
def mix64(x: np.ndarray | np.uint64) -> np.ndarray | np.uint64:
    """splitmix64 finalizer — a public-domain bijective 64-bit mixer."""
    x = U64(x) if np.isscalar(x) or isinstance(x, int) else x.astype(U64, copy=True)
    x = x ^ (x >> _SH30)
    x = x * _M1
    x = x ^ (x >> _SH27)
    x = x * _M2
    x = x ^ (x >> _SH31)
    return x


@_wrapping
def splitmix_stream(seed: int, n: int) -> np.ndarray:
    """First n outputs of a splitmix64 stream seeded with `seed`."""
    state = (U64(seed & 0xFFFFFFFFFFFFFFFF) + _GOLDEN * np.arange(1, n + 1, dtype=U64))
    return mix64(state)


@_wrapping
def expand_band_seeds(hash_seed: int, num_bands: int) -> np.ndarray:
    """hash_seed -> num_bands band seeds (ref: src/main.rs:441-444)."""
    return splitmix_stream(hash_seed, num_bands)


@_wrapping
def expand_perm_seeds(band_seeds: np.ndarray, band_size: int) -> np.ndarray:
    """Each band seed -> band_size permutation seeds, flattened
    (ref: _expand_band_seeds src/main.rs:681-693)."""
    out = np.empty(len(band_seeds) * band_size, dtype=U64)
    for i, bs in enumerate(band_seeds):
        out[i * band_size:(i + 1) * band_size] = splitmix_stream(int(bs), band_size)
    return out


@_wrapping
def init_permutations(perm_seeds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-permutation random u128 multiplier `a`, as (hi, lo) u64 halves
    (ref: _init_permutations src/main.rs:642-651)."""
    a_hi = mix64(perm_seeds ^ _C_HI)
    a_lo = mix64(perm_seeds ^ _C_LO) | U64(1)  # odd => multiplier is a bijection mod 2^128
    return a_hi, a_lo


@_wrapping
def mulhi64(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """High 64 bits of the 128-bit product x*y (numpy has no u128)."""
    x0 = x & _LO32
    x1 = x >> _SH32
    y0 = y & _LO32
    y1 = y >> _SH32
    lo_lo = x0 * y0
    mid1 = x1 * y0 + (lo_lo >> _SH32)
    mid2 = x0 * y1 + (mid1 & _LO32)
    return x1 * y1 + (mid1 >> _SH32) + (mid2 >> _SH32)


@_wrapping
def minhash_block(a_hi: np.ndarray, a_lo: np.ndarray,
                  h_hi: np.ndarray, h_lo: np.ndarray,
                  seg_starts: np.ndarray, out: np.ndarray) -> None:
    """All permutations over one cache-resident shingle block.

    out: (n_docs_in_block, num_perms) u64, written in place. Per
    permutation `a`, the top 64 bits of (a * h) mod 2^128 over the u128
    shingle hashes h (ref math: src/main.rs:674-677):

      top64 = mulhi64(a_lo, h_lo) + a_lo*h_hi + a_hi*h_lo  (wrapping u64)

    with mulhi64's limb math inlined on preallocated temporaries reused
    across the permutation loop — the inner arrays (block-sized, ~0.5MB)
    stay in cache for all ~112 perms.
    """
    n = len(h_lo)
    x0 = h_lo & _LO32
    x1 = h_lo >> _SH32
    t1 = np.empty(n, dtype=U64)
    t2 = np.empty(n, dtype=U64)
    acc = np.empty(n, dtype=U64)
    for p in range(len(a_lo)):
        al, ah = a_lo[p], a_hi[p]
        y0 = al & _LO32
        y1 = al >> _SH32
        # mulhi64(h_lo, a_lo) with reused temps
        np.multiply(x0, y0, out=t1)           # lo_lo
        t1 >>= _SH32
        np.multiply(x1, y0, out=t2)           # mid1 = x1*y0 + (lo_lo>>32)
        t2 += t1
        np.multiply(x0, y1, out=t1)           # mid2 = x0*y1 + (mid1&lo32)
        np.bitwise_and(t2, _LO32, out=acc)
        t1 += acc
        t2 >>= _SH32
        t1 >>= _SH32
        np.multiply(x1, y1, out=acc)          # hi = x1*y1 + mid1>>32 + mid2>>32
        acc += t2
        acc += t1
        # + a_lo*h_hi + a_hi*h_lo  (wrapping)
        np.multiply(h_hi, al, out=t1)
        acc += t1
        np.multiply(h_lo, ah, out=t1)
        acc += t1
        np.minimum.reduceat(acc, seg_starts, out=out[:, p])


def stable_str_hash(s: str) -> int:
    """Stable 64-bit hash of a unicode string (blake2b/8); replaces the
    reference's SipHash DefaultHasher (src/main.rs:583-587) — any stable
    64-bit hash is equivalent for engine-internal identity."""
    return int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little")


@_wrapping
def rolling_poly_hashes(token_hashes: np.ndarray, n: int) -> np.ndarray:
    """n-gram shingle hashes over a token-hash sequence.

    Sliding window of n tokens combined by a degree-(n-1) polynomial in
    base _POLY_B (wrapping u64), then splitmix-finalized. Mirrors the
    reference's VecDeque shingler + ahash (src/main.rs:621-635, 664-672)
    with the same short-doc fallback: a document with fewer than n tokens
    contributes exactly one shingle over all of its tokens (possibly the
    empty sequence -> mix64(0)) — ref src/main.rs:631-635.
    """
    t = token_hashes.astype(U64, copy=False)
    L = len(t)
    if L < n:
        acc = U64(0)
        for j in range(L):
            acc = acc * _POLY_B + t[j]
        return mix64(np.array([acc], dtype=U64))
    m = L - n + 1
    acc = np.zeros(m, dtype=U64)
    for j in range(n):
        acc = acc * _POLY_B + t[j:j + m]
    return mix64(acc)


@_wrapping
def rolling_poly_from_flat(flat: np.ndarray, starts: np.ndarray,
                           n: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized n-gram shingling over a WHOLE BATCH of documents laid
    out as one flat token-hash array + per-doc start offsets (the Arrow
    ListArray layout): the rolling polynomial is computed once over the
    flat array and windows crossing document boundaries are simply not
    gathered. Short docs (< n tokens) get the single fallback shingle
    (ref src/main.rs:631-635). Duplicates are retained — MinHash is
    multiset-invariant; call unique_per_doc for set semantics.

    Returns (shingle_flat, shingle_starts): same layout, one segment per
    input doc, every segment non-empty.
    """
    flat = flat.astype(U64, copy=False)
    ndocs = len(starts)
    total = len(flat)
    ends = np.empty(ndocs, dtype=np.int64)
    ends[:-1] = starts[1:]
    ends[-1] = total
    lens = ends - starts
    counts = np.maximum(lens - (n - 1), 1)
    out_starts = np.zeros(ndocs, dtype=np.int64)
    np.cumsum(counts[:-1], out=out_starts[1:])
    out = np.empty(int(counts.sum()), dtype=U64)

    short_idx = np.nonzero(lens < n)[0]
    m = total - n + 1
    if m > 0:
        acc = np.zeros(m, dtype=U64)
        for j in range(n):
            acc = acc * _POLY_B + flat[j:j + m]
        # window p is whole iff no later doc starts in (p, p + n); the
        # whole windows are exactly the long docs' shingles, in order,
        # and fill every out slot but the short docs' fallbacks
        whole = np.ones(m, dtype=bool)
        for k in range(1, n):
            p = starts - k
            whole[p[(p >= 0) & (p < m)]] = False
        slots = np.ones(len(out), dtype=bool)
        slots[out_starts[short_idx]] = False
        out[slots] = mix64(acc[whole])
    # short docs: single fallback shingle over all (possibly zero) tokens
    for i in short_idx:
        a = U64(0)
        for j in range(int(lens[i])):
            a = a * _POLY_B + flat[starts[i] + j]
        out[out_starts[i]] = mix64(a)
    return out, out_starts


def doc_blocks(starts: np.ndarray, total: int, target: int) -> np.ndarray:
    """Doc-aligned block bounds over a flat buffer of `total` items laid
    out by per-doc start offsets: block i starts at the doc holding item
    i * target. A doc is never split, so a block exceeds the target only
    by its last doc. Returns sorted doc indices from 0 to len(starts)."""
    return np.unique(np.concatenate([
        [0],
        np.searchsorted(starts, np.arange(target, total, target),
                        side="right") - 1,
        [len(starts)]]))


def doc_ids(lens: np.ndarray, ndocs: int) -> np.ndarray:
    """Doc id of every item of a flat buffer laid out by per-doc
    lengths, as the narrowest unsigned dtype that holds ndocs - 1: up
    to 65,536 docs that is 16 bits or less, which numpy's stable sort
    orders by radix sort."""
    return np.repeat(
        np.arange(ndocs, dtype=np.min_scalar_type(max(ndocs - 1, 0))), lens)


def two_key_order(major: np.ndarray, minor: np.ndarray) -> np.ndarray:
    """Permutation that sorts records by (major, minor): argsort the
    minor key, then stable-argsort that order by the major key. With
    narrow unsigned major keys (doc_ids) the stable pass is a radix
    sort. Records equal on both keys come out in no fixed order."""
    order = np.argsort(minor)
    return order[np.argsort(major[order], kind="stable")]


def unique_per_doc(sh_flat: np.ndarray, sh_starts: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Sorted-unique shingles per doc segment, fully vectorized: sort
    (doc, value) records (two_key_order), then drop adjacent
    duplicates."""
    ndocs = len(sh_starts)
    total = len(sh_flat)
    lens = np.empty(ndocs, dtype=np.int64)
    lens[:-1] = sh_starts[1:] - sh_starts[:-1]
    lens[-1] = total - sh_starts[-1]
    doc_of = doc_ids(lens, ndocs)
    order = two_key_order(doc_of, sh_flat)
    sd = doc_of[order]
    sv = sh_flat[order]
    keep = np.empty(total, dtype=bool)
    keep[0] = True
    np.logical_or(sd[1:] != sd[:-1], sv[1:] != sv[:-1], out=keep[1:])
    out = sv[keep]
    out_lens = np.bincount(sd[keep], minlength=ndocs)
    out_starts = np.zeros(ndocs, dtype=np.int64)
    np.cumsum(out_lens[:-1], out=out_starts[1:])
    return out, out_starts


@_wrapping
def shingle_u128(shingles_u64: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Derive the u128 shingle hash (hi, lo halves) from the u64 shingle id
    (analog of the reference's two fixed-seed ahash calls,
    src/main.rs:664-672)."""
    s = shingles_u64.astype(U64, copy=False)
    return mix64(s ^ _C_HI), mix64(s ^ _C_LO)


@_wrapping
def band_signatures(hv: np.ndarray, num_bands: int, band_size: int) -> tuple[np.ndarray, np.ndarray]:
    """Collapse per-doc minhash vectors into one 128-bit signature per band.

    hv: (num_docs, num_bands*band_size) u64 -> (num_docs, num_bands) hi/lo.
    Polynomial-combine each band's `band_size` u64s then mix twice
    (replaces SHA256-truncate, src/main.rs:537-543; 128 bits keeps
    E[cross-band collisions] << 1 at 10^12 docs x 14 bands).
    """
    d, p = hv.shape
    assert p == num_bands * band_size
    b = hv.reshape(d, num_bands, band_size)
    acc = np.zeros((d, num_bands), dtype=U64)
    for j in range(band_size):
        acc = acc * _POLY_B + b[:, :, j]
    # domain-separate by band index so identical band vectors in different
    # bands don't collide into one LSH bucket key component
    band_idx = np.arange(num_bands, dtype=U64)
    acc = acc + mix64(band_idx)[None, :]
    return mix64(acc ^ _C_HI), mix64(acc ^ _C_LO)
