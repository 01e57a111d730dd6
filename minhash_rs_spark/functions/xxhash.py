"""xxHash64 (public algorithm, Yann Collet) — reproduces Spark's
`xxhash64()` token hashes in Python, so the Python tokenizer path
(`kernel.tokenize_batch`, run by `udfs.shingle_sets`) produces the same
token ids as the JVM codegen path (`doc_assembly.assemble_token_docs`).

Two forms of one algorithm:
  xxhash64        — the scalar spec, one bytes/str at a time, written
                    for reading; the test oracle and `kernel.tokenize`
                    (the scalar reference tokenizer) use it.
  xxhash64_tokens — the batch kernel: every token of a byte buffer at
                    once, each step a numpy op over all tokens still in
                    that step (the 4-lane stripe loop for tokens of 32
                    bytes or more, then the 8-, 4- and 1-byte tails).
                    Tested equal to the spec on every length 0..100.

Spark semantics (org.apache.spark.sql.catalyst.expressions.XxHash64):
seed 42, input = the UTF-8 bytes of the string.
"""

from __future__ import annotations

import numpy as np

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * P2) & _M
    acc = _rotl(acc, 31)
    return (acc * P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * P1 + P4) & _M


def xxhash64(data: bytes | str, seed: int = SPARK_SEED) -> int:
    """xxHash64 of bytes (str is UTF-8-encoded first); returns unsigned."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed & _M
        v4 = (seed - P1) & _M
        while pos + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[pos:pos + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[pos + 8:pos + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[pos + 16:pos + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[pos + 24:pos + 32], "little"))
            pos += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while pos + 8 <= n:
        h ^= _round(0, int.from_bytes(data[pos:pos + 8], "little"))
        h = (_rotl(h, 27) * P1 + P4) & _M
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos:pos + 4], "little") * P1) & _M
        h = (_rotl(h, 23) * P2 + P3) & _M
        pos += 4
    while pos < n:
        h ^= (data[pos] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        pos += 1
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    h ^= h >> 32
    return h


def xxhash64_signed(data: bytes | str, seed: int = SPARK_SEED) -> int:
    """Spark returns LongType (signed 64-bit)."""
    h = xxhash64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


_U = np.uint64
_P1, _P2, _P3, _P4, _P5 = _U(P1), _U(P2), _U(P3), _U(P4), _U(P5)


def _rotl_np(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _round_np(acc: np.ndarray, inp: np.ndarray) -> np.ndarray:
    return _rotl_np(acc + inp * _P2, 31) * _P1


def xxhash64_tokens(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray,
                    seed: int = SPARK_SEED) -> np.ndarray:
    """u64 xxHash64 of every token buf[starts[i]:starts[i] + lens[i]]
    (buf: uint8, starts/lens: int64) — `xxhash64` step for step, each
    step applied at once to the tokens that take it."""
    with np.errstate(over="ignore"):
        pad = np.zeros(len(buf) + 8, dtype=np.uint8)
        pad[:len(buf)] = buf
        # little-endian u64 / u32 loads at every byte offset (stride 1)
        w64 = np.ndarray(len(buf) + 1, dtype="<u8", buffer=pad, strides=(1,))
        w32 = np.ndarray(len(buf) + 5, dtype="<u4", buffer=pad, strides=(1,))
        pos = starts.astype(np.int64)
        rem = lens.astype(np.int64)
        h = np.full(len(pos), (seed + P5) & _M, dtype=_U)
        big = np.nonzero(rem >= 32)[0]
        if len(big):
            p = pos[big]
            stripes = rem[big] // 32
            v = [np.full(len(big), x & _M, dtype=_U)
                 for x in (seed + P1 + P2, seed + P2, seed, seed - P1)]
            for s in range(int(stripes.max())):
                i = np.nonzero(stripes > s)[0]
                q = p[i] + 32 * s
                for lane in range(4):
                    v[lane][i] = _round_np(v[lane][i], w64[q + 8 * lane])
            hb = (_rotl_np(v[0], 1) + _rotl_np(v[1], 7)
                  + _rotl_np(v[2], 12) + _rotl_np(v[3], 18))
            for lane in range(4):
                hb = (hb ^ _round_np(_U(0), v[lane])) * _P1 + _P4
            h[big] = hb
            pos[big] += 32 * stripes
            rem[big] -= 32 * stripes
        h += lens.astype(_U)
        for _ in range(3):              # rem < 32: at most three 8-byte words
            i = np.nonzero(rem >= 8)[0]
            if not len(i):
                break
            h[i] = (_rotl_np(h[i] ^ _round_np(_U(0), w64[pos[i]]), 27) * _P1
                    + _P4)
            pos[i] += 8
            rem[i] -= 8
        i = np.nonzero(rem >= 4)[0]
        h[i] = (_rotl_np(h[i] ^ (w32[pos[i]].astype(_U) * _P1), 23) * _P2
                + _P3)
        pos[i] += 4
        rem[i] -= 4
        for _ in range(3):
            i = np.nonzero(rem > 0)[0]
            if not len(i):
                break
            h[i] = _rotl_np(h[i] ^ (pad[pos[i]].astype(_U) * _P5), 11) * _P1
            pos[i] += 1
            rem[i] -= 1
        h ^= h >> _U(33)
        h *= _P2
        h ^= h >> _U(29)
        h *= _P3
        h ^= h >> _U(32)
    return h
