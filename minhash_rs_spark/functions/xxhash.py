"""Pure-Python xxHash64 (public algorithm, Yann Collet) — reproduces
Spark's `xxhash64()` token hashes in Python. `kernel.tokenize` calls it
once per distinct token of a batch on the Python tokenizer path
(`udfs.shingle_sets`, the simhash workload's hot path) so that path's
token ids equal the JVM codegen path's (`doc_assembly.
assemble_token_docs`); the test oracle uses it too. This implementation
is deliberately simple, not fast.

Spark semantics (org.apache.spark.sql.catalyst.expressions.XxHash64):
seed 42, input = the UTF-8 bytes of the string.
"""

from __future__ import annotations

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
