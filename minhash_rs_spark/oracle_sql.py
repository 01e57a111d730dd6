"""DuckDB SQL twins of the engine's integer kernels — ORACLE-SIDE ONLY.

The driver's correctness gate runs each __spark_entry__.queries() entry
on Spark and its oracle_sql() twin on DuckDB. Queries whose values pass
through the signature kernels (xxhash64 token ids -> rolling-poly
shingles -> multiply-shift MinHash -> band sigs, or SimHash bit votes)
were rows-only until round 6 because the kernel math had no ANSI-SQL
expression. It does have one: every kernel is pure mod-2^64 integer
arithmetic, and DuckDB's UHUGEINT (unsigned 128-bit) can express
wrapping 64-bit multiply ((a::UHUGEINT*b) % 2^64), the high-64 product
half ((a::UHUGEINT*b) // 2^64), and xor/shift on UBIGINT. This module
GENERATES those SQL expressions so the oracle recomputes the signature
values value-for-value from the parquet text — independently of numpy.

Nothing here runs in the engine's hot path; the engine-side twins are
functions/xxhash.py (spec), functions/hashing.py and functions/kernel.py
(vectorized). Reference math being anchored: token hash = Spark
xxhash64 (public XXH64, seed 42); shingle = rolling polynomial +
splitmix64 finalize (analog of ref ahash ngrams,
/root/reference/src/main.rs:621-672); MinHash = top-64 of (a*h) mod
2^128 (ref src/main.rs:664-677); band sig = poly-combine + splitmix mix
(replaces ref SHA256-truncate, src/main.rs:537-543); SimHash = per-bit
majority vote (functions/udfs.py:with_simhash).
"""

from __future__ import annotations

import numpy as np

from minhash_rs_spark.functions import hashing as H
from minhash_rs_spark.functions.xxhash import P1, P2, P3, P4, P5, SPARK_SEED

_W = "18446744073709551616"  # 2^64
_M1 = 0xBF58476D1CE4E5B9
_M2 = 0x94D049BB133111EB
_C_LO = 0x243F6A8885A308D3
_C_HI = 0x13198A2E03707344
_POLY_B = 0x100000001B3


def u64(v: int) -> str:
    return f"CAST({v & ((1 << 64) - 1)} AS UBIGINT)"


def wmul(a: str, b) -> str:
    """(a * b) mod 2^64 as UBIGINT (wrapping_mul)."""
    return (f"CAST((CAST({a} AS UHUGEINT) * CAST({b} AS UHUGEINT))"
            f" % {_W} AS UBIGINT)")


def wadd(*terms: str) -> str:
    """(t1 + t2 + ...) mod 2^64 as UBIGINT — summed in UHUGEINT so no
    intermediate overflows (UBIGINT addition errors on overflow)."""
    s = " + ".join(f"CAST({t} AS UHUGEINT)" for t in terms)
    return f"CAST(({s}) % {_W} AS UBIGINT)"


def mulhi(a: str, b) -> str:
    """High 64 bits of the 128-bit product (hashing.mulhi64)."""
    return (f"CAST((CAST({a} AS UHUGEINT) * CAST({b} AS UHUGEINT))"
            f" // {_W} AS UBIGINT)")


def rotl(x: str, r: int) -> str:
    """64-bit rotate-left; the two parts occupy disjoint bit ranges so
    plain UBIGINT + cannot overflow."""
    return (f"(CAST((CAST({x} AS UHUGEINT) * {1 << r}) % {_W} AS UBIGINT)"
            f" + (({x}) >> {64 - r}))")


def mix64(x: str) -> str:
    """splitmix64 finalizer (hashing.mix64) as one SQL expression."""
    e1 = f"xor({x}, ({x}) >> 30)"
    e2 = wmul(e1, _M1)
    e3 = f"xor({e2}, ({e2}) >> 27)"
    e4 = wmul(e3, _M2)
    return f"xor({e4}, ({e4}) >> 31)"


def to_signed(x: str) -> str:
    """u64 -> Spark LongType bit pattern (BIGINT)."""
    return (f"CAST(CAST({x} AS HUGEINT) - CASE WHEN {x} >= {1 << 63} "
            f"THEN CAST({_W} AS HUGEINT) ELSE 0 END AS BIGINT)")


# ---------------------------------------------------------------------------
# tokenization (kernel.clean_text + words-mode tokenize, as SQL)
# ---------------------------------------------------------------------------

_SQL_PUNCT = "!\"#$%&''()*+,-./:;<=>?@[\\]^_`{|}~"  # '' = escaped quote
_CJK = "一-鿿㐀-䶿぀-ヿ가-힯"  # kernel.CJK_RANGES


def tokens_expr(text: str) -> str:
    """Token list for words-mode (kernel.clean_text + tokenize):
    lowercase -> strip non-ws C0 controls + DEL -> strip ASCII
    punctuation -> collapse whitespace -> trim -> space out CJK chars
    -> split on spaces, drop empties. RE2's \\x escapes express the C0
    strip; the CJK sub mirrors kernel._CJK_SPLIT_RE exactly; the
    whitespace class is written explicitly as [\\x09-\\x0d ] because
    RE2's \\s omits \\x0b while Python's includes it. Exact for
    ASCII+CJK text; exotic Unicode whitespace/case-fold divergences are
    out of scope (the same stance as the hash-matched _NORM oracles)."""
    cleaned = (f"trim(regexp_replace(translate(regexp_replace("
               f"lower({text}), "
               f"'[\\x00-\\x08\\x0e-\\x1f\\x7f]', '', 'g'), "
               f"'{_SQL_PUNCT}', ''), '[\\x09-\\x0d ]+', ' ', 'g'))")
    cjk = f"regexp_replace({cleaned}, '([{_CJK}])', ' \\1 ', 'g')"
    return f"list_filter(str_split({cjk}, ' '), x -> x != '')"


# ---------------------------------------------------------------------------
# xxhash64 (Spark's xxhash64(): XXH64 over UTF-8 bytes, seed 42)
# ---------------------------------------------------------------------------

def _u64le(first: str) -> str:
    """Little-endian u64 from 8 entries of the byte list `bl` starting at
    1-based index `first`. Max value 2^64-1: UBIGINT sum cannot overflow."""
    return "(" + " + ".join(f"bl[{first}+{j}] * {u64(1 << (8 * j))}"
                            for j in range(8)) + ")"


def _u32le(first: str) -> str:
    return "(" + " + ".join(f"bl[{first}+{j}] * {u64(1 << (8 * j))}"
                            for j in range(4)) + ")"


def _round(acc: str, inp: str) -> str:
    """XXH64 round: rotl31(acc + inp*P2) * P1 (functions/xxhash.py:26)."""
    return wmul(rotl(wadd(acc, wmul(inp, P2)), 31), P1)


def _round0(inp: str) -> str:
    return wmul(rotl(wmul(inp, P2), 31), P1)


def _merge_round(acc: str, val: str) -> str:
    return wadd(wmul(f"xor({acc}, {_round0(val)})", P1), P4)


def _step8(h: str, u: str) -> str:
    return wadd(wmul(rotl(f"xor({h}, {_round0(u)})", 27), P1), P4)


def _step4(h: str, u: str) -> str:
    return wadd(wmul(rotl(f"xor({h}, {wmul(u, P1)})", 23), P2), P3)


def _stepb(h: str, b: str) -> str:
    return wmul(rotl(f"xor({h}, {wmul(b, P5)})", 11), P1)


def _avalanche(h: str) -> str:
    e1 = f"xor({h}, ({h}) >> 33)"
    e2 = wmul(e1, P2)
    e3 = f"xor({e2}, ({e2}) >> 29)"
    e4 = wmul(e3, P3)
    return f"xor({e4}, ({e4}) >> 32)"


def xxh64_ctes(src: str, key_cols: str, word_col: str = "w",
               out_cte: str = "xh") -> str:
    """CTE chain computing h = xxhash64(word, seed 42) per row of `src`.

    src must provide `key_cols` (comma list, carried through) and
    `word_col` (VARCHAR, non-null). The chain mirrors
    functions/xxhash.py step for step; every loop is either folded
    (32-byte stripes, via list_reduce over a struct accumulator) or
    unrolled behind CASE guards (<=3 u64 steps, <=1 u32, <=3 bytes —
    the XXH64 tail is bounded). Emits CTEs `{out_cte}0..` ending with
    `{out_cte}` carrying (key_cols, h UBIGINT).
    """
    seed_p5 = u64((SPARK_SEED + P5) & ((1 << 64) - 1))
    v1 = u64((SPARK_SEED + P1 + P2) & ((1 << 64) - 1))
    v2 = u64((SPARK_SEED + P2) & ((1 << 64) - 1))
    v3 = u64(SPARK_SEED)
    v4 = u64((SPARK_SEED - P1) & ((1 << 64) - 1))
    z = "CAST(0 AS UBIGINT)"
    # stripe fold: elements/init share the struct type {v1..v4 UBIGINT,
    # k BIGINT}; LANE j of stripe k starts at 1-based byte 32*k + 8*j + 1
    def lane(j: int) -> str:
        return "(" + " + ".join(
            f"bl[32*x.k + {8 * j + jj} + 1] * {u64(1 << (8 * jj))}"
            for jj in range(8)) + ")"
    fold = (
        "list_reduce(list_prepend("
        f"{{'v1': {v1}, 'v2': {v2}, 'v3': {v3}, 'v4': {v4}, "
        "'k': CAST(-1 AS BIGINT)}, "
        "list_transform(range(0, CAST(n AS BIGINT) // 32), k -> "
        f"{{'v1': {z}, 'v2': {z}, 'v3': {z}, 'v4': {z}, 'k': k}})), "
        "(acc, x) -> {"
        f"'v1': {_round('acc.v1', lane(0))}, "
        f"'v2': {_round('acc.v2', lane(1))}, "
        f"'v3': {_round('acc.v3', lane(2))}, "
        f"'v4': {_round('acc.v4', lane(3))}, 'k': x.k" + "})")
    merged = _merge_round(_merge_round(_merge_round(_merge_round(
        wadd(rotl("sv.v1", 1), rotl("sv.v2", 7),
             rotl("sv.v3", 12), rotl("sv.v4", 18)),
        "sv.v1"), "sv.v2"), "sv.v3"), "sv.v4")
    k = key_cols
    return f"""
{out_cte}0 AS (
  SELECT {k}, octet_length(encode({word_col})) AS n,
         hex(encode({word_col})) AS hx
  FROM {src}),
{out_cte}1 AS (
  SELECT {k}, n,
         list_transform(range(1, CAST(n AS BIGINT) + 1),
           i -> ('0x' || substr(hx, CAST(2*i-1 AS INTEGER), 2))::UBIGINT)
           AS bl
  FROM {out_cte}0),
{out_cte}2 AS (
  SELECT {k}, n, bl, n % 32 AS r,
         CASE WHEN n >= 32 THEN {fold}
              ELSE {{'v1': {z}, 'v2': {z}, 'v3': {z}, 'v4': {z},
                     'k': CAST(-1 AS BIGINT)}} END AS sv
  FROM {out_cte}1),
{out_cte}3 AS (
  SELECT {k}, n, bl, r,
         {wadd(f"CASE WHEN n >= 32 THEN {merged} ELSE {seed_p5} END",
               "CAST(n AS UBIGINT)")} AS h
  FROM {out_cte}2),
{out_cte}4 AS (
  SELECT {k}, n, bl, r,
         CASE WHEN r >= 8 THEN {_step8('h', _u64le('n - r + 1'))}
              ELSE h END AS h
  FROM {out_cte}3),
{out_cte}5 AS (
  SELECT {k}, n, bl, r,
         CASE WHEN r >= 16 THEN {_step8('h', _u64le('n - r + 9'))}
              ELSE h END AS h
  FROM {out_cte}4),
{out_cte}6 AS (
  SELECT {k}, n, bl, r,
         CASE WHEN r >= 24 THEN {_step8('h', _u64le('n - r + 17'))}
              ELSE h END AS h
  FROM {out_cte}5),
{out_cte}7 AS (
  SELECT {k}, n, bl, r,
         CASE WHEN r % 8 >= 4 THEN {_step4('h', _u32le('n - (r % 8) + 1'))}
              ELSE h END AS h
  FROM {out_cte}6),
{out_cte}8 AS (
  SELECT {k}, n, bl, r % 4 AS rb,
         CASE WHEN r % 4 >= 1 THEN {_stepb('h', 'bl[n - (r % 4) + 1]')}
              ELSE h END AS h
  FROM {out_cte}7),
{out_cte}9 AS (
  SELECT {k}, n, bl, rb,
         CASE WHEN rb >= 2 THEN {_stepb('h', 'bl[n - rb + 2]')}
              ELSE h END AS h
  FROM {out_cte}8),
{out_cte}10 AS (
  SELECT {k}, CASE WHEN rb >= 3 THEN {_stepb('h', 'bl[n - rb + 3]')}
              ELSE h END AS h
  FROM {out_cte}9),
{out_cte} AS (SELECT {k}, {_avalanche('h')} AS h FROM {out_cte}10)"""


# ---------------------------------------------------------------------------
# shingles: rolling polynomial (base FNV prime) + mix64, short-doc fallback
# ---------------------------------------------------------------------------

def shingle_list(th: str, ngram: int = 5) -> str:
    """SQL list of u64 shingle hashes from a token-hash list `th`
    (hashing.rolling_poly_hashes: degree-(n-1) poly in base _POLY_B,
    mix64-finalized; docs with < n tokens yield ONE shingle over all
    their tokens — mix64(0)=0 for the empty doc)."""
    step = (f"CAST((CAST(acc AS UHUGEINT) * {_POLY_B} "
            f"+ CAST(x AS UHUGEINT)) % {_W} AS UBIGINT)")
    win_poly = f"list_reduce(({th})[i:i+{ngram - 1}], (acc, x) -> {step})"
    all_poly = f"list_reduce({th}, (acc, x) -> {step})"
    return (f"CASE WHEN len({th}) >= {ngram} THEN "
            f"list_transform(range(1, len({th}) - {ngram - 2}), "
            f"i -> {mix64(win_poly)}) "
            f"WHEN len({th}) = 0 THEN [CAST(0 AS UBIGINT)] "
            f"ELSE [{mix64(all_poly)}] END")


# ---------------------------------------------------------------------------
# MinHash permutations + band signatures
# ---------------------------------------------------------------------------

def perm_multipliers(hash_seed: int, num_bands: int, band_size: int
                     ) -> tuple[np.ndarray, np.ndarray]:
    """The engine's own seed expansion (hashing.py H1/H2) — multipliers
    are config-derived constants, inlined into the oracle as literals."""
    band_seeds = H.expand_band_seeds(hash_seed, num_bands)
    perm_seeds = H.expand_perm_seeds(band_seeds, band_size)
    return H.init_permutations(perm_seeds)


def perm_min_exprs(hash_seed: int, num_bands: int, band_size: int,
                   hhi: str = "hhi", hlo: str = "hlo") -> list[str]:
    """One MIN(...) aggregate per permutation: min over a doc's shingles
    of the top-64 of (a*h) mod 2^128 (hashing.minhash_block:
    mulhi64(a_lo,h_lo) + a_lo*h_hi + a_hi*h_lo, wrapping)."""
    a_hi, a_lo = perm_multipliers(hash_seed, num_bands, band_size)
    return [
        "min(" + wadd(mulhi(hlo, int(al)), wmul(hhi, int(al)),
                      wmul(hlo, int(ah))) + f") AS m{p}"
        for p, (ah, al) in enumerate(zip(a_hi, a_lo))
    ]


def band_sig_select(num_bands: int, band_size: int, key: str = "conv_id"
                    ) -> str:
    """UNION ALL over bands: poly-combine each band's `band_size` mins,
    add mix64(band_idx), double-mix into (sig_hi, sig_lo) — exactly
    hashing.band_signatures. Emits signed BIGINTs (Spark LongType)."""
    parts = []
    for b in range(num_bands):
        acc = "CAST(0 AS UBIGINT)"
        for j in range(band_size):
            acc = wadd(wmul(acc, _POLY_B), f"m{b * band_size + j}")
        acc = wadd(acc, int(H.mix64(np.uint64(b))))
        hi = mix64(f"xor({acc}, {u64(_C_HI)})")
        lo = mix64(f"xor({acc}, {u64(_C_LO)})")
        parts.append(
            f"SELECT {key}, CAST({b} AS INTEGER) AS band_id, "
            f"{to_signed(hi)} AS sig_hi, {to_signed(lo)} AS sig_lo "
            "FROM mins")
    return " UNION ALL ".join(parts)


def shingle_u128_exprs(sv: str = "sv") -> tuple[str, str]:
    """u64 shingle id -> u128 halves (hashing.shingle_u128)."""
    return (mix64(f"xor({sv}, {u64(_C_HI)})"),
            mix64(f"xor({sv}, {u64(_C_LO)})"))


# ---------------------------------------------------------------------------
# SimHash: per-bit majority vote (ties set the bit), 64 bits
# ---------------------------------------------------------------------------

def simhash_select(src: str, key: str = "conv_id", sv: str = "sv") -> str:
    """GROUP BY `key` over exploded shingle rows `src(key, sv UBIGINT)`:
    bit b of the signature is set iff 2*count(rows with bit b set) >=
    n_rows (udfs.with_simhash vote, ties -> 1). Returns
    (key, n_shingles BIGINT, simhash BIGINT signed)."""
    acc = " + ".join(
        f"(CASE WHEN 2 * sum(({sv} >> {b}) & 1) >= count(*) "
        f"THEN CAST({1 << b} AS UHUGEINT) ELSE 0 END)"
        for b in range(64))
    val = f"CAST(({acc}) % {_W} AS UBIGINT)"
    return (f"SELECT {key}, CAST(count(*) AS BIGINT) AS n_shingles, "
            f"{to_signed(val)} AS simhash FROM {src} GROUP BY {key}")
