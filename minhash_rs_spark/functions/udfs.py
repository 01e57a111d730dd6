"""Arrow-batched Spark UDFs wrapping the numpy kernel.

Exactly the UDF surface SURVEY.md §2.7 calls for — every UDF is one
mapInArrow over flat buffers; the only per-row Python is the C-speed
str cleaning of each text (kernel.tokenize_batch), after which token
bounds, token hashes, shingles and dedup are whole-batch numpy:

  shingle_sets(...)        text -> sorted-unique u64 shingle ids (P1-P3)
                           — batch tokenizer, rolling shingles, radix-
                           sorted dedup
  band_signature_rows(...) shingles -> exploded (band_id, sig_hi, sig_lo)
                           rows (H1-H5), explosion done batch-side in
                           numpy (np.repeat/tile), not via Spark explode
  with_jaccard(df, a, b)   exact Jaccard of two shingle-array columns
                           (J6) — batch (row, value) sort + adjacent-
                           dup count
  with_simhash(df, col)    64-bit SimHash of a shingle-array column
                           (north rule) — per-block byte histogram x
                           bit table
  with_cosine(df, a, b)    cosine of two embedding columns — the one
                           float64 fold (_fold) every embedding surface
                           scores with

The three with_* UDFs share one drop-and-append mapInArrow
(_map_append).

Every shingle and signature UDF reads and writes the same layout: one
flat u64 value buffer + per-doc start offsets (the Arrow ListArray
layout). `_shingle_batch` and `_sig_batch` build the two output batch
shapes from it.

u64 <-> int64: Spark LongType is signed; we reinterpret bits with
ndarray.view / .astype copies — values round-trip exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from minhash_rs_spark.config import MinHashConfig
from minhash_rs_spark.functions import hashing as H
from minhash_rs_spark.functions.kernel import SignatureKernel, tokenize_batch

SHINGLES_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("shingles", T.ArrayType(T.LongType(), False), False),
    T.StructField("n_shingles", T.IntegerType(), False),
])

SIG_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("band_id", T.IntegerType(), False),
    T.StructField("sig_hi", T.LongType(), False),
    T.StructField("sig_lo", T.LongType(), False),
])


def _kernel(cfg: MinHashConfig) -> SignatureKernel:
    return SignatureKernel(
        num_bands=cfg.num_bands, band_size=cfg.band_size,
        ngram_size=cfg.ngram_size, tokenizer=cfg.tokenizer,
        hash_seed=cfg.hash_seed, exact_override=cfg.exact_override)


def _list_flat(lst):
    """(values u64 view, starts int64) from an Arrow ListArray column."""
    if isinstance(lst, pa.ChunkedArray):  # pragma: no cover
        lst = lst.combine_chunks()
    offsets = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = lst.values.to_numpy(zero_copy_only=False).view(np.uint64)
    # account for a possible non-zero list-view offset
    base = offsets[0]
    return flat[base:offsets[-1]], offsets[:-1] - base


def _shingle_batch(conv, flat, starts, ngram: int) -> "pa.RecordBatch":
    """(conv_id, shingles, n_shingles) batch from a flat token-hash
    buffer: batch rolling shingles, then a radix-sorted dedup per doc
    (hashing.unique_per_doc) — the sorted-unique sets exact-Jaccard
    verification needs. The list column is assembled from one flat
    buffer + offsets; no per-doc Python objects cross the Arrow
    boundary.

    max_shingles_per_doc is NOT applied here — MinHash signatures are
    cap-invariant on every tokenizer path; the cap bounds only the
    exact-verification sets and is applied once, in pipeline.run_minhash
    (a capped-set minimum would bias the MinHash estimator and make the
    clustering depend on which tokenizer path produced the signature)."""
    u_flat, u_starts = H.unique_per_doc(
        *H.rolling_poly_from_flat(flat, starts, ngram))
    offsets = np.append(u_starts, len(u_flat)).astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [conv,
         pa.ListArray.from_arrays(pa.array(offsets),
                                  pa.array(u_flat.view(np.int64))),
         pa.array(np.diff(offsets))],
        names=SHINGLES_SCHEMA.names)


def _sig_batch(conv, hi: np.ndarray, lo: np.ndarray) -> "pa.RecordBatch":
    """One row per (doc, band) from (num_docs, num_bands) key halves: the
    num_bands-per-doc explosion happens with np.repeat/tile inside the
    batch — Spark never materializes an intermediate array column.
    (ref phase 2 layout: src/main.rs:411-429)"""
    n, nb = hi.shape
    return pa.RecordBatch.from_arrays(
        [conv.take(pa.array(np.repeat(np.arange(n), nb))),
         pa.array(np.tile(np.arange(nb, dtype=np.int32), n)),
         pa.array(hi.reshape(-1).view(np.int64)),
         pa.array(lo.reshape(-1).view(np.int64))],
        names=SIG_SCHEMA.names)


def shingle_sets(docs: DataFrame, cfg: MinHashConfig,
                 text_col: str = "doc_text") -> DataFrame:
    """(conv_id, doc_text) -> (conv_id, shingles array<long>, n_shingles).

    Computed ONCE per document and reused by both the signature stage and
    the exact-Jaccard verification stage (the reference re-tokenizes in
    its true-jacc pass, src/main.rs:563-576 — we don't).

    Only cleaning touches Python strings: kernel.tokenize_batch hashes
    the whole batch's tokens into one flat buffer, which _shingle_batch
    shingles.
    """

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            conv = rb.column(0)
            flat, starts, ok = tokenize_batch(rb.column(1).to_pylist(),
                                              cfg.tokenizer)
            # P7 tokenization-failure guard (ref catch_unwind,
            # src/main.rs:522-526): a doc whose tokenization raised is
            # dropped here -> no signatures -> it survives as a singleton,
            # matching the reference's skip-and-continue. It holds no
            # tokens, so dropping its start offset drops it from flat.
            if not ok.all():
                conv = conv.filter(pa.array(ok))
                starts = starts[ok]
                if not len(starts):
                    continue
            yield _shingle_batch(conv, flat, starts, cfg.ngram_size)

    return docs.select("conv_id", text_col).mapInArrow(fn, SHINGLES_SCHEMA)


def band_signature_rows(shingles_df: DataFrame, cfg: MinHashConfig) -> DataFrame:
    """(conv_id, shingles) -> one row per (doc, band): the LSH keys.

    The shingle list column's flat value buffer + offsets feed the
    blocked minhash kernel directly (zero copy, zero per-doc Python).
    """

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        kernel = _kernel(cfg)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            flat, starts = _list_flat(rb.column(1))
            yield _sig_batch(rb.column(0),
                             *kernel.band_sigs_from_flat(flat, starts))

    return shingles_df.select("conv_id", "shingles").mapInArrow(fn, SIG_SCHEMA)


def band_signature_rows_from_tokens(token_docs: DataFrame,
                                    cfg: MinHashConfig) -> DataFrame:
    """(conv_id, token_hashes) -> (conv_id, band_id, sig_hi, sig_lo).

    The fast path: tokenization already happened JVM-side
    (doc_assembly.assemble_token_docs), so this UDF is pure numpy —
    batch-vectorized rolling shingles (hashing.rolling_poly_from_flat)
    + blocked minhash. No uniqueness pass: MinHash is multiset-invariant.
    """

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        kernel = _kernel(cfg)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            flat, starts = _list_flat(rb.column(1))
            yield _sig_batch(rb.column(0), *kernel.band_sigs_from_flat(
                *H.rolling_poly_from_flat(flat, starts, cfg.ngram_size)))

    return (token_docs.select("conv_id", "token_hashes")
            .mapInArrow(fn, SIG_SCHEMA))


def shingle_sets_from_tokens(token_docs: DataFrame,
                             cfg: MinHashConfig) -> DataFrame:
    """(conv_id, token_hashes) -> (conv_id, shingles, n_shingles) with
    sorted-unique shingle sets (for exact-Jaccard verification) —
    _shingle_batch straight over the JVM token buffer."""

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            yield _shingle_batch(rb.column(0), *_list_flat(rb.column(1)),
                                 cfg.ngram_size)

    return (token_docs.select("conv_id", "token_hashes")
            .mapInArrow(fn, SHINGLES_SCHEMA))


def band_signature_rows_exact(docs: DataFrame, cfg: MinHashConfig,
                              text_col: str = "doc_text") -> DataFrame:
    """exact_override mode: signatures straight from text
    (ref: src/main.rs:522-533) — skips shingling entirely."""

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        kernel = _kernel(cfg)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            yield _sig_batch(rb.column(0), *kernel.signatures_for_texts(
                rb.column(1).to_pylist()))

    return docs.select("conv_id", text_col).mapInArrow(fn, SIG_SCHEMA)


def _batch_jaccard(a_flat, a_starts, b_flat, b_starts, n):
    """Vectorized per-row exact Jaccard of n (sorted-unique) set pairs
    given as flat value buffers + row starts. No per-row Python: tag
    every value with its row id, sort (row, value) records across BOTH
    sides at once (hashing.two_key_order), and count adjacent
    duplicates per row — a value appears twice within a row iff it is
    in the intersection (each side's set has no internal duplicates)."""
    a_lens = np.empty(n, dtype=np.int64)
    a_lens[:-1] = a_starts[1:] - a_starts[:-1]
    a_lens[-1] = len(a_flat) - a_starts[-1]
    b_lens = np.empty(n, dtype=np.int64)
    b_lens[:-1] = b_starts[1:] - b_starts[:-1]
    b_lens[-1] = len(b_flat) - b_starts[-1]

    rows = np.concatenate([H.doc_ids(a_lens, n), H.doc_ids(b_lens, n)])
    vals = np.concatenate([a_flat, b_flat])
    order = H.two_key_order(rows, vals)
    rows_s, vals_s = rows[order], vals[order]
    dup = (rows_s[1:] == rows_s[:-1]) & (vals_s[1:] == vals_s[:-1])
    inter = np.bincount(rows_s[1:][dup], minlength=n)
    union = a_lens + b_lens - inter
    out = np.zeros(n, dtype=np.float64)
    nz = union > 0
    out[nz] = inter[nz] / union[nz]
    # both sets empty -> Jaccard 1.0 (identical empties), matching the
    # scalar kernel jaccard_u64
    out[~nz] = 1.0
    return out, inter, union


def _map_append(df: DataFrame, drop: tuple, extra: list,
                kernel) -> DataFrame:
    """One mapInArrow that drops the `drop` columns and appends the
    `extra` fields; every other column passes through untouched.
    kernel(cols, n) gets a batch's columns by name and its row count and
    returns a list of one array per extra field."""
    keep = [f for f in df.schema.fields if f.name not in drop]
    keep_names = [f.name for f in keep]
    names = keep_names + [f.name for f in extra]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = dict(zip(rb.schema.names, rb.columns))
            yield pa.RecordBatch.from_arrays(
                [cols[k] for k in keep_names]
                + kernel(cols, rb.num_rows), names=names)

    return df.mapInArrow(fn, T.StructType(keep + extra))


def with_jaccard(df: DataFrame, a_col: str, b_col: str,
                 out_col: str = "jaccard", sizes: bool = False) -> DataFrame:
    """Append exact Jaccard of two array<long> shingle columns, dropping
    them (ref: jaccard_similarity src/main.rs:1673-1677). mapInArrow on
    flat buffers — replaces the per-row pandas_udf loop the round-1
    review flagged; all other columns pass through untouched.

    sizes=True additionally emits the exact integer intersection/union
    cardinalities (n_inter, n_union) from the same kernel pass — these
    are engine-portable (no float division), so an external SQL oracle
    can check the verify kernel value-for-value."""
    extra = [T.StructField(out_col, T.DoubleType(), False)]
    if sizes:
        extra += [T.StructField("n_inter", T.LongType(), False),
                  T.StructField("n_union", T.LongType(), False)]

    def kernel(cols, n):
        jac, inter, union = _batch_jaccard(*_list_flat(cols[a_col]),
                                           *_list_flat(cols[b_col]), n)
        return ([pa.array(jac), pa.array(inter), pa.array(union)] if sizes
                else [pa.array(jac)])

    return _map_append(df, (a_col, b_col), extra, kernel)


# Values per block of _simhash_flat, and docs per block: a block's vote
# histogram holds one count per (doc, byte position, byte value) — 16 KB
# per doc — and its bincount keys one int64 per byte of its values, so
# both stay ~4 MB per Python worker instead of scaling with a whole
# Arrow batch (thousands of transcripts, millions of shingles).
_SIMHASH_BLOCK = 1 << 16
_SIMHASH_BLOCK_DOCS = 256
# row v: the 8 bits of byte value v, most significant first — the
# np.unpackbits bit order, so the vote's bit layout is unpackbits'
_BYTE_BITS = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                           axis=1).astype(np.float64)


def _simhash_flat(flat: np.ndarray, starts: np.ndarray,
                  lens: np.ndarray) -> np.ndarray:
    """u64 SimHash per doc of a flat u64 value buffer (per-bit majority
    vote, ties set the bit; an empty doc hashes to 0).

    Per block, one bincount over (doc, byte position, byte value) counts
    each doc's byte values; a product with the 256 x 8 bit table turns
    the counts into per-bit votes (float64 is exact for any count below
    2^53). Docs are taken in runs of about _SIMHASH_BLOCK values and at
    most _SIMHASH_BLOCK_DOCS docs; a doc is never split, so a block
    exceeds the value target only by its last doc."""
    n = len(starts)
    sums = np.zeros((n, 64), dtype=np.int64)
    bounds = np.union1d(H.doc_blocks(starts, len(flat), _SIMHASH_BLOCK),
                        np.arange(0, n, _SIMHASH_BLOCK_DOCS))
    for d0, d1 in zip(bounds[:-1], bounds[1:]):
        v0 = starts[d0]
        v1 = starts[d1] if d1 < n else len(flat)
        if v0 == v1:
            continue
        # key = (doc in block, byte position) * 256 + byte value, for the
        # 8 little-endian bytes of each value
        doc = np.repeat(np.arange(0, 8 * (d1 - d0), 8), lens[d0:d1])
        key = (doc[:, None] + np.arange(8)) << 8
        key |= flat[v0:v1].view(np.uint8).reshape(-1, 8)
        hist = np.bincount(key.reshape(-1), minlength=(d1 - d0) * 2048)
        sums[d0:d1] = (hist.reshape(-1, 256) @ _BYTE_BITS).reshape(-1, 64)
    votes = (sums * 2 >= lens[:, None]) & (lens > 0)[:, None]
    return np.packbits(votes.astype(np.uint8),
                       axis=1).view(np.uint64).reshape(-1)


def with_simhash(df: DataFrame, shingles_col: str = "shingles",
                 out_col: str = "simhash") -> DataFrame:
    """Append the 64-bit SimHash (per-bit majority vote over the
    already-uniform shingle hashes; ties set the bit) and drop the
    shingle column. Batch-vectorized (_simhash_flat): per block of the
    flat value buffer, one bincount of (doc, byte position, byte value)
    times a 256 x 8 bit table gives every doc's 64 bit votes — no
    per-row Python. North-rule addition, no reference counterpart."""

    def kernel(cols, n):
        flat, starts = _list_flat(cols[shingles_col])
        lens = np.diff(starts, append=len(flat))
        return [pa.array(_simhash_flat(flat, starts, lens).view(np.int64))]

    return _map_append(df, (shingles_col,),
                       [T.StructField(out_col, T.LongType(), False)], kernel)


def _list_matrix(lst) -> np.ndarray:
    """Arrow list<float/double> column -> (n, d) numpy matrix in the
    NATIVE element dtype (bits untouched). Raises on ragged rows and on
    NULL rows/elements: a null element would silently become NaN in the
    numpy view and score like a zero-norm vector instead of failing."""
    if isinstance(lst, pa.ChunkedArray):  # pragma: no cover
        lst = lst.combine_chunks()
    if lst.null_count or lst.values.null_count:
        raise ValueError(
            "NULL embedding rows/elements are not supported — filter "
            "nulls before scoring")
    offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = lst.values.to_numpy(zero_copy_only=False)
    vals = vals[offs[0]:offs[-1]]
    n = len(offs) - 1
    if n == 0:
        return vals.reshape(0, 0)
    lens = np.diff(offs)
    if not (lens == lens[0]).all():
        raise ValueError("ragged embedding lengths in batch")
    return np.ascontiguousarray(vals.reshape(n, int(lens[0])))


def _fold(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Dot products over the last axis, broadcasting the others: each
    product in the native element dtype (float32 for array<float>), then
    a left-to-right float64 sum over the dimension. The one cosine
    arithmetic of every embedding surface — _fold(A, B) for row pairs,
    _fold(Q[:, None], C[None]) for a query x candidate block,
    sqrt(_fold(A, A)) for norms — so all of them rank identically."""
    acc = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    for j in range(A.shape[-1]):
        acc += A[..., j] * B[..., j]
    return acc


def with_cosine(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Append `cos_sim`, the cosine of two array<float/double> columns
    row by row (_fold), and drop them. A zero-norm vector gives NaN,
    which Spark orders above every double — a threshold filter must
    drop it explicitly. NULL or ragged vectors raise (_list_matrix)."""

    def kernel(cols, n):
        A, B = _list_matrix(cols[a_col]), _list_matrix(cols[b_col])
        if A.shape != B.shape:
            raise ValueError(f"embedding dimensions differ: {A.shape[1]} "
                             f"vs {B.shape[1]}")
        with np.errstate(divide="ignore", invalid="ignore"):
            return [pa.array(_fold(A, B) / (np.sqrt(_fold(A, A))
                                            * np.sqrt(_fold(B, B))))]

    return _map_append(df, (a_col, b_col),
                       [T.StructField("cos_sim", T.DoubleType(), False)],
                       kernel)
