"""The MinHash signature kernel: clean -> tokenize -> shingle -> minhash
-> band signatures, numpy-vectorized over batches of documents.

This is the single compute-dense component of the engine. It runs inside
the mapInArrow UDFs of functions/udfs.py. Per document, Python only
cleans the text with C-speed str methods; everything after that is
numpy over the whole batch: `tokenize_batch` joins the cleaned docs
into one UTF-8 buffer, finds token bounds with a byte mask and hashes
every token with the batch xxHash64 (xxhash.xxhash64_tokens); shingling
and permutation math run over the flat concatenated tokens
(np.minimum.reduceat over document boundaries). `tokenize` and
`doc_shingles` are the per-doc scalar reference the batch path is
tested against.

Semantics mirror the reference phase-2 `process_path`
(/root/reference/src/main.rs:489-679); divergences are deliberate and
documented in functions/hashing.py and SURVEY.md §7.4.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from minhash_rs_spark.functions import hashing as H
from minhash_rs_spark.functions.xxhash import xxhash64, xxhash64_tokens

U64 = np.uint64

# SlimPajama cleaning (ref: clean_text /root/reference/src/main.rs:598-614)
_PUNCT = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"
# Non-whitespace C0 controls + DEL are STRIPPED in both the Python and
# JVM cleaners (deliberate divergence: the reference keeps them and its
# uniseg segmenter emits each as its own segment — immaterial at corpus
# frequencies). Rationale: (a) Python's \s matches \x1c-\x1f but Java's
# (?U)\s does not, so any surviving control byte breaks the JVM/Python
# token-parity contract; (b) it guarantees no payload byte can ever
# collide with an engine-internal sentinel. \t\n\v\f\r are left to the
# whitespace collapse (both regex engines agree on those).
_C0_STRIP = ("".join(chr(c) for c in range(0x20) if chr(c) not in "\t\n\v\f\r")
             + "\x7f")
_PUNCT_TABLE = str.maketrans("", "", _PUNCT + _C0_STRIP)
_WS_RE = re.compile(r"\s+")

# UAX#29 (the reference's uniseg tokenizer, src/main.rs:352-358) treats
# each CJK ideograph / kana / hangul syllable as its own word; plain
# whitespace splitting would keep runs glued. Shared by the Python and
# JVM tokenizers so both split identically (parity-tested).
CJK_RANGES = ("一-鿿"    # CJK Unified Ideographs
              "㐀-䶿"    # CJK Extension A
              "぀-ヿ"    # Hiragana + Katakana
              "가-힯")   # Hangul syllables
_CJK_SPLIT_RE = re.compile(f"([{CJK_RANGES}])")


def clean_text(text: str) -> str:
    """Lowercase -> strip ASCII punctuation + non-ws C0 controls/DEL ->
    collapse whitespace -> trim."""
    t = text.lower().translate(_PUNCT_TABLE)
    return _WS_RE.sub(" ", t).strip()


def tokenize(cleaned: str, mode: str) -> np.ndarray:
    """Token-hash sequence (u64) for cleaned text.

    Modes (ref: OmniTokenizer /root/reference/src/main.rs:327-366):
      words  — whitespace-delimited words with CJK ideographs split per
               character (UAX#29 behavior), each stably hashed
               (analog of uniseg word-bounds + SipHash; divergence: does
               not emit whitespace segments as tokens)
      uniseg — words PLUS a single-space token between adjacent word
               segments, exactly `split_word_bounds` on cleaned text
               (ref src/main.rs:352-358; executable spec
               ref_oracle.py:tokenize): on cleaned text (single spaces)
               UAX#29 emits alternating words and " " segments; CJK
               characters are their own segments with NO space between.
               This makes the shingle stream structurally identical to
               the reference binary's at matched config.
      bytes  — raw UTF-8 byte values as token ids (reference default arm)
      p50k / cl100k — tiktoken BPE, gated on availability
    """
    if mode in ("words", "uniseg"):
        if not cleaned:
            return np.empty(0, dtype=U64)
        if mode == "uniseg":
            toks: list[str] = []
            for i, w in enumerate(cleaned.split(" ")):
                if i:
                    toks.append(" ")
                if not w:
                    continue
                if _CJK_SPLIT_RE.search(w):
                    toks.extend(s for s in _CJK_SPLIT_RE.split(w) if s)
                else:
                    toks.append(w)
        else:
            if _CJK_SPLIT_RE.search(cleaned):
                cleaned = _CJK_SPLIT_RE.sub(r" \1 ", cleaned)
            toks = [t for t in cleaned.split(" ") if t]
        if not toks:
            return np.empty(0, dtype=U64)
        # token hash = xxHash64(utf8, seed 42) — EXACTLY Spark's
        # xxhash64(), so the JVM tokenization path (doc_assembly.
        # assemble_token_docs, codegen) and this Python path produce
        # identical token ids (parity tested in tests/test_kernel.py)
        return np.fromiter((xxhash64(w) for w in toks), dtype=U64,
                           count=len(toks))
    if mode == "bytes":
        return np.frombuffer(cleaned.encode("utf-8"), dtype=np.uint8).astype(U64)
    if mode in ("p50k", "cl100k"):
        try:
            import tiktoken  # noqa: F401
        except ImportError as e:  # pragma: no cover - not in this container
            raise NotImplementedError(
                f"tokenizer {mode!r} requires the public `tiktoken` package, "
                "which is not installed in this environment"
            ) from e
        enc = tiktoken.get_encoding("p50k_base" if mode == "p50k" else "cl100k_base")
        return np.asarray(enc.encode(cleaned, disallowed_special=()), dtype=U64)
    raise ValueError(f"unknown tokenizer mode {mode!r}")


def doc_shingles(text: str, ngram_size: int, mode: str = "words") -> np.ndarray:
    """Unique, sorted u64 shingle ids for one document.

    Uniqueness does not change MinHash (min over a set) and is exactly
    what exact-Jaccard verification needs (ref set-variant:
    /root/reference/src/main.rs:563-576).
    """
    toks = tokenize(clean_text(text), mode)
    return np.unique(H.rolling_poly_hashes(toks, ngram_size))


# ---- batch tokenizer (words / uniseg / bytes) ----
#
# _clean_for_split leaves each document as tokens separated by ASCII
# whitespace (a word boundary) or _SOFT (a CJK split inside one word).
# _SOFT is a C0 byte: _C0_STRIP guarantees none survives cleaning, so it
# cannot collide with payload.
_SOFT = "\x01"
_WS_BYTES = np.zeros(256, dtype=bool)
_WS_BYTES[[9, 10, 11, 12, 13, 32]] = True
_SEP_BYTES = _WS_BYTES.copy()
_SEP_BYTES[ord(_SOFT)] = True
_SPACE_HASH = U64(xxhash64(" "))   # uniseg's token between adjacent words
# Bytes of joined text tokenized per block: the per-token int64 arrays
# of one block (~45k tokens) stay cache-sized and no worker holds a
# whole batch's worth at once.
_TOKEN_BLOCK = 1 << 18


def _clean_for_split(text: str) -> str:
    """clean_text's token boundaries at C speed. After lowercasing and
    stripping, an ASCII doc holds no CJK character and no non-ASCII
    whitespace, so it is returned as is: runs of ASCII whitespace split
    it exactly like the collapse would. Only a non-ASCII doc pays for the
    Unicode whitespace collapse (str.split() splits on exactly the set
    regex \\s matches) and for the CJK split, marked with _SOFT."""
    t = text.lower().translate(_PUNCT_TABLE)
    if t.isascii():
        return t
    t = " ".join(t.split())
    if _CJK_SPLIT_RE.search(t):
        t = (_CJK_SPLIT_RE.sub(_SOFT + r"\1" + _SOFT, t)
             .replace(_SOFT + " ", " ").replace(" " + _SOFT, " "))
    return t


def _clean_bytes(text: str) -> str:
    """clean_text exactly: str.split() splits and trims on the same
    characters regex \\s matches."""
    return " ".join(text.lower().translate(_PUNCT_TABLE).split())


def _hash_tokens(buf: np.ndarray, doc_starts: np.ndarray, uniseg: bool
                 ) -> tuple[np.ndarray, np.ndarray]:
    """(u64 token hashes, per-doc token counts) of one block of joined
    docs (buf: uint8, doc_starts: each doc's first byte in buf). Tokens
    are the maximal runs of non-separator bytes; uniseg puts
    _SPACE_HASH before every token that follows its doc's previous token
    across whitespace (not across a _SOFT CJK split)."""
    word = (~_SEP_BYTES[buf]).view(np.int8)
    # nonzero edges alternate token start (+1), token end (-1)
    edges = np.flatnonzero(np.diff(word, prepend=np.int8(0),
                                   append=np.int8(0)))
    t_start = edges[0::2]
    t_len = edges[1::2] - t_start
    h = xxhash64_tokens(buf, t_start, t_len)
    first = np.searchsorted(t_start, doc_starts)   # doc -> its first token
    counts = np.diff(first, append=len(t_start))
    if not uniseg or not len(h):
        return h, counts
    space = _WS_BYTES[buf[t_start - 1]]
    space[first[counts > 0]] = False
    # shift[i + 1]: spaces inserted up to and including token i; a
    # doc's first token takes none, so shift[first] places each doc
    shift = np.zeros(len(h) + 1, dtype=np.int64)
    np.cumsum(space, out=shift[1:])
    out = np.full(len(h) + int(shift[-1]), _SPACE_HASH, dtype=U64)
    out[np.arange(len(h)) + shift[1:]] = h
    return out, np.diff(first + shift[first], append=len(out))


def tokenize_batch(texts, mode: str
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Token hashes of a batch of documents, equal per doc to
    `tokenize(clean_text(t), mode)`: (flat u64 values, int64 doc start
    offsets, bool `ok`) — the input of the flat shingler
    (hashing.rolling_poly_from_flat). A NULL text is the empty doc. A
    doc whose cleaning raises gets ok=False and no tokens (P7 failure
    guard, ref catch_unwind src/main.rs:522-526): callers drop it and it
    survives downstream as a singleton. Config errors (ValueError,
    NotImplementedError) raise.

    words/uniseg/bytes: each doc is cleaned with str methods, the batch
    is joined and UTF-8-encoded once, and token bounds and hashes are
    numpy over doc-aligned blocks of _TOKEN_BLOCK bytes. BPE modes
    tokenize per doc."""
    n = len(texts)
    ok = np.ones(n, dtype=bool)
    per_doc = mode not in ("words", "uniseg", "bytes")
    if mode == "bytes":
        prep = _clean_bytes
    elif not per_doc:
        prep = _clean_for_split
    else:  # BPE; tokenize rejects an unknown mode
        def prep(t):
            return tokenize(clean_text(t), mode)
    docs = []
    for i, t in enumerate(texts):
        try:
            docs.append(prep(t if t is not None else ""))
        except (ValueError, NotImplementedError):
            raise  # config errors must fail the job, not skip docs
        except Exception:
            ok[i] = False
            docs.append(np.empty(0, dtype=U64) if per_doc else "")
    if per_doc:
        return (*flatten_docs(docs), ok)
    nbytes = np.fromiter((len(d) if d.isascii() else len(d.encode("utf-8"))
                          for d in docs), dtype=np.int64, count=n)
    sep = 0 if mode == "bytes" else 1
    starts = np.zeros(n, dtype=np.int64)   # doc -> first byte in buf
    np.cumsum(nbytes[:-1] + sep, out=starts[1:])
    buf = np.frombuffer((" " * sep).join(docs).encode("utf-8"),
                        dtype=np.uint8)
    if mode == "bytes":
        return buf.astype(U64), starts, ok
    bounds = H.doc_blocks(starts, len(buf), _TOKEN_BLOCK)
    hashes, counts = [np.empty(0, dtype=U64)], [np.empty(0, dtype=np.int64)]
    for d0, d1 in zip(bounds[:-1], bounds[1:]):
        b0, b1 = starts[d0], starts[d1 - 1] + nbytes[d1 - 1]
        h, c = _hash_tokens(buf[b0:b1], starts[d0:d1] - b0, mode == "uniseg")
        hashes.append(h)
        counts.append(c)
    counts = np.concatenate(counts)
    tok_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=tok_starts[1:])
    return np.concatenate(hashes), tok_starts, ok


def flatten_docs(arrays: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc u64 arrays -> (flat values, int64 doc start offsets), the
    Arrow ListArray layout every batch kernel consumes."""
    lens = np.fromiter((len(a) for a in arrays), dtype=np.int64,
                       count=len(arrays))
    starts = np.zeros(len(arrays), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return np.concatenate(arrays), starts


@dataclass
class SignatureKernel:
    """Precomputed permutation state + batch signature computation."""

    num_bands: int = 14
    band_size: int = 8
    ngram_size: int = 5
    tokenizer: str = "words"
    hash_seed: int = 0
    exact_override: bool = False

    def __post_init__(self):
        band_seeds = H.expand_band_seeds(self.hash_seed, self.num_bands)
        perm_seeds = H.expand_perm_seeds(band_seeds, self.band_size)
        self.a_hi, self.a_lo = H.init_permutations(perm_seeds)
        self.num_perms = self.num_bands * self.band_size

    # ---- minhash ----

    def minhash_from_flat(self, flat: np.ndarray, starts: np.ndarray) -> np.ndarray:
        """(num_docs, num_perms) u64 minhash matrix over pre-flattened
        shingles + doc start offsets (the zero-copy Arrow ListArray
        layout; see udfs.band_signature_rows).

        Runs each permutation's multiply-shift + per-doc min
        (np.minimum.reduceat) — the vectorized analog of ref
        src/main.rs:664-677. Work is blocked into cache-resident chunks of
        docs (~16k shingles) with the permutation loop INSIDE the block:
        the limb arrays stay hot in L2/L3 across all 112 permutations
        instead of streaming ~10 u64 temporaries per perm through DRAM —
        executors run ~32 such kernels concurrently, so the unblocked
        version saturates memory bandwidth (measured ~10x slowdown).
        """
        ndocs = len(starts)
        hv = np.full((ndocs, self.num_perms), H.MAX_HASH, dtype=U64)
        if ndocs == 0:
            return hv
        flat = flat.astype(U64, copy=False)
        ends = np.concatenate([starts[1:], [len(flat)]])
        # np.minimum.reduceat misbehaves on empty segments; shingle_sets
        # guarantees >=1 shingle/doc (short-doc fallback)
        assert (ends > starts).all(), "empty shingle segment"

        # shingles per block: ~8 u64 temporaries x 128KB stay L2-resident
        # per worker even with 32 concurrent workers sharing L3 (measured
        # best aggregate throughput across {4k,8k,16k,64k})
        block_target = 16384
        d0 = 0
        while d0 < ndocs:
            d1 = d0 + 1
            while d1 < ndocs and ends[d1 - 1] - starts[d0] < block_target:
                d1 += 1
            seg = flat[starts[d0]:ends[d1 - 1]]
            seg_starts = starts[d0:d1] - starts[d0]
            h_hi, h_lo = H.shingle_u128(seg)
            H.minhash_block(self.a_hi, self.a_lo, h_hi, h_lo,
                            seg_starts, hv[d0:d1])
            d0 = d1
        return hv

    def band_sigs_from_flat(self, flat: np.ndarray, starts: np.ndarray
                            ) -> tuple[np.ndarray, np.ndarray]:
        """Band signatures straight from the Arrow ListArray layout."""
        hv = self.minhash_from_flat(flat, starts)
        return H.band_signatures(hv, self.num_bands, self.band_size)

    def signatures_for_texts(self, texts) -> tuple[np.ndarray, np.ndarray]:
        if self.exact_override:
            # one whole-doc hash replicated to all perms -> all bands carry
            # the same exact-text identity (ref: src/main.rs:522-533)
            doc_h = np.fromiter(
                (H.stable_str_hash(clean_text(t if t is not None else ""))
                 for t in texts), dtype=U64, count=len(texts))
            hv = np.repeat(doc_h[:, None], self.num_perms, axis=1)
            return H.band_signatures(hv, self.num_bands, self.band_size)
        flat, starts, _ = tokenize_batch(texts, self.tokenizer)
        return self.band_sigs_from_flat(
            *H.rolling_poly_from_flat(flat, starts, self.ngram_size))


def jaccard_u64(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-unique u64 shingle arrays
    (ref: jaccard_similarity /root/reference/src/main.rs:1673-1677)."""
    if len(a) == 0 and len(b) == 0:
        return 1.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return inter / union if union else 1.0
