"""Math-level kernel tests: vectorized numpy kernel vs the independent
pure-Python oracle (SURVEY.md §5 item 1)."""

import numpy as np
import pytest

from minhash_rs_spark import oracle
from minhash_rs_spark.functions import hashing as H
from minhash_rs_spark.functions.kernel import (
    SignatureKernel,
    clean_text,
    doc_shingles,
    flatten_docs,
    jaccard_u64,
    tokenize,
)

TEXTS = [
    "Hello, World! This is a test document with several words in it.",
    "hello world this is a test document with several words in it",
    "Completely different content about sparks and anvils forging ahead.",
    "short",
    "",
    "a b c d",
    "  Multiple   spaces\tand\nnewlines  here  ",
    "UPPER lower MiXeD case; with (punctuation) [brackets] {braces}!",
]


def test_clean_text_slimpajama_semantics():
    # ref: clean_text /root/reference/src/main.rs:598-614
    assert clean_text("Hello, World!") == "hello world"
    assert clean_text("  a   b\t c \n d ") == "a b c d"
    assert clean_text("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~") == ""
    assert clean_text("") == ""
    assert clean_text("don't stop-me now...") == "dont stopme now"


def test_tokenize_modes():
    assert len(tokenize("a b c", "words")) == 3
    assert len(tokenize("", "words")) == 0
    assert list(tokenize("ab", "bytes")) == [97, 98]
    with pytest.raises(ValueError):
        tokenize("x", "nope")


def test_short_doc_fallback_single_shingle():
    # ref: src/main.rs:631-635 — fewer tokens than ngram_size -> 1 shingle
    for t in ["", "one", "one two", "one two three four"]:
        assert len(doc_shingles(t, 5)) == 1
    assert len(doc_shingles("a b c d e", 5)) == 1  # exactly one full ngram
    assert len(doc_shingles("a b c d e f", 5)) == 2


def test_vectorized_matches_python_oracle():
    k = SignatureKernel(num_bands=14, band_size=8, ngram_size=5, hash_seed=0)
    hi, lo = k.signatures_for_texts(TEXTS)
    for i, t in enumerate(TEXTS):
        expect = oracle.signatures_for_text(t, 14, 8, 5, 0)
        got = [(int(hi[i, b]), int(lo[i, b])) for b in range(14)]
        assert got == expect, f"doc {i}: vectorized != oracle"


def test_other_configs_match_oracle():
    k = SignatureKernel(num_bands=4, band_size=3, ngram_size=2, hash_seed=99)
    hi, lo = k.signatures_for_texts(TEXTS[:4])
    for i, t in enumerate(TEXTS[:4]):
        expect = oracle.signatures_for_text(t, 4, 3, 2, 99)
        got = [(int(hi[i, b]), int(lo[i, b])) for b in range(4)]
        assert got == expect


def test_identical_after_cleaning_identical_sigs():
    k = SignatureKernel()
    hi, lo = k.signatures_for_texts(TEXTS)
    assert (hi[0] == hi[1]).all() and (lo[0] == lo[1]).all()
    assert not (hi[0] == hi[2]).all()


def test_seed_changes_signatures():
    k0 = SignatureKernel(hash_seed=0)
    k1 = SignatureKernel(hash_seed=1)
    h0, _ = k0.signatures_for_texts(TEXTS[:1])
    h1, _ = k1.signatures_for_texts(TEXTS[:1])
    assert not (h0 == h1).all()


def test_exact_override_whole_doc_identity():
    # ref: src/main.rs:522-533
    k = SignatureKernel(exact_override=True)
    hi, _ = k.signatures_for_texts(["Same text.", "same text", "other"])
    assert (hi[0] == hi[1]).all()
    assert not (hi[0] == hi[2]).all()


def test_mulhi64_against_bigint():
    rng = np.random.default_rng(1)
    x = rng.integers(0, 2 ** 64, 1000, dtype=np.uint64)
    y = rng.integers(0, 2 ** 64, 1000, dtype=np.uint64)
    got = H.mulhi64(x, y)
    for i in range(0, 1000, 97):
        assert int(got[i]) == (int(x[i]) * int(y[i])) >> 64


def test_jaccard():
    a = np.array([1, 2, 3, 4], dtype=np.uint64)
    b = np.array([3, 4, 5, 6], dtype=np.uint64)
    assert jaccard_u64(a, b) == pytest.approx(2 / 6)
    assert jaccard_u64(a, a) == 1.0
    assert jaccard_u64(np.array([], dtype=np.uint64),
                       np.array([], dtype=np.uint64)) == 1.0


def test_suffix_array_matches_naive_sort_on_short_inputs():
    """suffix_array equals a naive sort of all suffixes on inputs shorter
    than their largest byte value (n < 256, UTF-8 bytes of non-ASCII
    text, NUL separators, runs of one byte), where raw byte values lie
    outside [0, n)."""
    from minhash_rs_spark.operators.substring import suffix_array
    rng = np.random.default_rng(11)
    cases = [b"az\x00ch", b"zzzzzzza", b"\xff\x00\xfe", b"a",
             "héllo\x00wörld\x00日本語".encode(), b"banana\x00ananas"]
    cases += [rng.integers(0, 256, int(n), dtype=np.uint8).tobytes()
              for n in rng.integers(1, 200, 30)]
    cases += [rng.choice(np.frombuffer(b"ab\xe9", np.uint8),
                         int(n)).tobytes()
              for n in rng.integers(1, 200, 30)]
    for b in cases:
        s = np.frombuffer(b, dtype=np.uint8)
        want = sorted(range(len(b)), key=lambda i: b[i:])
        assert suffix_array(s).tolist() == want, b


def test_minhash_estimates_jaccard():
    """MinHash collision probability ~ true Jaccard (sanity of the
    permutation math as an LSH family)."""
    k = SignatureKernel(num_bands=64, band_size=1, ngram_size=3, hash_seed=5)
    base = " ".join(f"w{i}" for i in range(200))
    variant = " ".join((f"w{i}" if i % 5 else f"v{i}") for i in range(200))
    sa, sb = doc_shingles(base, 3), doc_shingles(variant, 3)
    true_j = jaccard_u64(sa, sb)
    hv = k.minhash_from_flat(*flatten_docs([sa, sb]))
    est = (hv[0] == hv[1]).mean()
    assert abs(est - true_j) < 0.15


def test_xxhash64_matches_known_vectors():
    """Pure-Python xxHash64 vs fixed test vectors computed via Spark's
    xxhash64() (seed 42) — anchors the JVM/Python token-hash parity."""
    from minhash_rs_spark.functions.xxhash import xxhash64_signed

    # vectors captured from pyspark 4.1.2 F.xxhash64 (seed 42)
    assert xxhash64_signed("") == -7444071767201028348
    assert xxhash64_signed("hello") == -4367754540140381902


def test_xxhash64_tokens_matches_scalar():
    """The batch xxHash64 (every token of one byte buffer at once) ==
    the scalar spec on random byte strings of every length 0..100 —
    all tail arms and 0-3 stripes — laid out back to back, and on the
    two captured Spark vectors."""
    from minhash_rs_spark.functions.xxhash import xxhash64, xxhash64_tokens

    rng = np.random.default_rng(5)
    words = [b"", b"hello"] + [rng.integers(0, 256, n, dtype=np.uint8)
                               .tobytes() for n in range(101)
                               for _ in range(2)]
    lens = np.array([len(w) for w in words], dtype=np.int64)
    starts = np.zeros(len(words), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    buf = np.frombuffer(b"".join(words), dtype=np.uint8)
    got = xxhash64_tokens(buf, starts, lens)
    assert [int(h) for h in got] == [xxhash64(w) for w in words]
    assert got[:2].view(np.int64).tolist() == [-7444071767201028348,
                                               -4367754540140381902]


def test_flat_rolling_and_unique_match_per_doc():
    """Batch rolling shingles and per-doc dedup == per-doc scalar, for
    ngram sizes 1, 2, 5 and 9, on 100 random docs and on 70,000 tiny
    docs over a 3-token alphabet (repeated shingles; empty and short
    docs between long ones; doc ids too wide for 16 bits)."""
    rng = np.random.default_rng(3)
    inputs = [
        [rng.integers(0, 2 ** 63, rng.integers(0, 25)).astype(np.uint64)
         for _ in range(100)],
        [rng.integers(0, 3, rng.integers(0, 9)).astype(np.uint64)
         for _ in range(70_000)],
    ]
    for docs in inputs:
        starts = np.zeros(len(docs), dtype=np.int64)
        lens = np.array([len(d) for d in docs])
        np.cumsum(lens[:-1], out=starts[1:])
        flat = np.concatenate(docs)
        for n in (1, 2, 5, 9):
            sh_flat, sh_starts = H.rolling_poly_from_flat(flat, starts, n)
            ends = np.concatenate([sh_starts[1:], [len(sh_flat)]])
            u_flat, u_starts = H.unique_per_doc(sh_flat, sh_starts)
            uends = np.concatenate([u_starts[1:], [len(u_flat)]])
            for i, d in enumerate(docs):
                want = H.rolling_poly_hashes(d, n)
                assert np.array_equal(sh_flat[sh_starts[i]:ends[i]], want)
                assert np.array_equal(u_flat[u_starts[i]:uends[i]],
                                      np.unique(want))


# What the batch tokenizer's cleaning shortcuts must get right: Unicode
# whitespace (collapsed only for non-ASCII docs), case mappings that
# change length or leave ASCII (İ -> i + U+0307, Kelvin sign -> k),
# CJK/kana/hangul glued to Latin (split per character; uniseg puts no
# space token between the pieces of one word), stripped C0 controls and
# DEL, tokens around the 8/32-byte hash boundaries (some multibyte
# UTF-8 straddling 8-byte chunks) and a whitespace-only doc.
ADVERSARIAL = [
    "nbsp\u00a0nel\u0085em\u2003ls\u2028ideo\u3000end",
    "\u00a0 lead and trail \u3000",
    "İSTANBUL İi straße STRASSE ß \u212a",
    "abc日本def かなカナ한국어 text 日 本 漢字",
    "x日 本y 日本語のテスト",
    "c0\x01ctl\x1cfs\x1dgs\x1ers\x1fus\x7fdel \x1f",
    " ".join(("abcdefghijklmnopqrstuvwxyz0123456789" * 2)[:k]
             for k in (7, 8, 9, 31, 32, 33, 64)),
    "ééé日x ééééa " + "é" * 16 + " a" + "é" * 4 + " " + "ü" * 20 + "x",
    " \t\n\u00a0\u3000 ",
]

# TEXTS, ADVERSARIAL and a NULL doc; "short", "" and "a b c d" are
# shorter than the default ngram_size (5), so the short-doc fallback
# is exercised
_DOCS = ([(f"d{i}", t) for i, t in enumerate(TEXTS + ADVERSARIAL)]
         + [("dnull", None)])


@pytest.mark.parametrize("mode", ["words", "uniseg", "bytes"])
def test_tokenize_batch_matches_scalar_reference(mode):
    """kernel.tokenize_batch (one joined buffer, byte-mask token bounds,
    batch xxHash64) == per-doc tokenize(clean_text(t), mode), with the
    docs in a batch in either order and alone."""
    from minhash_rs_spark.functions.kernel import tokenize_batch

    texts = [t for _, t in _DOCS]
    for batch in [texts, texts[::-1]] + [[t] for t in texts]:
        flat, starts, ok = tokenize_batch(batch, mode)
        assert ok.all()
        ends = np.append(starts[1:], len(flat))
        for t, s, e in zip(batch, starts, ends):
            want = tokenize(clean_text(t if t is not None else ""), mode)
            assert np.array_equal(flat[s:e], want), (mode, t)


def test_batch_cleaner_whitespace_is_regex_whitespace():
    """The batch cleaner collapses whitespace with str.split(); the
    reference clean_text with regex \\s. They agree on every code
    point."""
    import re

    ws = re.compile(r"\s")
    assert all((ws.fullmatch(c) is not None) == c.isspace()
               for c in map(chr, range(0x110000)))


@pytest.mark.parametrize("mode", ["words", "uniseg", "bytes"])
def test_shingle_sets_match_scalar_reference(spark, mode):
    """The Python tokenizer path (udfs.shingle_sets: batch tokenizer ->
    one flat token buffer -> rolling shingles -> radix-sorted dedup)
    equals the per-doc scalar reference kernel.doc_shingles on every
    doc, including a doc shorter than ngram_size, an empty doc, a NULL
    doc and the ADVERSARIAL docs."""
    from minhash_rs_spark.config import MinHashConfig
    from minhash_rs_spark.functions.udfs import shingle_sets

    docs = spark.createDataFrame(_DOCS, "conv_id string, doc_text string")
    got = {r["conv_id"]: r for r in
           shingle_sets(docs, MinHashConfig(tokenizer=mode)).collect()}
    assert set(got) == {c for c, _ in _DOCS}
    for c, t in _DOCS:
        want = doc_shingles(t if t is not None else "", 5, mode)
        sh = np.array(got[c]["shingles"], dtype=np.int64).view(np.uint64)
        assert np.array_equal(sh, want), (c, mode)
        assert got[c]["n_shingles"] == len(want)


def test_band_signature_rows_exact_matches_kernel(spark):
    """exact_override signature rows through Spark equal the kernel's
    signatures_for_texts row for row, num_bands rows per doc, including
    a NULL and an empty doc_text."""
    from collections import Counter

    from minhash_rs_spark.config import MinHashConfig
    from minhash_rs_spark.functions.udfs import band_signature_rows_exact

    cfg = MinHashConfig(exact_override=True)
    docs = spark.createDataFrame(_DOCS, "conv_id string, doc_text string")
    got = [tuple(r) for r in band_signature_rows_exact(docs, cfg).collect()]
    assert Counter(r[0] for r in got) == {c: cfg.num_bands for c, _ in _DOCS}
    hi, lo = SignatureKernel(
        num_bands=cfg.num_bands, band_size=cfg.band_size,
        hash_seed=cfg.hash_seed,
        exact_override=True).signatures_for_texts([t for _, t in _DOCS])
    want = [(c, b, int(hi[i, b].view(np.int64)), int(lo[i, b].view(np.int64)))
            for i, (c, _) in enumerate(_DOCS) for b in range(cfg.num_bands)]
    assert sorted(got) == sorted(want)


def test_with_jaccard_matches_scalar_kernel(spark):
    """Vectorized batch Jaccard ((row, value) sort + adjacent-dup count)
    must be bit-identical to the scalar jaccard_u64 on random sets incl.
    empties and negative longs (shingles are u64 viewed as int64), and
    on a direct kernel call with more than 65,536 rows, where the row
    ids no longer fit 16 bits."""
    import numpy as np

    from minhash_rs_spark.functions.kernel import jaccard_u64
    from minhash_rs_spark.functions.udfs import _batch_jaccard, with_jaccard

    rng = np.random.RandomState(7)

    def random_pair(lo, hi, size):
        na, nb = rng.randint(0, size, size=2)
        a = np.unique(rng.randint(lo, hi, size=na).astype(np.int64))
        # overlap with a sometimes
        b = np.unique(np.concatenate(
            [rng.randint(lo, hi, size=nb), a[:rng.randint(0, len(a) + 1)]]
        ).astype(np.int64)) if na or nb else np.array([], dtype=np.int64)
        return a, b

    rows = []
    for i in range(300):
        # pairs 200-299 hold negative longs: first around 0, then over
        # the whole int64 range
        lo, hi = ((0, 30) if i < 200 else (-15, 15) if i < 250
                  else (-2**62, 2**62))
        a, b = random_pair(lo, hi, 12)
        rows.append((i, [int(x) for x in a], [int(x) for x in b]))
    df = spark.createDataFrame(rows, "id long, a array<long>, b array<long>")
    got = {r["id"]: r["j"] for r in with_jaccard(df, "a", "b", "j").collect()}
    for i, a, b in rows:
        want = jaccard_u64(np.array(a, dtype=np.int64).view(np.uint64),
                           np.array(b, dtype=np.int64).view(np.uint64))
        assert got[i] == want, (i, got[i], want)

    n = 70_000
    pairs = [tuple(x.view(np.uint64) for x in random_pair(-8, 8, 6))
             for _ in range(n)]

    def flat(sets):
        lens = np.array([len(s) for s in sets], dtype=np.int64)
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        return np.concatenate(sets), starts

    jac, _, _ = _batch_jaccard(*flat([a for a, _ in pairs]),
                               *flat([b for _, b in pairs]), n)
    want = np.array([jaccard_u64(a, b) for a, b in pairs])
    assert np.array_equal(jac, want)


def test_with_simhash_matches_rowwise(spark):
    """Vectorized simhash (byte-histogram vote) == per-row unpackbits
    majority vote."""
    import numpy as np

    from minhash_rs_spark.functions.udfs import with_simhash

    def rowwise(vals):
        s = np.array(vals, dtype=np.int64).view(np.uint64)
        if len(s) == 0:
            return 0
        bits = np.unpackbits(s.view(np.uint8)).reshape(len(s), 64)
        votes = bits.sum(axis=0) * 2 >= len(s)
        return int(np.packbits(votes.astype(np.uint8)).view(np.int64)[0])

    rng = np.random.RandomState(9)
    rows = [(i, [int(x) for x in
                 rng.randint(-2**62, 2**62, size=rng.randint(0, 20))])
            for i in range(100)]
    rows.append((100, []))          # leading/trailing empties
    rows.insert(0, (-1, []))
    df = spark.createDataFrame(rows, "id long, shingles array<long>")
    got = {r["id"]: r["simhash"]
           for r in with_simhash(df, "shingles").collect()}
    for i, vals in rows:
        assert got[i] == rowwise(vals), i


def test_simhash_blocks_match_whole_batch(monkeypatch):
    """_simhash_flat over blocks of a few values and a few docs (docs
    longer than a block, runs of empty docs at the ends and inside, one
    doc of 300 identical values — more votes than an 8-bit counter
    holds) == the per-doc majority vote."""
    import numpy as np

    from minhash_rs_spark.functions import udfs

    monkeypatch.setattr(udfs, "_SIMHASH_BLOCK", 7)
    monkeypatch.setattr(udfs, "_SIMHASH_BLOCK_DOCS", 5)
    rng = np.random.RandomState(11)
    lens = rng.randint(0, 20, size=200).astype(np.int64)
    lens[rng.rand(200) < 0.25] = 0
    lens[:3] = lens[-3:] = 0
    lens[100] = 300
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    flat = rng.randint(-2**62, 2**62, size=lens.sum()).view(np.uint64)
    flat[starts[100]:starts[100] + 300] = flat[starts[100]]
    got = udfs._simhash_flat(flat, starts, lens)
    assert got[100] == flat[starts[100]]
    for i, (s, n) in enumerate(zip(starts, lens)):
        want = 0
        if n:
            bits = np.unpackbits(flat[s:s + n].view(np.uint8)).reshape(n, 64)
            votes = bits.sum(axis=0) * 2 >= n
            want = np.packbits(votes.astype(np.uint8)).view(np.uint64)[0]
        assert got[i] == want, i


def test_reference_config_exact_override_sense():
    """The reference's exact_override boolean is inverted relative to
    its name (src/main.rs:522-533: false -> doc-level hash_object,
    true -> ngram MinHash; examples/simple_exact/config.yaml performs
    exact dedup WITHOUT setting the flag). Translation must negate."""
    from minhash_rs_spark.config import MinHashConfig

    # reference default (simple_exact example) = exact doc-hash mode
    assert MinHashConfig.from_reference_dict({}).exact_override is True
    # reference exact_override: true = fuzzy ngram MinHash
    assert MinHashConfig.from_reference_dict(
        {"exact_override": True}).exact_override is False
