"""S1-S3 compat: reference-format JSONL corpus reader, P7 failure guard,
word-jaccard operator."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from minhash_rs_spark.io.jsonl import read_jsonl_corpus


@pytest.fixture()
def jsonl_dir(tmp_path):
    """Mirror of the reference's examples/simple_exact input shape:
    jsonl lines with text + nested metadata, concat_key runs."""
    lines_a = [
        {"text": "first conv turn one", "meta": {"conv": "c1"}},
        {"text": "first conv turn two", "meta": {"conv": "c1"}},
        {"text": "second conv only turn", "meta": {"conv": "c2"}},
        # second RUN with key c1 -> a NEW document (run semantics,
        # ref src/main.rs:506-516), not merged with the first c1 run
        {"text": "returning conv", "meta": {"conv": "c1"}},
    ]
    lines_b = [{"text": f"doc {i} in file b", "meta": {"conv": f"x{i}"}}
               for i in range(3)]
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.jsonl").write_text("\n".join(json.dumps(x) for x in lines_a))
    (d / "b.jsonl").write_text("\n".join(json.dumps(x) for x in lines_b))
    return str(d)


def test_jsonl_reader_no_concat_key(spark, jsonl_dir):
    df = read_jsonl_corpus(spark, jsonl_dir, content_key="text")
    rows = df.collect()
    assert len(rows) == 7
    assert len({r["conv_id"] for r in rows}) == 7  # one doc per line
    assert all(r["turn_idx"] == 0 for r in rows)


def test_jsonl_reader_concat_key_runs(spark, jsonl_dir):
    df = read_jsonl_corpus(spark, jsonl_dir, content_key="text",
                           concat_key=["meta.conv"])
    from minhash_rs_spark.operators.doc_assembly import assemble_documents

    docs = {r["conv_id"]: r["doc_text"]
            for r in assemble_documents(df).collect()}
    texts = sorted(docs.values())
    # c1's two runs stay separate documents
    assert "first conv turn one\nfirst conv turn two" in texts
    assert "returning conv" in texts
    assert "second conv only turn" in texts
    assert len(docs) == 6  # 3 docs in a (c1-run, c2, c1-run2) + 3 in b


def test_tokenization_failure_guard_kernel():
    """P7 (ref catch_unwind src/main.rs:522-526): a doc that explodes in
    tokenization is flagged not-ok with no tokens, so callers skip it;
    its neighbours keep theirs; config errors still raise."""
    from minhash_rs_spark.functions.kernel import (
        clean_text,
        tokenize,
        tokenize_batch,
    )

    class Bomb(str):
        def lower(self):
            raise RuntimeError("boom")

    flat, starts, ok = tokenize_batch(
        ["fine text here", Bomb("x"), "also fine"], "words")
    assert ok.tolist() == [True, False, True]
    ends = np.append(starts[1:], len(flat))
    assert starts[1] == ends[1]
    for i, t in [(0, "fine text here"), (2, "also fine")]:
        assert np.array_equal(flat[starts[i]:ends[i]],
                              tokenize(clean_text(t), "words"))
    with pytest.raises(ValueError):
        tokenize_batch(["x"], "nope")


def test_word_jaccard_operator(spark):
    from minhash_rs_spark.operators.word_jaccard import word_jaccard_pairs

    rows = [
        (1, "zebra quokka narwhal pangolin axolotl common words here"),
        (2, "zebra quokka narwhal pangolin axolotl common words there"),
        (3, "totally unrelated text about ships and harbors"),
        (4, "zebra alone"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]): r["jaccard_e6"]
           for r in word_jaccard_pairs(df, threshold=0.5, max_df=3).collect()}
    assert (1, 2) in got
    assert got[(1, 2)] == 7 * 1_000_000 // 9  # 7 shared of 9 union
    assert all(p == (1, 2) for p in got)


def test_jsonl_compressed_roundtrip(spark, tmp_path):
    """Compressed corpora: .gz is handled natively by Spark's text
    reader (roundtrip-tested). .zst needs Hadoop's native ZStandardCodec,
    which this container lacks (no native-hadoop libs) — asserted here
    as an explicit environment gate, not assumed."""
    import json as _json

    from minhash_rs_spark.io.jsonl import read_jsonl_corpus

    lines = [_json.dumps({"text": f"doc number {i} body"}) for i in range(20)]
    plain = tmp_path / "plain"
    gz = tmp_path / "gz"
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    df.coalesce(1).write.text(str(plain))
    df.coalesce(1).write.option("compression", "gzip").text(str(gz))
    import glob as _glob
    assert _glob.glob(str(gz / "*.gz")), "no .gz produced"

    got_plain = sorted(r["text"] for r in
                       read_jsonl_corpus(spark, str(plain)).collect())
    got_gz = sorted(r["text"] for r in
                    read_jsonl_corpus(spark, str(gz)).collect())
    assert got_gz == got_plain == sorted(f"doc number {i} body"
                                         for i in range(20))

    # .zst: document the environment gate (native hadoop codec absent)
    import pytest as _pytest
    with _pytest.raises(Exception, match="CODEC_NOT_AVAILABLE|zstd"):
        df.write.option("compression", "zstd").text(str(tmp_path / "z"))


def test_decontaminate_planted(spark):
    """Planted contamination: exact hit counts/fractions, short-doc and
    clean-doc edge cases, and hash-join vs broadcast parity."""
    from minhash_rs_spark.operators.decontam import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"])
    corpus = spark.createDataFrame([
        # 4 words before + the 9-word bench doc verbatim: every bench
        # 4-gram hits; distinct 4-grams = 10 total, 6 of them from bench
        (1, "intro words go here the quick brown fox jumps over the lazy dog"),
        (2, "completely different content with no overlap whatsoever"),
        (3, "too short"),                      # < k words -> 0 shingles
        (4, "THE Quick BROWN fox unrelated tail words"),  # case-folded hit
    ], ["doc_id", "text"])

    for bcast in (True, False):
        got = {r["doc_id"]: r for r in
               decontaminate(corpus, bench, k=4,
                             broadcast_bench=bcast).collect()}
        assert set(got) == {1, 2, 3, 4}
        assert got[1]["contaminated"] and got[1]["n_hits"] == 6
        assert got[1]["n_shingles"] == 10
        assert got[1]["contam_frac_e6"] == 6 * 1_000_000 // 10
        assert not got[2]["contaminated"] and got[2]["n_hits"] == 0
        assert got[3]["n_shingles"] == 0 and got[3]["contam_frac_e6"] == 0
        assert not got[3]["contaminated"]
        assert got[4]["contaminated"] and got[4]["n_hits"] == 1
