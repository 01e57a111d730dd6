"""End-to-end pipeline tests (SURVEY.md §5 items 2-4): cluster equality
vs the reference-algorithm oracle, output invariants, order-independence."""

import pytest
from pyspark.sql import functions as F

from minhash_rs_spark import oracle
from minhash_rs_spark.config import MinHashConfig
from minhash_rs_spark.pipeline import run_exact_dedup, run_minhash

CFG = MinHashConfig(num_bands=14, band_size=8, ngram_size=5, hash_seed=0)


@pytest.fixture(scope="module")
def result(spark, tiny_corpus):
    turns, _ = tiny_corpus
    return run_minhash(spark, turns, CFG)


@pytest.fixture(scope="module")
def assignments(result):
    return {r["conv_id"]: (r["cc_id"], r["cc_size"], r["cc_idx"])
            for r in result.assignments.collect()}


def _oracle_clusters(turns_df):
    """Reference-algorithm clustering (python oracle) on the assembled docs."""
    rows = turns_df.orderBy("conv_id", "turn_idx").collect()
    docs = {}
    for r in rows:
        docs.setdefault(r["conv_id"], []).append(r["text"] or "")
    docs = {k: "\n".join(v) for k, v in docs.items()}
    return oracle.cluster_oracle(docs, CFG.num_bands, CFG.band_size,
                                 CFG.ngram_size, CFG.hash_seed)


def test_dup_pair_recall_vs_reference_oracle(tiny_corpus, assignments):
    """BASELINE gate: dup-pair recall >= 0.99 vs reference clusters at the
    same shingle/band config. Our pipeline and the oracle share kernel
    math, so this must be exactly 1.0 — any miss is a pipeline bug."""
    turns, _ = tiny_corpus
    ocl = _oracle_clusters(turns)
    ids = sorted(ocl)
    oracle_pairs = set()
    by_cc = {}
    for cid, cc in ocl.items():
        by_cc.setdefault(cc, []).append(cid)
    for members in by_cc.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                oracle_pairs.add((members[i], members[j]))
    assert oracle_pairs, "oracle found no duplicate pairs — fixture broken"
    hit = sum(1 for a, b in oracle_pairs
              if assignments[a][0] == assignments[b][0])
    recall = hit / len(oracle_pairs)
    assert recall >= 0.99, f"recall {recall:.4f} over {len(oracle_pairs)} pairs"
    # and precision: no pair clustered by us that the oracle separates
    ours = {}
    for cid, (cc, _, _) in assignments.items():
        ours.setdefault(cc, []).append(cid)
    for members in ours.values():
        roots = {ocl[m] for m in members if m in ocl}
        assert len(roots) == 1, f"over-merge vs oracle: {members[:5]}"
    assert set(ids) == set(assignments), "assignment must cover every doc"


def test_planted_exact_pairs_clustered(tiny_corpus, assignments):
    _, pairs = tiny_corpus
    exact = pairs[pairs["kind"] == "exact"]
    for _, row in exact.iterrows():
        a, b = row["conv_id_a"], row["conv_id_b"]
        assert assignments[a][0] == assignments[b][0], (a, b)


def _true_jaccards(turns_df, pairs):
    """Exact shingle-Jaccard of each planted pair (kernel ground truth)."""
    from minhash_rs_spark.functions.kernel import doc_shingles, jaccard_u64

    rows = turns_df.orderBy("conv_id", "turn_idx").collect()
    docs = {}
    for r in rows:
        docs.setdefault(r["conv_id"], []).append(r["text"] or "")
    docs = {k: "\n".join(v) for k, v in docs.items()}
    out = {}
    for _, r in pairs.iterrows():
        a, b = r["conv_id_a"], r["conv_id_b"]
        out[(a, b)] = jaccard_u64(doc_shingles(docs[a], CFG.ngram_size),
                                  doc_shingles(docs[b], CFG.ngram_size))
    return out


def test_planted_near_pairs_clustered_by_jaccard_level(tiny_corpus, assignments):
    """LSH guarantee: detection prob = 1-(1-J^band_size)^num_bands;
    at J>=0.9 with 14x8 banding that is >=0.999 — assert those pairs hit."""
    turns, pairs = tiny_corpus
    near = pairs[pairs["kind"] == "near"]
    tj = _true_jaccards(turns, near)
    strong = [(a, b) for (a, b), j in tj.items() if j >= 0.9]
    assert strong, "fixture must plant some J>=0.9 near-dups"
    for a, b in strong:
        assert assignments[a][0] == assignments[b][0], (a, b, tj[(a, b)])


def test_cluster_invariants(assignments):
    by_cc = {}
    for cid, (cc, size, idx) in assignments.items():
        by_cc.setdefault(cc, []).append((cid, size, idx))
    for cc, members in by_cc.items():
        assert cc == min(m[0] for m in members)  # cc_id = min member
        sizes = {m[1] for m in members}
        assert sizes == {len(members)}  # cc_size consistent
        assert sorted(m[2] for m in members) == list(range(len(members)))
        # cc_idx = rank by conv_id (deterministic divergence, SURVEY §7.4)
        ranked = sorted(members)
        for rank, m in enumerate(ranked):
            assert m[2] == rank


def test_stats_report_row_completeness(tiny_corpus, result):
    """collect_stats' row_complete invariant (round-5 lesson: the
    cc_idx consistency bug dropped 5-9% of docs at scale while every
    small-scale test stayed green) — one assignments row per input
    conversation, and the stats surface says so."""
    turns, _ = tiny_corpus
    stats = result.collect_stats()
    n_convs = turns.select("conv_id").distinct().count()
    assert stats["input_conversations"] == n_convs
    assert stats["documents"] == n_convs
    assert stats["row_complete"] is True


def test_annotate_preserves_rows_and_turn_text(tiny_corpus, result):
    """BASELINE per-row invariant: per-turn text equality under stable
    turn ordering; annotate mode preserves every row."""
    turns, _ = tiny_corpus
    out = result.output
    assert out.count() == turns.count()
    mismatch = (
        out.select("conv_id", "turn_idx", F.col("text").alias("t_out"))
        .join(turns.select("conv_id", "turn_idx", "text"),
              ["conv_id", "turn_idx"])
        .where(~F.col("t_out").eqNullSafe(F.col("text"))).count())
    assert mismatch == 0
    assert out.where(F.col("minhash").isNull()).count() == 0


def test_prune_keeps_one_conversation_per_cluster(spark, tiny_corpus):
    turns, _ = tiny_corpus
    res = run_minhash(spark, turns,
                      MinHashConfig(annotate_only=False))
    kept_convs = res.output.select("conv_id").distinct()
    n_clusters = res.assignments.select("cc_id").distinct().count()
    assert kept_convs.count() == n_clusters
    # survivors are the rank-0 (min conv_id) members
    surv = {r["conv_id"] for r in kept_convs.collect()}
    for r in res.assignments.where("cc_idx = 0").collect():
        assert r["conv_id"] in surv


def test_row_order_independence(spark, tiny_corpus, assignments):
    """Permuting input rows must not change cluster assignments."""
    turns, _ = tiny_corpus
    shuffled = turns.orderBy(F.xxhash64("conv_id", "turn_idx", F.lit(13)))
    res2 = run_minhash(spark, shuffled, CFG)
    got = {r["conv_id"]: r["cc_id"] for r in res2.assignments.collect()}
    assert got == {k: v[0] for k, v in assignments.items()}


def test_dedup_idempotent(spark, tiny_corpus):
    turns, _ = tiny_corpus
    cfg = MinHashConfig(annotate_only=False)
    once = run_minhash(spark, turns, cfg).output.cache()
    twice = run_minhash(spark, once, cfg).output
    assert twice.count() == once.count()


def test_run_minhash_upto_rejects_unknown_stage(spark, tiny_corpus, tmp_path):
    """A misspelled upto= stage ("edge") raises before any stage runs,
    naming every accepted stage, instead of running the whole pipeline."""
    turns, _ = tiny_corpus
    ck = tmp_path / "ck"
    with pytest.raises(ValueError) as err:
        run_minhash(spark, turns, MinHashConfig(checkpoint_dir=str(ck)),
                    upto="edge")
    for name in ("docs", "shingles", "sigs", "edges", "verified_edges", "cc",
                 "assignments"):
        assert f"{name}," in f"{err.value},"
    assert not ck.exists()


def test_exact_dedup_mode(spark, tiny_corpus):
    turns, pairs = tiny_corpus
    res = run_exact_dedup(spark, turns, MinHashConfig())
    asg = {r["conv_id"]: r["cc_id"] for r in res.assignments.collect()}
    exact = pairs[pairs["kind"] == "exact"]
    assert len(exact) > 0
    for _, row in exact.iterrows():
        assert asg[row["conv_id_a"]] == asg[row["conv_id_b"]]
    near = pairs[pairs["kind"] == "near"]
    for _, row in near.iterrows():  # near-dups are NOT exact dups
        assert asg[row["conv_id_a"]] != asg[row["conv_id_b"]]


def test_jaccard_verification_tightens_clusters(spark, tiny_corpus):
    """With tau=0.995 only exact (J=1.0) pairs survive verification;
    every planted near pair (true J < 0.99 by construction) must split."""
    turns, pairs = tiny_corpus
    res = run_minhash(spark, turns, MinHashConfig(jaccard_threshold=0.995))
    asg = {r["conv_id"]: r["cc_id"] for r in res.assignments.collect()}
    for _, row in pairs[pairs["kind"] == "exact"].iterrows():
        assert asg[row["conv_id_a"]] == asg[row["conv_id_b"]]
    near = pairs[pairs["kind"] == "near"]
    tj = _true_jaccards(turns, near)
    for (a, b), j in tj.items():
        if j < 0.99:
            assert asg[a] != asg[b], (a, b, j)


def test_jvm_token_path_matches_python_string_path(spark, tiny_corpus):
    """The codegen clean+tokenize+xxhash64 path (assemble_token_docs ->
    band_signature_rows_from_tokens) must emit bit-identical LSH keys to
    the Python string path (assemble_documents -> shingle_sets ->
    band_signature_rows)."""
    from minhash_rs_spark.functions.udfs import (
        band_signature_rows,
        band_signature_rows_from_tokens,
        shingle_sets,
        shingle_sets_from_tokens,
    )
    from minhash_rs_spark.operators.doc_assembly import (
        assemble_documents,
        assemble_token_docs,
    )

    turns, _ = tiny_corpus
    tok_docs = assemble_token_docs(turns).cache()
    str_docs = assemble_documents(turns)
    jvm = sorted(map(tuple, band_signature_rows_from_tokens(
        tok_docs, CFG).collect()))
    py = sorted(map(tuple, band_signature_rows(
        shingle_sets(str_docs, CFG), CFG).collect()))
    assert jvm == py
    # shingle SETS must agree too (verification path)
    jvm_sh = {r["conv_id"]: sorted(r["shingles"]) for r in
              shingle_sets_from_tokens(tok_docs, CFG).collect()}
    py_sh = {r["conv_id"]: sorted(r["shingles"]) for r in
             shingle_sets(str_docs, CFG).collect()}
    assert jvm_sh == py_sh


def test_cjk_tokenization_parity_and_per_char_split(spark):
    """UAX#29 behavior (the reference's uniseg tokenizer): CJK
    ideographs tokenize per character, identically on the JVM codegen
    path and the Python kernel path."""
    from minhash_rs_spark.functions.kernel import clean_text, tokenize
    from minhash_rs_spark.operators.doc_assembly import turn_token_hashes
    from pyspark.sql import functions as F

    samples = [
        "Hello 世界 mixed 中文 text",
        "日本語のテキストです",
        "한국어 텍스트 test",
        "中中中 repeated",
        "no cjk at all",
        "",
    ]
    # per-char split: 世界 -> two tokens
    toks = tokenize(clean_text("世界 hello"), "words")
    assert len(toks) == 3
    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    jvm = [r["h"] for r in
           df.select(turn_token_hashes(F.col("text")).alias("h")).collect()]
    for s, got in zip(samples, jvm):
        want = [int(x) for x in
                tokenize(clean_text(s), "words").view("int64")]
        assert list(got) == want, s


def test_uniseg_tokenization_parity_jvm_vs_python(spark):
    """uniseg mode (word AND whitespace segments, ref split_word_bounds
    src/main.rs:352-358): JVM codegen path == Python kernel, including
    CJK (own segments, no space token between), multi-space raw text,
    and empties."""
    from minhash_rs_spark.functions.kernel import clean_text, tokenize
    from minhash_rs_spark.operators.doc_assembly import turn_token_hashes
    from pyspark.sql import functions as F

    samples = [
        "Hello 世界 mixed 中文 text",
        "日本語のテキストです",
        "abc日def glued",
        "plain english words here",
        "  leading   and trailing   ",
        "",
        "one",
    ]
    # structure: "a b" -> [a, ' ', b]; CJK inside a word has no spaces
    toks = tokenize(clean_text("hello world"), "uniseg")
    assert len(toks) == 3
    from minhash_rs_spark.functions.xxhash import xxhash64
    assert int(toks[1]) == xxhash64(" ")
    assert len(tokenize(clean_text("日本"), "uniseg")) == 2      # no space
    assert len(tokenize(clean_text("日 本"), "uniseg")) == 3     # space kept
    assert len(tokenize(clean_text("abc日def"), "uniseg")) == 3  # mixed word

    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    jvm = [r["h"] for r in
           df.select(turn_token_hashes(F.col("text"), "uniseg")
                     .alias("h")).collect()]
    for s, got in zip(samples, jvm):
        want = [int(x) for x in
                tokenize(clean_text(s), "uniseg").view("int64")]
        assert list(got) == want, s


def test_control_char_tokenization_parity_jvm_vs_python(spark):
    """Non-whitespace C0 controls + DEL are stripped identically on both
    paths (kernel._C0_STRIP): a literal \\x01 (the old JVM sentinel byte)
    or \\x1c-\\x1f (Python-\\s-only whitespace) in payload text can no
    longer diverge the JVM codegen tokenizer from the Python kernel."""
    from minhash_rs_spark.functions.kernel import clean_text, tokenize
    from minhash_rs_spark.operators.doc_assembly import turn_token_hashes
    from pyspark.sql import functions as F

    samples = [
        "foo\x01bar baz",                      # the ADVICE repro case
        "".join(chr(c) for c in range(9)) + "x",   # \x00-\x08 run
        "a\x0eb c\x1fd",                       # \x0e-\x1f family
        "del\x7fchar",
        "\x1c\x1d\x1e\x1f",                    # Python-\s-only ws, alone
        "mixed \x01中\x02文\x03 cjk",
        "\x01",
        "",
    ]
    # stripped, not split: foo\x01bar is ONE token on both paths
    assert len(tokenize(clean_text("foo\x01bar baz"), "words")) == 2
    df = spark.createDataFrame([(s,) for s in samples], ["text"])
    for mode in ("words", "uniseg"):
        jvm = [r["h"] for r in
               df.select(turn_token_hashes(F.col("text"), mode)
                         .alias("h")).collect()]
        for s, got in zip(samples, jvm):
            want = [int(x) for x in
                    tokenize(clean_text(s), mode).view("int64")]
            assert list(got) == want, (mode, s.encode())
