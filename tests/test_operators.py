"""Operator-level tests: subsample semantics, SimHash path, suffix-array
containment, checkpoint/resume, textstats, similarity, multimodal."""

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from minhash_rs_spark.config import MinHashConfig


@pytest.fixture(scope="module")
def docs(spark, tiny_corpus):
    from minhash_rs_spark.operators.doc_assembly import assemble_documents

    turns, _ = tiny_corpus
    d = assemble_documents(turns).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def exact_asg(spark, docs):
    from minhash_rs_spark.operators.exact_dedup import exact_dedup_assignments

    return exact_dedup_assignments(docs).cache()


# ---- dup-aware subsample (ref: src/dup_aware_subsample.rs) ----

def test_subsample_all_or_nothing(spark, exact_asg):
    from minhash_rs_spark.operators.subsample import dup_aware_subsample

    kept = dup_aware_subsample(exact_asg, 0.5, seed=1)
    partial = (kept.groupBy("cc_id").count()
               .join(exact_asg.groupBy("cc_id").agg(F.count("*").alias("full")),
                     "cc_id")
               .where("count != full"))
    assert partial.count() == 0


def test_subsample_seeded_reproducible_and_seed_sensitive(spark, exact_asg):
    from minhash_rs_spark.operators.subsample import dup_aware_subsample

    k1 = {r["conv_id"] for r in dup_aware_subsample(exact_asg, 0.5, seed=1).collect()}
    k2 = {r["conv_id"] for r in dup_aware_subsample(exact_asg, 0.5, seed=1).collect()}
    k3 = {r["conv_id"] for r in dup_aware_subsample(exact_asg, 0.5, seed=2).collect()}
    assert k1 == k2
    assert k1 != k3
    n = exact_asg.count()
    assert 0.25 * n < len(k1) < 0.75 * n  # rate ~0.5


def test_subsample_max_cc_size_gate(spark, exact_asg):
    from minhash_rs_spark.operators.subsample import dup_aware_subsample

    kept = dup_aware_subsample(exact_asg, 1.0, max_cc_size=1, seed=0)
    assert kept.where(F.col("cc_size") > 1).count() == 0
    # rate 1.0 keeps every singleton
    n_singletons = exact_asg.where("cc_size = 1").count()
    assert kept.count() == n_singletons


# ---- simhash path ----

def test_simhash_clusters_exact_dups(spark, docs, tiny_corpus):
    from minhash_rs_spark.functions.udfs import shingle_sets
    from minhash_rs_spark.operators.simhash import simhash_cc

    _, pairs = tiny_corpus
    sh = shingle_sets(docs, MinHashConfig())
    cc = {r["conv_id"]: r["cc_id"] for r in simhash_cc(sh).collect()}
    for _, row in pairs[pairs["kind"] == "exact"].iterrows():
        a, b = row["conv_id_a"], row["conv_id_b"]
        assert cc.get(a, a) == cc.get(b, b), (a, b)


def test_simhash_hamming_verification(spark):
    """Candidates beyond the Hamming threshold must be rejected."""
    from minhash_rs_spark.operators.simhash import (
        simhash_candidate_edges,
        simhash_verified_edges,
    )

    rows = [("a", 0), ("b", 1), ("c", 0b11111111)]  # d(a,b)=1, d(a,c)=8
    sigs = spark.createDataFrame(rows, ["conv_id", "simhash"])
    edges = simhash_candidate_edges(sigs, num_blocks=4)
    kept = {(r["src"], r["dst"])
            for r in simhash_verified_edges(edges, sigs, 3).collect()}
    assert ("b", "a") in kept
    assert ("c", "a") not in kept


# ---- suffix-array containment ----

def test_containment_finds_planted(spark, docs, tiny_corpus):
    from minhash_rs_spark.operators.substring import containment_edges

    _, pairs = tiny_corpus
    planted = pairs[pairs["kind"] == "containment"]
    assert len(planted) > 0
    found = {(r["src"], r["dst"])
             for r in containment_edges(docs, scope="global").collect()}
    for _, row in planted.iterrows():
        a, b = row["conv_id_a"], row["conv_id_b"]  # a's text inside b's
        assert (a, b) in found, (a, b)


def test_containment_partition_scope_subset_of_global(spark, docs):
    from minhash_rs_spark.operators.substring import containment_edges

    g = {(r["src"], r["dst"])
         for r in containment_edges(docs, scope="global").collect()}
    p = {(r["src"], r["dst"])
         for r in containment_edges(docs.repartition(4), scope="partition").collect()}
    assert p <= g


# ---- checkpoint / resume ----

def test_checkpoint_resume_identical_and_skips_recompute(spark, tiny_corpus, tmp_path):
    from minhash_rs_spark.pipeline import run_minhash

    turns, _ = tiny_corpus
    cfg = MinHashConfig(checkpoint_dir=str(tmp_path / "ck"))
    r1 = run_minhash(spark, turns, cfg, input_token="t1")
    a1 = sorted(map(tuple, r1.assignments.collect()))
    manifest = (tmp_path / "ck" / "_manifest.jsonl").read_text()
    stages1 = manifest.count("\n")
    r2 = run_minhash(spark, turns, cfg, input_token="t1")
    a2 = sorted(map(tuple, r2.assignments.collect()))
    assert a1 == a2
    # no new manifest rows on resume
    assert (tmp_path / "ck" / "_manifest.jsonl").read_text().count("\n") == stages1
    # different config -> different fingerprint -> stages recomputed
    cfg3 = MinHashConfig(checkpoint_dir=str(tmp_path / "ck"), hash_seed=9)
    run_minhash(spark, turns, cfg3, input_token="t1").assignments.count()
    assert (tmp_path / "ck" / "_manifest.jsonl").read_text().count("\n") > stages1


def test_checkpoint_fingerprint_isolation(spark, tiny_corpus, tmp_path):
    """Two configs sharing a checkpoint base_dir must never serve each
    other's bytes: after run B (different fingerprint) writes its stages,
    a resume of run A must still read A's own tables, not B's."""
    from minhash_rs_spark.pipeline import run_minhash

    turns, _ = tiny_corpus
    base = str(tmp_path / "ck")
    cfg_a = MinHashConfig(checkpoint_dir=base)
    a1 = sorted(map(tuple,
                    run_minhash(spark, turns, cfg_a, input_token="t1")
                    .assignments.collect()))
    # run B: different config, same base_dir — would previously overwrite
    # base_dir/<stage> in place and poison A's resume
    cfg_b = MinHashConfig(checkpoint_dir=base, num_bands=4, band_size=3,
                          hash_seed=99)
    b1 = run_minhash(spark, turns, cfg_b, input_token="t1")
    assert b1.assignments.count() > 0
    # resume A: must be byte-identical to A's first run
    a2 = sorted(map(tuple,
                    run_minhash(spark, turns, cfg_a, input_token="t1")
                    .assignments.collect()))
    assert a1 == a2


def test_checkpoint_iceberg_branch_constructs_writeTo(spark, tmp_path):
    """The Iceberg seam: table_format='iceberg' must route through
    df.writeTo(catalog.table).using('iceberg'). No Iceberg jars ship in
    this container, so the write is expected to fail with a catalog/
    provider error — the assertion is that the failure comes from the
    catalog layer (i.e. the writeTo plan WAS constructed), not from our
    code path."""
    import pytest as _pytest

    from minhash_rs_spark.io.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, str(tmp_path / "ice"), "fp0",
                             table_format="iceberg", catalog="lake.db")
    df = spark.range(3).toDF("x")
    with _pytest.raises(Exception) as ei:
        ckpt.stage("s1", lambda: df)
    msg = str(ei.value).lower()
    assert ("catalog" in msg or "iceberg" in msg or "namespace" in msg
            or "not found" in msg or "data source" in msg)


def test_signatures_cap_invariant(spark, tiny_corpus):
    """max_shingles_per_doc bounds only verification sets: MinHash
    signatures (and therefore clustering) are identical with and without
    the cap, on both tokenizer paths."""
    from minhash_rs_spark.functions.udfs import (
        band_signature_rows, band_signature_rows_from_tokens, shingle_sets)
    from minhash_rs_spark.operators.doc_assembly import (
        assemble_documents, assemble_token_docs)

    turns, _ = tiny_corpus
    for cfg_mk, sig_mk in [
        (lambda **kw: MinHashConfig(tokenizer="words", **kw),
         lambda d, c: band_signature_rows_from_tokens(
             assemble_token_docs(d, "conv_id", "turn_idx", "text"), c)),
        (lambda **kw: MinHashConfig(tokenizer="bytes", **kw),
         lambda d, c: band_signature_rows(
             shingle_sets(assemble_documents(
                 d, "conv_id", "turn_idx", "text"), c), c)),
    ]:
        uncapped = sorted(map(tuple, sig_mk(turns, cfg_mk()).collect()))
        capped = sorted(map(tuple,
                            sig_mk(turns, cfg_mk(max_shingles_per_doc=5))
                            .collect()))
        assert uncapped == capped
        assert len(uncapped) > 0


# ---- textstats golden values ----

def test_textstats_golden(spark):
    from minhash_rs_spark.operators.textstats import (
        fingerprint,
        lang_guess,
        quality_stats,
        token_stats,
    )

    rows = [(1, "The cat and the dog. The end."),
            (2, "Der Hund und die Katze, und das ist gut."),
            (3, ""), (4, "12345 67890"), (5, "one one one")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ts = {r["doc_id"]: r for r in token_stats(df).collect()}
    assert ts[1]["n_tokens"] == 7
    assert ts[3]["n_tokens"] == 0 and ts[3]["avg_token_len"] == 0.0
    assert ts[5]["n_tokens"] == 3 and ts[5]["n_unique_tokens"] == 1

    lg = {r["doc_id"]: r["lang_guess"] for r in lang_guess(df).collect()}
    assert lg[1] == "en"
    assert lg[2] == "de"
    assert lg[3] == "und"

    qs = {r["doc_id"]: r for r in quality_stats(df).collect()}
    assert qs[4]["digit_ratio_e6"] == pytest.approx(10 * 1_000_000 // 11)
    assert qs[3]["quality_score_e6"] >= 0

    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert fp[3] == 0
    # poly-hash oracle for doc 5
    expect = 0
    for ch in "one one one":
        expect = (expect * 31 + ord(ch)) % 1_000_000_007
    assert fp[5] == expect


def test_repetition_stats_vs_bruteforce(spark):
    from collections import Counter

    from minhash_rs_spark.operators.textstats import repetition_stats

    rows = [
        (1, "a b a b a b a b"),          # dominant 2-gram "a b"
        (2, "x y z"),                     # 3 words: no 4-grams
        (3, ""),                          # empty
        (4, "solo"),                      # 1 word: no grams at all
        (5, "b a b a a b a b"),           # tie counts -> smallest gram
        (6, "one  two\tone two   one"),   # whitespace runs normalize
        (7, "q w e r t y u i o p q w e r t"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}

    for doc_id, text in rows:
        words = [w for w in text.lower().split() if w]
        nc = len(" ".join(words))
        assert got[doc_id]["n_words"] == len(words)
        for n in (2, 3, 4):
            grams = [" ".join(words[i:i + n])
                     for i in range(len(words) - n + 1)] \
                if len(words) >= n else []
            if grams:
                cnt = Counter(grams)
                best = max(cnt.values())
                bg = min(g for g, c in cnt.items() if c == best)
            else:
                best, bg = 0, ""
            r = got[doc_id]
            assert r[f"top{n}gram_count"] == best, (doc_id, n)
            assert r[f"top{n}gram_frac_e6"] == \
                best * len(bg) * 1_000_000 // max(nc, 1), (doc_id, n)
            assert r[f"dup{n}gram_frac_e6"] == \
                (len(grams) - len(set(grams))) * 1_000_000 \
                // max(len(grams), 1), (doc_id, n)


def _duckdb_pii(rows):
    """{id: (n_email, n_ssn, n_phone, n_ipv4, n_pii, redacted)} computed
    in DuckDB with the same expressions as the pii_scrub oracle twin."""
    import duckdb

    from minhash_rs_spark.operators.pii import PII_PATTERNS

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    counts = [f"len(regexp_extract_all(t, '{pat}'))"
              for pat, _ in PII_PATTERNS.values()]
    red = "t"
    for pat, tag in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    out = con.execute(f"""
        SELECT doc_id, {", ".join(counts)}, {" + ".join(counts)}, {red}
        FROM (SELECT doc_id, coalesce(text, '') AS t FROM d)""").fetchall()
    return {r[0]: tuple(r[1:]) for r in out}


def test_pii_stats_and_drop(spark):
    from minhash_rs_spark.operators.pii import drop_pii_docs, pii_stats

    rows = [
        (1, "mail me at Bob.Smith+x@Example.COM thanks"),
        (2, "ssn is 123-45-6789 and phone 415-555-0123"),
        (3, "server at 192.168.1.254 is up"),
        (4, "clean document nothing to see"),
        (5, None),
        (6, "two mails a@b.io and c.d@e-f.org here"),
        (7, "Mail ME at John@Example.COM"),
        # U+212A KELVIN SIGN: RE2 case-folds it to k, Java does not
        (8, "see \u212a@example.com"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in pii_stats(df).collect()}
    # the DuckDB oracle twin (RE2) reads every pattern as Java does
    assert _duckdb_pii(rows) == {
        i: tuple(r[c] for c in ("n_email", "n_ssn", "n_phone", "n_ipv4",
                                "n_pii", "redacted"))
        for i, r in got.items()}

    assert got[1]["n_email"] == 1 and got[1]["n_pii"] == 1
    assert "<EMAIL>" in got[1]["redacted"]
    assert got[2]["n_ssn"] == 1 and got[2]["n_phone"] == 1
    # SSN redacted before PHONE can see it: exactly one of each tag
    assert got[2]["redacted"].count("<SSN>") == 1
    assert got[2]["redacted"].count("<PHONE>") == 1
    assert got[3]["n_ipv4"] == 1 and "<IPV4>" in got[3]["redacted"]
    assert got[4]["n_pii"] == 0 and got[4]["redacted"] == rows[3][1]
    assert got[5]["n_pii"] == 0 and got[5]["redacted"] == ""
    assert got[6]["n_email"] == 2
    # redaction keeps the original casing around the tag
    assert got[7]["n_email"] == 1 and got[7]["n_pii"] == 1
    assert got[7]["redacted"] == "Mail ME at <EMAIL>"
    assert got[8]["n_email"] == 0

    kept = sorted(r["doc_id"] for r in drop_pii_docs(df).collect())
    assert kept == [4, 5, 8]
    # original columns untouched, no stats column leaks through
    assert set(drop_pii_docs(df).columns) == {"doc_id", "text"}


def test_drop_pii_docs_plan_has_no_join_or_exchange(spark):
    """Round-7 inline-filter form (VERDICT r6 #3): the kill predicate is
    a pure per-row expression — the plan must be a single filtered scan,
    never the old self-join (which doubled the corpus scan and added an
    exchange at 100 TB)."""
    from minhash_rs_spark.operators.pii import drop_pii_docs

    df = spark.createDataFrame([(1, "a@b.io"), (2, "clean")],
                               ["doc_id", "text"])
    plan = drop_pii_docs(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan


# ---- similarity ----

def test_similarity_topk_and_lsh_recall(spark):
    from minhash_rs_spark.operators.similarity import brute_force_topk, lsh_topk

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((200, 16)).astype("float32")
    vecs[100] = vecs[0] + 0.01  # plant a near neighbor of vec 0
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bf = brute_force_topk(emb, k=3, query_mod=100)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in bf.collect()}
    assert got[(0, 1)] == 100  # planted neighbor is rank 1
    # LSH recall vs brute force (same-sign bucket keeps near-identical vecs)
    lsh = {(r["query_id"], r["neighbor_id"]) for r in
           lsh_topk(emb, k=3, query_mod=100, n_bits=4).collect()}
    assert (0, 100) in lsh



def test_lsh_topk_rejects_n_bits_above_dim(spark):
    """n_bits larger than the embedding dimension is a ValueError at
    call time naming both values, not a bare IndexError."""
    from minhash_rs_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0]) for i in range(4)],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=r"n_bits=4 .*dimension 3"):
        lsh_topk(emb, k=2, query_mod=2, n_bits=4)


def test_zero_vectors_score_nan_and_ragged_rows_raise(spark):
    """Two zero vectors among real ones: every cosine surface scores
    them NaN instead of raising DIVIDE_BY_ZERO. The topk surfaces rank
    NaN first (Spark orders NaN above every double); near-dup pairs
    never include a NaN pair, so both methods give exactly the real
    pairs. Ragged rows whose lengths happen to sum to n * dim raise
    instead of being bucketed."""
    from minhash_rs_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
        cosine_near_dup_pairs,
        hyperplane_buckets,
        hyperplanes,
        ivf_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    vecs[20:30] = vecs[:10] + 0.05 * rng.standard_normal((10, 8))
    zeros = {20, 30}
    vecs[sorted(zeros)] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    unit = vecs / np.maximum(np.linalg.norm(vecs, axis=1), 1e-30)[:, None]
    cos = unit.astype(np.float64) @ unit.T.astype(np.float64)
    want = {(a, b) for a in range(40) for b in range(a + 1, 40)
            if not {a, b} & zeros and cos[a, b] >= 0.9}
    assert len(want) >= 8

    for method in ("brute", "lsh"):
        got = {tuple(r) for r in cosine_near_dup_pairs(
            emb, 0.9, method=method, n_bits=2, num_tables=16).collect()}
        assert got == want, method

    def ranked(rows):
        return {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rows}

    def best(q):
        return max((i for i in range(40) if i != q and i not in zeros),
                   key=lambda i: cos[q, i])

    bf = brute_force_topk(emb, k=3, query_mod=10).collect()
    ann = ann_topk(emb, k=3, query_mod=10, n_bits=2, num_tables=16).collect()
    for r in bf + ann:
        assert (np.isnan(r["cos_sim_r"])
                == bool({r["query_id"], r["neighbor_id"]} & zeros)), r
    # NaN ranks first, NaN ties by neighbor id
    assert ranked(bf) == {
        (0, 1): 20, (0, 2): 30, (0, 3): best(0),
        (10, 1): 20, (10, 2): 30, (10, 3): best(10),
        (20, 1): 0, (20, 2): 1, (20, 3): 2,
        (30, 1): 0, (30, 2): 1, (30, 3): 2}
    # the two zero vectors share every bucket, so they have candidates
    assert {r["query_id"] for r in ann} == {0, 10, 20, 30}
    # every cell probed: IVF degenerates to the exact brute ranking
    assert ranked(ivf_topk(emb, k=3, query_mod=10, n_cells=4,
                           nprobe=4).collect()) == ranked(bf)

    ragged = spark.createDataFrame(
        [(0, [1.0] * 7), (1, [1.0] * 9)],
        "vec_id long, embedding array<float>").coalesce(1)
    with pytest.raises(Exception, match="ragged embedding lengths"):
        hyperplane_buckets(ragged, hyperplanes(8, 2, 1), 2, 1).collect()

# ---- multimodal plumbing ----

def test_multimodal_stub(spark):
    from minhash_rs_spark.operators.multimodal import attach_fake_payload, decode_media

    df = spark.createDataFrame([(1, "hello"), (2, "world")], ["doc_id", "text"])
    media = attach_fake_payload(df)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = decode_media(media, dim=4).collect()
    assert len(feats) == 2
    assert all(len(r["feature"]) == 4 for r in feats)
    # determinism
    feats2 = decode_media(media, dim=4).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    # real=True on non-netpbm payloads raises per payload family at
    # execution time (PIL absent — the gate is in the decode, not a
    # blanket operator refusal; netpbm payloads decode for real)
    with pytest.raises(Exception, match="NotImplementedError|PIL|netpbm"):
        decode_media(media, real=True).collect()


def test_multimodal_resize_and_frames(spark):
    from minhash_rs_spark.operators.multimodal import (
        attach_fake_payload,
        resize_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "short"), (2, "x" * 1000)], ["doc_id", "text"])
    media = attach_fake_payload(df)
    resized = resize_media(media, width=8, height=4).collect()
    assert all(len(r["payload"]) == 32 for r in resized)
    assert all((r["width"], r["height"]) == (8, 4) for r in resized)
    # determinism
    resized2 = resize_media(media, width=8, height=4).collect()
    assert sorted(map(str, resized)) == sorted(map(str, resized2))

    frames = sample_frames(media, every_n_bytes=256, max_frames=8)
    by_id = {}
    for r in frames.collect():
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert by_id["1"] == [0]           # 5-byte payload -> 1 frame
    assert sorted(by_id["2"]) == [0, 1, 2, 3]  # 1000 bytes -> 4 frames

    import pytest as _pytest
    # real=True gates per payload family at execution time; these fake
    # text payloads are not netpbm, so the decode raises
    with _pytest.raises(Exception, match="NotImplementedError|netpbm|PPM"):
        resize_media(media, real=True).collect()
    with _pytest.raises(Exception, match="NotImplementedError|netpbm|PPM"):
        sample_frames(media, real=True).collect()


# ---- verified-path recall: outlier bucket-min must not disconnect pairs


def test_pair_edges_outlier_bucket_min(spark):
    """Planted case from the round-1 verdict: an LSH bucket whose min
    conv_id is a band false-positive far from the other two members,
    which are true near-dups. Star edges anchored at the min would lose
    the pair after verification; pair_edges must keep it."""
    from minhash_rs_spark.operators.lsh import pair_edges, star_edges
    from minhash_rs_spark.operators.verify import verified_edges

    sigs = spark.createDataFrame(
        [("a0", 0, 11, 22), ("b1", 0, 11, 22), ("b2", 0, 11, 22)],
        "conv_id string, band_id int, sig_hi long, sig_lo long")
    shingles = spark.createDataFrame(
        [("a0", [100, 101, 102, 103]),
         ("b1", [1, 2, 3, 4]),
         ("b2", [1, 2, 3, 5])],
        "conv_id string, shingles array<long>")

    # the defect: star edges lose the (b1, b2) pair entirely
    star_kept = verified_edges(star_edges(sigs), shingles, 0.5).collect()
    assert star_kept == []

    kept = {(r["src"], r["dst"])
            for r in verified_edges(pair_edges(sigs), shingles, 0.5).collect()}
    assert kept == {("b2", "b1")}


def test_pair_edges_big_bucket_fallback(spark):
    """Buckets above pair_cap use star + salted sub-star: edge count is
    linear (not quadratic) and the whole bucket stays connected when all
    members verify."""
    from minhash_rs_spark.operators.connected_components import (
        connected_components,
    )
    from minhash_rs_spark.operators.lsh import pair_edges

    n = 40
    sigs = spark.createDataFrame(
        [(f"c{i:03d}", 0, 7, 7) for i in range(n)],
        "conv_id string, band_id int, sig_hi long, sig_lo long")
    edges = pair_edges(sigs, pair_cap=8)
    n_edges = edges.count()
    assert n_edges < n * (n - 1) // 2  # linear fallback, not all-pairs
    cc = connected_components(edges)
    assert cc.select("cc_id").distinct().count() == 1  # still one cluster


def test_simhash_pair_edges_outlier_block_min(spark):
    """Same planted case on the SimHash path: a0 shares block 0 with
    b1/b2 but is Hamming-far from both; b1-b2 are Hamming-1."""
    from minhash_rs_spark.operators.simhash import (
        simhash_candidate_edges,
        simhash_verified_edges,
    )

    b1 = 0
    b2 = b1 ^ (1 << 16)            # Hamming 1 from b1
    a0 = b1 ^ (0xFF << 32)         # Hamming 8 from b1, shares block 0
    sigs = spark.createDataFrame(
        [("a0", a0), ("b1", b1), ("b2", b2)], "conv_id string, simhash long")
    edges = simhash_candidate_edges(sigs, num_blocks=4)
    kept = {(r["src"], r["dst"])
            for r in simhash_verified_edges(edges, sigs, 3).collect()}
    assert ("b2", "b1") in kept
    assert all("a0" not in e for e in kept)



def _crowd_band_sigs(spark):
    """Band rows: d000-d039 share one bucket (a crowd above the default
    pair_cap of 32); the rest fall into buckets of three."""
    return spark.range(200).select(
        F.format_string("d%03d", "id").alias("conv_id"),
        F.lit(0).alias("band_id"),
        F.when(F.col("id") < 40, F.lit(-1)).otherwise(F.col("id") / 3)
         .cast("long").alias("sig_hi"),
        F.lit(7).cast("long").alias("sig_lo"))


def _crowd_simhash_sigs(spark):
    """Same shape as SimHash signatures: d000-d039 share simhash 0 (every
    block group above pair_cap); the rest repeat one 16-bit value in all
    four blocks, shared by groups of three."""
    v = (F.col("id") / 3).cast("long")
    rep4 = (v + F.shiftleft(v, 16) + F.shiftleft(v, 32)
            + F.shiftleft(v, 48))
    return spark.range(200).select(
        F.format_string("d%03d", "id").alias("conv_id"),
        F.when(F.col("id") < 40, F.lit(0).cast("long"))
         .otherwise(rep4).alias("simhash"))


@pytest.mark.parametrize("generator", ["pair_edges",
                                       "simhash_candidate_edges"])
def test_candidate_edges_survive_unpersisted_sigs(spark, generator):
    """Failure injection: the sigs are unpersisted after the edge plan
    was built (bucket aggregate pinned, giant-bucket check taken) but
    before the action runs. The recomputed lineage must give the same
    edge set as a run that keeps the sigs persisted, and the planted
    crowd must still be one component."""
    from minhash_rs_spark.operators.connected_components import (
        connected_components,
    )
    from minhash_rs_spark.operators.lsh import pair_edges
    from minhash_rs_spark.operators.simhash import simhash_candidate_edges

    build, make_sigs = {
        "pair_edges": (pair_edges, _crowd_band_sigs),
        "simhash_candidate_edges": (simhash_candidate_edges,
                                    _crowd_simhash_sigs),
    }[generator]
    sigs = make_sigs(spark).persist()
    sigs.count()
    expected = {tuple(r) for r in build(sigs).collect()}

    edges = build(sigs)
    sigs.unpersist(blocking=True)
    assert not sigs.is_cached
    got = {tuple(r) for r in edges.collect()}
    assert got == expected

    crowd = {f"d{i:03d}" for i in range(40)}
    edges_df = spark.createDataFrame(sorted(got), "src string, dst string")
    cc = {r["conv_id"]: r["cc_id"]
          for r in connected_components(edges_df).collect()}
    assert crowd <= cc.keys()
    assert len({cc[c] for c in crowd}) == 1
    # the small buckets stay apart from the crowd
    assert cc["d040"] not in {cc[c] for c in crowd}

def test_cosine_near_dup_lsh_recall_and_no_cartesian(spark):
    """The scale path for embedding near-dup pairs: planted high-cosine
    near-dups (the regime LSH exists for) must be recovered vs the
    brute-force oracle at the closed-form recall bound, and the plan
    must contain no cartesian/nested-loop join."""
    import numpy as np

    from minhash_rs_spark.operators.similarity import (
        cosine_near_dup_pairs,
        lsh_pair_recall,
    )

    rng = np.random.RandomState(3)
    base = rng.standard_normal((150, 32)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 3 == 0:  # plant a near-dup at cos ~0.97
            nv = v + 0.15 * rng.standard_normal(32).astype(np.float32)
            rows.append((1000 + i, [float(x) for x in nv]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    thr = 0.9
    assert lsh_pair_recall(thr, 8, 32) > 0.999  # parameter sizing sanity
    brute = {tuple(r) for r in cosine_near_dup_pairs(
        emb, thr, method="brute").collect()}
    lsh = cosine_near_dup_pairs(emb, thr, method="lsh",
                                n_bits=8, num_tables=32)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {tuple(r) for r in lsh.collect()}
    assert got <= brute  # cosine-verified: no false positives ever
    assert len(brute) >= 40
    recall = len(got & brute) / len(brute)
    assert recall >= 0.99, f"lsh recall {recall:.3f}"


def test_ann_topk_matches_brute_on_planted(spark):
    """ann_topk must return the true nearest neighbor for vectors that
    have a planted near-identical twin."""
    import numpy as np

    from minhash_rs_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
    )

    rng = np.random.RandomState(5)
    rows = []
    for i in range(100):
        v = rng.standard_normal(32).astype(np.float32)
        rows.append((i * 2, [float(x) for x in v]))      # queries: even ids
        nv = v + 0.1 * rng.standard_normal(32).astype(np.float32)
        rows.append((i * 2 + 1, [float(x) for x in nv]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bf = {r["query_id"]: r["neighbor_id"]
          for r in brute_force_topk(emb, k=1, query_mod=2).collect()}
    ann = {r["query_id"]: r["neighbor_id"]
           for r in ann_topk(emb, k=1, query_mod=2,
                             n_bits=8, num_tables=16).collect()}
    hits = sum(1 for q, n in bf.items() if ann.get(q) == n)
    assert hits / len(bf) >= 0.99, f"ann@1 {hits}/{len(bf)}"


def test_containment_distributed_cross_partition(spark, docs, tiny_corpus):
    """The round-1 scale-killer: distributed containment must find pairs
    whose contained/container docs start in DIFFERENT input partitions
    (global scope = coalesce(1) is no longer the only exact path)."""
    from minhash_rs_spark.operators.substring import containment_edges

    _, pairs = tiny_corpus
    planted = pairs[pairs["kind"] == "containment"]
    assert len(planted) > 0
    # adversarial partitioning: spread docs so planted pairs split
    spread = docs.repartition(8, "conv_id")
    found = {(r["src"], r["dst"])
             for r in containment_edges(spread, scope="distributed",
                                        kgram=8, window=16).collect()}
    for _, row in planted.iterrows():
        a, b = row["conv_id_a"], row["conv_id_b"]
        assert (a, b) in found, (a, b)
    # and distributed == global within the documented guarantee (cleaned
    # containee length >= window + kgram - 1; the tiny 'd_short'/'d_short2'
    # degenerate docs sit below it by design)
    from minhash_rs_spark.functions.kernel import clean_text

    texts = {r["conv_id"]: r["doc_text"] for r in docs.collect()}
    min_len = 16 + 8 - 1
    g = {(r["src"], r["dst"])
         for r in containment_edges(docs, scope="global").collect()
         if len(clean_text(texts[r["src"]] or "")) >= min_len}
    assert found >= g
    assert found <= {(r["src"], r["dst"])
                     for r in containment_edges(docs, scope="global").collect()}


# ---- multimodal real numpy codecs (PPM/PGM family) ----

def _ppm(w, h, seed=0):
    import numpy as np

    rng = np.random.RandomState(seed)
    from minhash_rs_spark.operators.multimodal import encode_ppm

    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    return img, encode_ppm(img)


def test_netpbm_roundtrip_and_comments():
    import numpy as np

    from minhash_rs_spark.operators.multimodal import (
        decode_netpbm, encode_ppm)

    img, payload = _ppm(7, 5, seed=1)
    assert (decode_netpbm(payload) == img).all()
    # header comments + P5 grayscale
    pgm = b"P5\n# a comment\n3 2\n255\n" + bytes(range(6))
    g = decode_netpbm(pgm)
    assert g.shape == (2, 3, 3)
    assert (g[:, :, 0] == g[:, :, 1]).all()
    with pytest.raises(NotImplementedError):
        decode_netpbm(b"\x89PNG\r\n...")


def test_bilinear_resize_properties():
    import numpy as np

    from minhash_rs_spark.operators.multimodal import bilinear_resize

    solid = np.full((10, 8, 3), 77, dtype=np.uint8)
    out = bilinear_resize(solid, 5, 3)
    assert out.shape == (3, 5, 3) and (out == 77).all()
    # horizontal gradient stays monotone after resize
    grad = np.tile(np.arange(0, 250, 10, dtype=np.uint8)[None, :, None],
                   (4, 1, 3))
    out = bilinear_resize(grad, 50, 4)
    row = out[0, :, 0].astype(int)
    assert (np.diff(row) >= 0).all() and row[0] < row[-1]


def test_real_media_ops_on_ppm(spark):
    """real=True paths do REAL work for the dependency-free family:
    decode -> pooled feature, bilinear resize -> re-encoded P6, and
    frame sampling over a concatenated-P6 stream."""
    import numpy as np

    from minhash_rs_spark.operators.multimodal import (
        decode_media, decode_netpbm, resize_media, sample_frames,
        split_ppm_stream)

    imgs = [_ppm(16, 12, seed=s) for s in range(3)]
    stream = b"".join(p for _, p in imgs)  # 3-frame "video"
    rows = ([(f"img{j}", "image/x-portable-pixmap", p, len(p))
             for j, (_, p) in enumerate(imgs)]
            + [("vid0", "video/x-ppm-stream", stream, len(stream))])
    media = spark.createDataFrame(
        rows, "media_id string, mime string, payload binary, n_bytes int")

    feats = {r["media_id"]: r["feature"] for r in decode_media(
        media.where("media_id like 'img%'"), dim=9, real=True).collect()}
    assert len(feats) == 3
    assert all(len(f) == 9 and 0.0 <= min(f) <= max(f) <= 1.0
               for f in feats.values())
    assert feats["img0"] != feats["img1"]  # content-sensitive

    resized = {r["media_id"]: r for r in resize_media(
        media.where("media_id like 'img%'"), 8, 6, real=True).collect()}
    out = decode_netpbm(bytes(resized["img1"]["payload"]))
    assert out.shape == (6, 8, 3)

    frames = sample_frames(media.where("media_id = 'vid0'"),
                           max_frames=2, real=True).collect()
    assert len(frames) == 2  # 3 frames, stride 2 -> idx 0 and 2
    assert {r["frame_idx"] for r in frames} == {0, 2}
    # fingerprints match the actual frame bytes
    import hashlib
    fr = split_ppm_stream(stream)
    want = {i: hashlib.sha256(fr[i]).hexdigest()[:16] for i in (0, 2)}
    assert {r["frame_idx"]: r["frame_sha"] for r in frames} == want
    # compressed family still gated honestly (fake mp4 magic)
    mp4 = spark.createDataFrame(
        [("v1", "video/mp4", b"\x00\x00\x00\x18ftypmp42xxxx", 16)],
        "media_id string, mime string, payload binary, n_bytes int")
    with pytest.raises(Exception, match="NotImplementedError|PPM|ffmpeg"):
        sample_frames(mp4, real=True).collect()


# ---- round-3 fixes: fingerprint dedup, algebraic survivors, short-doc
# containment (VERDICT r2 #3/#5, ADVICE r2 #1) ----

def test_exact_cc_fingerprint_keeps_null_and_empty_distinct(spark):
    """exact_cc now shuffles on a 128-bit fingerprint, not the text; the
    null-flag column must keep NULL and '' in separate groups (SQL
    grouping semantics, which the old groupBy(text) gave for free)."""
    from minhash_rs_spark.operators.exact_dedup import exact_cc

    rows = [("1", "alpha"), ("2", "alpha"), ("3", "beta"),
            ("4", None), ("5", ""), ("6", None)]
    docs = spark.createDataFrame(rows, ["conv_id", "doc_text"])
    got = {(r["conv_id"], r["cc_id"]) for r in exact_cc(docs).collect()}
    assert got == {("1", "1"), ("2", "1"), ("3", "3"),
                   ("4", "4"), ("6", "4"), ("5", "5")}


def test_exact_cc_verify_text_mode(spark):
    """verify_text=True asserts in-group text equality (collision QA)."""
    from minhash_rs_spark.operators.exact_dedup import exact_cc

    rows = [("1", "x"), ("2", "x"), ("3", "y")]
    docs = spark.createDataFrame(rows, ["conv_id", "doc_text"])
    got = {(r["conv_id"], r["cc_id"])
           for r in exact_cc(docs, verify_text=True).collect()}
    assert got == {("1", "1"), ("2", "1"), ("3", "3")}


def test_exact_cc_plan_has_no_text_shuffle(spark, docs):
    """The shuffle key must be the fingerprint pair, never doc_text: no
    hashpartitioning on the text column anywhere in the plan."""
    from minhash_rs_spark.operators.exact_dedup import exact_cc

    plan = exact_cc(docs)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "doc_text" not in line, line


def test_survivors_algebraic_equals_idx0(spark, exact_asg):
    from minhash_rs_spark.operators.annotate import survivors

    s1 = {r["conv_id"] for r in survivors(exact_asg).collect()}
    s2 = {r["conv_id"]
          for r in exact_asg.where("cc_idx = 0").select("conv_id").collect()}
    assert s1 == s2


def test_cluster_assignments_with_idx_false_skips_window(spark, docs):
    """Mega-component guard: the idx-free path must contain no Window
    operator (a partitionBy(cc_id) window serializes a degenerate
    all-identical-docs component into one task)."""
    from minhash_rs_spark.operators.exact_dedup import exact_dedup_assignments

    asg = exact_dedup_assignments(docs, with_idx=False)
    assert "cc_idx" not in asg.columns
    plan = asg._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # sizes still correct vs the idx path
    full = exact_dedup_assignments(docs)
    a = sorted(map(tuple, asg.select("conv_id", "cc_id", "cc_size").collect()))
    b = sorted(map(tuple, full.select("conv_id", "cc_id", "cc_size").collect()))
    assert a == b


def test_mega_component_survivors_window_free(spark):
    """Planted single mega-component (all-identical docs): survivor
    election and sizes must work without any Window in the plan."""
    from minhash_rs_spark.operators.annotate import survivors
    from minhash_rs_spark.operators.exact_dedup import (
        exact_cc, exact_dedup_assignments)

    docs = (spark.range(20000)
            .select(F.format_string("c%07d", "id").alias("conv_id"),
                    F.lit("same text every time").alias("doc_text")))
    surv = survivors(exact_cc(docs))
    assert "Window" not in surv._jdf.queryExecution().executedPlan().toString()
    assert [r["conv_id"] for r in surv.collect()] == ["c0000000"]
    asg = exact_dedup_assignments(docs, with_idx=False)
    assert asg.where("cc_size = 20000").count() == 20000


@contextlib.contextmanager
def _distributed_cc_idx(spark, monkeypatch, parts):
    """Force cluster_assignments onto the distributed cc_idx plan (the
    single-window bound lowered below any cc size) over `parts` range
    splits (spark.sql.shuffle.partitions, read by _cc_idx)."""
    from minhash_rs_spark.operators import annotate

    monkeypatch.setattr(annotate, "_CC_IDX_SINGLE_WINDOW_MAX", -1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        monkeypatch.undo()


def test_cc_idx_distributed_equals_window_formula(spark, monkeypatch):
    """_cc_idx (range-partition + local rank + offsets) must equal
    row_number over (partition by cc_id order by conv_id) - 1 exactly,
    on an adversarial mix: random components, a dominant component,
    singletons — across several range-split counts including
    parts > rows and parts = 1."""
    import random

    from pyspark.sql import Window
    from minhash_rs_spark.operators.annotate import cluster_assignments

    rng = random.Random(7)
    rows = []
    for i in range(2000):
        cid = f"v{rng.randrange(120):04d}"          # random components
        rows.append((f"c{i:05d}", cid))
    for i in range(2000, 3500):
        rows.append((f"c{i:05d}", "v9999"))          # dominant component
    cc = spark.createDataFrame(rows, ["conv_id", "cc_id"])
    docs = cc.select("conv_id")

    expect = {
        (r["conv_id"], r["cc_id"], r["cc_idx"]) for r in cc.withColumn(
            "cc_idx",
            F.row_number().over(
                Window.partitionBy("cc_id").orderBy("conv_id")) - F.lit(1)
        ).collect()}
    for parts in (1, 7, 64, 5000):
        with _distributed_cc_idx(spark, monkeypatch, parts):
            got = {(r["conv_id"], r["cc_id"], r["cc_idx"])
                   for r in cluster_assignments(docs, cc, with_idx=True)
                   .select("conv_id", "cc_id", "cc_idx").collect()}
        assert got == expect, parts


def test_cc_idx_row_preservation_without_exchange_reuse(spark, monkeypatch):
    """Round-5 data-loss regression: _cc_idx's ranked stage feeds two
    consumers, and with exchange reuse unavailable the two sides used
    to plan SEPARATE range exchanges whose samplers (seeded by RDD id)
    could disagree on partition boundaries — inconsistent _pid, and the
    (cc_id, _pid) inner join silently dropped rows (5.8% of 40k rows
    reproduced with spark.sql.exchange.reuse=false; 5-9% of 1.43M docs
    observed at 10M turns on the paircap corpus). The lineage cut on
    `ranked` pins one physical layout for every consumer, so the exact
    window-formula output must come back row-complete even with reuse
    disabled."""
    import random

    from pyspark.sql import Window
    from minhash_rs_spark.operators.annotate import cluster_assignments

    rng = random.Random(11)
    rows = list({f"c{rng.randrange(10**9):09d}": None
                 for _ in range(40_000)})
    cc = spark.createDataFrame(
        [(c, f"v{rng.randrange(500):04d}") for c in rows],
        ["conv_id", "cc_id"])
    docs = cc.select("conv_id")
    expect = {
        (r["conv_id"], r["cc_id"], r["cc_idx"]) for r in cc.withColumn(
            "cc_idx",
            F.row_number().over(
                Window.partitionBy("cc_id").orderBy("conv_id")) - F.lit(1)
        ).collect()}
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        with _distributed_cc_idx(spark, monkeypatch, 16):
            got = {(r["conv_id"], r["cc_id"], r["cc_idx"])
                   for r in cluster_assignments(docs, cc, with_idx=True)
                   .select("conv_id", "cc_id", "cc_idx").collect()}
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    assert len(got) == len(expect)
    assert got == expect


def test_mega_component_cc_idx_no_whole_component_window_task(spark,
                                                             monkeypatch):
    """VERDICT r3 #4: annotate-mode cc_idx on a planted 1M-member single
    component — every Window in the plan partitions by the range-split
    id (never by cc_id alone over raw members), no (pid, cc_id) window
    group approaches the full component, and the ordinal is exactly the
    global conv_id rank."""
    from minhash_rs_spark.operators.annotate import cluster_assignments

    n, parts = 1_000_000, 64
    docs = spark.range(n).select(
        F.format_string("c%07d", "id").alias("conv_id"))
    cc = docs.select("conv_id", F.lit("c0000000").alias("cc_id"))
    with _distributed_cc_idx(spark, monkeypatch, parts):
        asg = cluster_assignments(docs, cc, with_idx=True)

    plan = asg._jdf.queryExecution().executedPlan().toString()
    win_specs = [ln for ln in plan.splitlines()
                 if "windowspecdefinition" in ln]
    assert win_specs
    # the offsets window orders by _pid over per-(cc_id, pid)
    # aggregates (<= parts rows/component)
    assert all("_pid" in ln for ln in win_specs), win_specs
    # the ranked stage (member-rank window + range exchange) sits
    # behind _cc_idx's lineage cut (round-5 _pid-consistency fix) —
    # assert the cut is present downstream and the range exchange +
    # _pid-carrying window exist in the pre-cut stage's own plan
    assert "ExistingRDD" in plan
    from minhash_rs_spark.operators.annotate import _cc_idx_ranked
    pre = _cc_idx_ranked(
        cc.select("conv_id", "cc_id",
                  F.lit(n).alias("cc_size")), parts)
    pre_plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in pre_plan
    pre_specs = [ln for ln in pre_plan.splitlines()
                 if "windowspecdefinition" in ln]
    assert pre_specs and all("_pid" in ln for ln in pre_specs)

    # range partitioning bounds every (pid, cc_id) window group by the
    # split size (~n/parts); correctness of the stitched ordinal:
    stats = asg.agg(F.max("cc_idx").alias("mx"),
                    F.countDistinct("cc_idx").alias("nd"),
                    F.min("cc_idx").alias("mn")).collect()[0]
    assert (stats["mn"], stats["mx"], stats["nd"]) == (0, n - 1, n)
    # exact order: cc_idx == numeric suffix of conv_id for every member
    mismatch = asg.where(
        F.col("cc_idx") != F.expr("int(substring(conv_id, 2, 7))")).count()
    assert mismatch == 0


def test_containment_short_short_pair_distributed(spark):
    """ADVICE r2 #1 regression: containee AND container both below the
    window+kgram-1 exactness bound, chosen so the container's global
    min-kgram differs from the containee's anchor — the pre-fix code
    (container emits only its single global min) provably misses this
    pair; emitting all kgrams for sub-window docs finds it."""
    import numpy as np

    from minhash_rs_spark.functions.kernel import clean_text
    from minhash_rs_spark.operators.substring import (
        _kgram_hashes, containment_edges)

    kgram, window = 8, 32
    inner = "zebra quokka mantis"
    outer = "acacac zebra quokka mantis acacac"
    ci, co = clean_text(inner), clean_text(outer)
    assert ci in co and len(co) < window + kgram - 1  # both sub-window
    hi = _kgram_hashes(np.frombuffer(ci.encode(), np.uint8), kgram)
    ho = _kgram_hashes(np.frombuffer(co.encode(), np.uint8), kgram)
    assert ho.min() < hi.min()  # the old single-fingerprint path misses
    docs = spark.createDataFrame(
        [("inner", inner), ("outer", outer), ("other", "completely unrelated text")],
        ["conv_id", "doc_text"])
    edges = {(r["src"], r["dst"])
             for r in containment_edges(docs, scope="distributed",
                                        kgram=kgram, window=window).collect()}
    assert ("inner", "outer") in edges


def test_containment_margin_over_cleaned_len():
    """ADVICE r2 #3: q_containment_pairs' exactness argument is over
    CLEANED length; assert the margin holds on the real testdata."""
    import os

    import duckdb

    from minhash_rs_spark.functions.kernel import clean_text

    bound = 32 + 8 - 1  # window + kgram - 1 as used by the driver query
    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        rows = duckdb.sql(f"SELECT text FROM '{path}'").fetchall()
        m = min(len(clean_text(t or "")) for (t,) in rows)
        assert m >= bound, (sf, m)


# ---- giant-bucket chain fallback (VERDICT r2 #7) ----

def _cc_of(spark, edges_df):
    from minhash_rs_spark.operators.connected_components import (
        connected_components)
    return {r["conv_id"]: r["cc_id"]
            for r in connected_components(edges_df).collect()}


def test_giant_bucket_chain_keeps_salt_straddling_pairs(spark):
    """Planted giant MIXED bucket: an outlier bucket-min that fails
    verification + a true-dup crowd straddling both salt groups. The
    pre-chain fallback (star + salted sub-star only) provably fractures
    the crowd into per-salt-group components; the consecutive-member
    chain keeps it whole."""
    from minhash_rs_spark.functions.xxhash import xxhash64_signed
    from minhash_rs_spark.operators.lsh import pair_edges
    from minhash_rs_spark.operators.verify import verified_edges

    pair_cap, sub_salt = 4, 2
    crowd = [f"c{i:02d}" for i in range(1, 11)]
    outlier = "0_out"  # sorts first -> bucket min / rep
    assert outlier < min(crowd)
    # precondition: the crowd genuinely straddles both salt groups
    salts = {xxhash64_signed(c) % sub_salt for c in crowd}
    assert salts == {0, 1}

    rows = [(cid, 0, 7, 7) for cid in crowd + [outlier]]
    sigs = spark.createDataFrame(
        rows, "conv_id string, band_id int, sig_hi long, sig_lo long")
    sh_rows = [(cid, [1, 2, 3, 4]) for cid in crowd] + \
              [(outlier, [100, 101, 102])]
    shingles = spark.createDataFrame(sh_rows,
                                     "conv_id string, shingles array<long>")

    def components(chain):
        cand = pair_edges(sigs, pair_cap=pair_cap, sub_salt=sub_salt,
                          chain=chain)
        ver = verified_edges(cand, shingles, threshold=0.9)
        cc = _cc_of(spark, ver)
        return {cc.get(c, c) for c in crowd}

    assert len(components(chain=False)) > 1   # the documented old hole
    assert len(components(chain=True)) == 1   # chain closes it


def test_giant_bucket_chain_no_whole_bucket_window_task(spark):
    """VERDICT r3 #2: a degenerate 1M-member single bucket must never
    be sorted by one window task. chain_edges salts the chain — the
    plan's within-group Window partitions by the salt column, the
    largest (bucket, salt) group is ~cnt/chain_salt, and the emitted
    edges still form one Hamiltonian path over the bucket: exactly
    cnt-1 edges and a single connected component."""
    from pyspark.sql import functions as F
    from minhash_rs_spark.operators.lsh import chain_edges

    n, chain_salt = 1_000_000, 256
    key = ["band_id", "sig_hi", "sig_lo"]
    members = (spark.range(n)
               .select(F.lit(0).alias("band_id"),
                       F.lit(7).alias("sig_hi"),
                       F.lit(7).alias("sig_lo"),
                       F.format_string("c%07d", "id").alias("conv_id")))
    edges = chain_edges(members, key, chain_salt=chain_salt)

    # plan: every Window spec carries _csalt — the intra-chain window
    # partitions by it (so no task sorts the whole bucket); the
    # cross-link window orders by it over <=chain_salt aggregated rows
    plan = edges._jdf.queryExecution().executedPlan().toString()
    win_specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert win_specs
    assert all("_csalt" in ln for ln in win_specs), win_specs

    # no single window task receives the whole bucket: the largest salt
    # sub-group is ~n/chain_salt (binomial; assert a generous 3x bound)
    max_grp = (members
               .withColumn("_csalt", F.pmod(F.xxhash64("conv_id"),
                                            F.lit(chain_salt)))
               .groupBy(*key, "_csalt").count()
               .agg(F.max("count")).collect()[0][0])
    assert max_grp < 3 * n / chain_salt, max_grp

    # Hamiltonian: cnt-1 edges, fully connected, no self-loops
    rows = edges.collect()
    assert len(rows) == n - 1
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = int(r["src"][1:]), int(r["dst"][1:])
        assert a != b
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(n)}) == 1


def test_giant_block_chain_simhash(spark):
    """Same planted shape on the SimHash pigeonhole-block path."""
    from minhash_rs_spark.functions.xxhash import xxhash64_signed
    from minhash_rs_spark.operators.simhash import (
        simhash_candidate_edges, simhash_verified_edges)

    pair_cap, sub_salt = 4, 2
    crowd = [f"c{i:02d}" for i in range(1, 11)]
    salts = {xxhash64_signed(c) % sub_salt for c in crowd}
    assert salts == {0, 1}
    # crowd simhash 0; one outlier PER block, each sharing exactly that
    # block (16 zero bits there, ones elsewhere -> Hamming 48, fails
    # the <=3 verification) and each sorting FIRST in its block group,
    # so every block group's rep is a failing outlier
    mask64 = (1 << 64) - 1
    rows = [(cid, 0) for cid in crowd]
    for b in range(4):
        sig = mask64 ^ (0xFFFF << (16 * b))  # zeros only in block b
        sig = sig - (1 << 64) if sig >= 1 << 63 else sig
        rows.append((f"0_out{b}", sig))
    sigs = spark.createDataFrame(rows, "conv_id string, simhash long")

    def components(chain):
        cand = simhash_candidate_edges(sigs, num_blocks=4,
                                       pair_cap=pair_cap,
                                       sub_salt=sub_salt, chain=chain)
        ver = simhash_verified_edges(cand, sigs, hamming_threshold=3)
        cc = _cc_of(spark, ver)
        return {cc.get(c, c) for c in crowd}

    assert len(components(chain=False)) > 1
    assert len(components(chain=True)) == 1


def test_verified_edges_hand_computed_thresholds(spark):
    """verified_edges keeps exactly the edges whose exact Jaccard is >=
    t, checked against hand-computed scores: a 1:2-size pair whose
    Jaccard is exactly 0.5 (kept at t = 0.5), a pair of equal sizes
    that fails at 0.7, disjoint pairs of unequal sizes, and an
    identical pair (kept at t = 1.0)."""
    from minhash_rs_spark.operators.verify import verified_edges

    shingles = spark.createDataFrame(
        [("a", [1, 2]),
         ("b", [1, 2, 3, 4]),                # vs a: 2/4 = 0.5
         ("c", [1, 2, 3, 9]),                # vs b: 3/5 = 0.6
         ("d", [50, 60, 70, 80, 90, 99, 98, 97]),  # vs a, b: 0
         ("e", [1, 2, 3, 4])],               # vs b: 1.0
        "conv_id string, shingles array<long>")
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "b"), ("e", "b"), ("d", "a")],
        "src string, dst string")
    want = {0.3: {("b", "a"), ("c", "b"), ("e", "b")},
            0.5: {("b", "a"), ("c", "b"), ("e", "b")},
            0.7: {("e", "b")},
            1.0: {("e", "b")}}
    for t, edge_set in want.items():
        got = {(r["src"], r["dst"])
               for r in verified_edges(edges, shingles, t).collect()}
        assert got == edge_set, f"threshold {t}: {got} != {edge_set}"


def test_cc_idx_small_input_fast_path_identical(spark, monkeypatch):
    """cluster_assignments on a cc table below the single-window bound
    must produce EXACTLY the distributed plan's output (same
    adversarial mix as the equivalence test above), and the chosen plan
    must actually be the single window — no range exchange."""
    import random

    from minhash_rs_spark.operators.annotate import cluster_assignments

    rng = random.Random(11)
    rows = [(f"c{i:05d}", f"v{rng.randrange(60):03d}") for i in range(1200)]
    rows += [(f"c{i:05d}", "vBIG") for i in range(1200, 2000)]
    cc = spark.createDataFrame(rows, ["conv_id", "cc_id"])
    docs = cc.select("conv_id")

    with _distributed_cc_idx(spark, monkeypatch, 8):
        dist = cluster_assignments(docs, cc, with_idx=True)
    fast = cluster_assignments(docs, cc, with_idx=True)
    key = lambda df: {(r["conv_id"], r["cc_id"], r["cc_size"], r["cc_idx"])
                      for r in df.collect()}
    assert key(fast) == key(dist)
    # the CONTRACT includes column order: a schema that depends on
    # which plan ran breaks positional consumers (exceptAll/union) —
    # round-6 regression, the distributed join had moved cc_id first
    assert fast.columns == dist.columns
    assert fast.exceptAll(dist).count() == 0
    assert dist.exceptAll(fast).count() == 0
    # the fast path plans a plain window, no RangePartitioning exchange
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    # a cc table above the bound falls back to the distributed plan —
    # whose range exchange sits behind the _pid-consistency lineage cut
    # (round-5 fix), so its downstream signature is the ExistingRDD
    # scan + _pid-carrying offsets window, not a visible range exchange
    big_plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in big_plan and "_pid" in big_plan


def test_cc_idx_plan_bound(spark, monkeypatch):
    """The cc_idx plan bound is inclusive on the cc row count: exactly
    `bound` cc rows take the single window, `bound + 1` the distributed
    plan, and both give the same rows in the same column order."""
    from minhash_rs_spark.operators import annotate

    cc = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("a", "a"), ("e", "d"), ("d", "d")],
        "conv_id string, cc_id string")
    docs = spark.createDataFrame([(c,) for c in "abcdefg"], "conv_id string")
    bound = cc.count()
    plan = lambda df: df._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(annotate, "_CC_IDX_SINGLE_WINDOW_MAX", bound)
    window = annotate.cluster_assignments(docs, cc)
    assert "rangepartitioning" not in plan(window).lower()
    assert "_pid" not in plan(window)
    monkeypatch.setattr(annotate, "_CC_IDX_SINGLE_WINDOW_MAX", bound - 1)
    dist = annotate.cluster_assignments(docs, cc)
    assert "ExistingRDD" in plan(dist) and "_pid" in plan(dist)

    assert window.columns == dist.columns == [
        "conv_id", "cc_id", "cc_size", "cc_idx"]
    rows = sorted(map(tuple, window.collect()))
    assert rows == sorted(map(tuple, dist.collect()))
    assert rows == [("a", "a", 3, 0), ("b", "a", 3, 1), ("c", "a", 3, 2),
                    ("d", "d", 2, 0), ("e", "d", 2, 1), ("f", "f", 1, 0),
                    ("g", "g", 1, 0)]


def test_subsample_survivors_invariant_to_partitioning_and_order(spark):
    """VERDICT r4 #6 — the seeded-sampling contract: _unit_uniform
    derives the draw from (cc_id, seed) alone, so the survivor set must
    be BIT-IDENTICAL across partition counts, row orders, and sessions
    (resume/re-run). Property swept over seeds x rates x methods on a
    400-component table, each evaluated at 4 partitionings including a
    single partition and a shuffled row order."""
    from minhash_rs_spark.operators.subsample import dup_aware_subsample

    rows = [(f"c{i:04d}", f"k{i % 400:04d}", (i % 400) % 9 + 1, 0)
            for i in range(1600)]
    base = spark.createDataFrame(
        rows, "conv_id string, cc_id string, cc_size int, cc_idx int")

    for seed in (0, 7, 123456789):
        for rate in (0.25, 0.5):
            for method in ("xxhash", "poly"):
                if method == "poly":
                    continue  # poly needs numeric ids; covered below
                ref = None
                variants = [
                    base.repartition(1),
                    base.repartition(64, "conv_id"),
                    base.repartition(13, "cc_id"),
                    base.orderBy(F.desc("conv_id")).repartition(5),
                ]
                for v in variants:
                    got = {r["cc_id"] for r in dup_aware_subsample(
                        v, rate, max_cc_size=8, seed=seed,
                        method=method).select("cc_id").distinct().collect()}
                    if ref is None:
                        ref = got
                        assert 0 < len(ref) < 400  # non-degenerate draw
                    else:
                        assert got == ref, (seed, rate, method)
    # poly method (numeric ids): same invariance
    num = spark.createDataFrame(
        [(str(i), str(i % 97), 1, 0) for i in range(500)],
        "conv_id string, cc_id string, cc_size int, cc_idx int")
    a = {r["cc_id"] for r in dup_aware_subsample(
        num.repartition(1), 0.5, seed=3, method="poly")
        .select("cc_id").distinct().collect()}
    b = {r["cc_id"] for r in dup_aware_subsample(
        num.orderBy(F.desc("conv_id")).repartition(37, "cc_id"), 0.5,
        seed=3, method="poly").select("cc_id").distinct().collect()}
    assert a == b and 0 < len(a) < 97


def _one_turn_rows(pairs):
    return [(cid, 0, txt) for cid, txt in pairs]


def test_incremental_minhash_against_checkpoint(spark, tmp_path):
    """New-batch dedup against a prior run's checkpointed sigs/shingles:
    exact dup and near-dup of history are matched (verified path scores
    them), fresh docs survive, and re-running the same batch token
    resumes to identical matches."""
    from minhash_rs_spark.operators.incremental import incremental_minhash
    from minhash_rs_spark.pipeline import run_minhash

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu "
            "apple banana cherry date elder fig grape honey iris jade "
            "kiwi lemon mango nectar olive peach quince rose sage thyme "
            "umber violet wheat xenia yarrow zinnia amber birch cedar")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen "
             "eighteen nineteen twenty twentyone twentytwo twentythree "
             "twentyfour twentyfive twentysix twentyseven twentyeight "
             "twentynine thirty thirtyone thirtytwo thirtythree "
             "thirtyfour thirtyfive thirtysix thirtyseven thirtyeight "
             "thirtynine forty fortyone fortytwo fortythree fortyfour "
             "fortyfive fortysix fortyseven fortyeight fortynine fifty")
    old_turns = spark.createDataFrame(
        _one_turn_rows([("old1", base), ("old2", other),
                        ("old3", "totally disjoint short corpus doc "
                                 "about ships harbors anchors sails")]),
        ["conv_id", "turn_idx", "text"])
    new_turns = spark.createDataFrame(
        _one_turn_rows([("newA", base + " appended tail"),   # near-dup
                        ("newB", other),                     # exact dup
                        ("newC", "fresh unseen content words nothing "
                                 "matches here at all in any shingle "
                                 "window of this new document text")]),
        ["conv_id", "turn_idx", "text"])

    cfg = MinHashConfig(checkpoint_dir=str(tmp_path / "ck"),
                        jaccard_threshold=0.5, annotate_only=False)
    run_minhash(spark, old_turns, cfg, input_token="base").assignments.count()

    res = incremental_minhash(spark, new_turns, cfg,
                              batch_token="b1", base_token="base")
    got = {r["conv_id"]: r for r in res.matches.collect()}
    assert set(got) == {"newA", "newB"}
    assert got["newA"]["matched_old"] == "old1"
    assert got["newB"]["matched_old"] == "old2"
    assert got["newB"]["jaccard"] == 1.0
    assert 0.5 <= got["newA"]["jaccard"] < 1.0
    assert {r["conv_id"] for r in res.output.collect()} == {"newC"}
    stats = res.collect_stats(new_turns)
    assert stats == {"new_conversations": 3, "dup_of_old": 2,
                     "removal_rate": 2 / 3}

    # resume: same tokens -> identical matches, no recompute surprises
    res2 = incremental_minhash(spark, new_turns, cfg,
                               batch_token="b1", base_token="base")
    assert sorted(map(tuple, res2.matches.collect())) == \
        sorted(map(tuple, res.matches.collect()))

    # append-only chain: batch2 dedups against base AND batch1 via a
    # token list (union of committed sigs/shingles — nothing recomputed)
    new2 = spark.createDataFrame(
        _one_turn_rows([("b2A", "fresh unseen content words nothing "
                                "matches here at all in any shingle "
                                "window of this new document text"),
                        ("b2B", other),
                        ("b2C", "another entirely new batch two doc "
                                "with its own words that match no "
                                "history shingles anywhere at all")]),
        ["conv_id", "turn_idx", "text"])
    res_c = incremental_minhash(spark, new2, cfg, batch_token="b2",
                                base_token=["base", "b1"])
    chain = {r["conv_id"]: r["matched_old"] for r in res_c.matches.collect()}
    # b2B ties at jaccard 1.0 with BOTH old2 (base) and newB (batch1,
    # itself a dup of old2); min-id tie-break picks "newB" < "old2"
    assert chain == {"b2A": "newC", "b2B": "newB"}
    assert {r["conv_id"] for r in res_c.output.collect()} == {"b2C"}

    # unverified (reference-parity band collision) finds the same docs
    cfg_u = MinHashConfig(checkpoint_dir=str(tmp_path / "ck_u"))
    run_minhash(spark, old_turns, cfg_u, input_token="base").assignments.count()
    res_u = incremental_minhash(spark, new_turns, cfg_u,
                                batch_token="b1", base_token="base")
    rows_u = {r["conv_id"]: r["matched_old"]
              for r in res_u.matches.collect()}
    assert rows_u == {"newA": "old1", "newB": "old2"}

    # annotate mode (the default) keeps every turn, flags the dups —
    # annotate_only is excluded from the stage fingerprint, so this
    # resumes from the very same base/batch checkpoint tables
    cfg_a = MinHashConfig(checkpoint_dir=str(tmp_path / "ck"),
                          jaccard_threshold=0.5, annotate_only=True)
    res_a = incremental_minhash(spark, new_turns, cfg_a,
                                batch_token="b1", base_token="base")
    flags = {r["conv_id"]: r["dup_of_old"] for r in res_a.output.collect()}
    assert flags == {"newA": True, "newB": True, "newC": False}


def test_exact_dup_against_null_distinct(spark):
    from minhash_rs_spark.operators.incremental import exact_dup_against

    schema = "conv_id string, doc_text string"
    old = spark.createDataFrame(
        [("o1", "same text"), ("o2", ""), ("o3", None)], schema)
    new = spark.createDataFrame(
        [("n1", "same text"), ("n2", ""), ("n3", None),
         ("n4", "different")], schema)
    got = {r["conv_id"]: r["dup_of_old"]
           for r in exact_dup_against(new, old).collect()}
    assert got == {"n1": True, "n2": True, "n3": True, "n4": False}

    # null vs '' stay distinct when only one side has the other
    old2 = spark.createDataFrame([("o1", "")], schema)
    new2 = spark.createDataFrame([("n1", None)], schema)
    got2 = {r["conv_id"]: r["dup_of_old"]
            for r in exact_dup_against(new2, old2).collect()}
    assert got2 == {"n1": False}


def test_dup_against_corpus_megabucket_cap(spark):
    """A degenerate old-side bucket (200 identical docs) must not
    change semantics under the salt-local two-phase cap: the match is
    the global-min old id, and every new doc still verifies."""
    from minhash_rs_spark.operators.incremental import dup_against_corpus

    old_ids = [f"o{i:03d}" for i in range(200)]
    old_sigs = spark.createDataFrame(
        [(cid, 0, 11, 22) for cid in old_ids],
        "conv_id string, band_id int, sig_hi long, sig_lo long")
    old_sh = spark.createDataFrame(
        [(cid, [1, 2, 3, 4]) for cid in old_ids],
        "conv_id string, shingles array<long>")
    new_sigs = spark.createDataFrame(
        [("n1", 0, 11, 22)],
        "conv_id string, band_id int, sig_hi long, sig_lo long")
    new_sh = spark.createDataFrame(
        [("n1", [1, 2, 3, 4])],
        "conv_id string, shingles array<long>")
    for cap in (1, 8):
        got = dup_against_corpus(new_sigs, old_sigs, new_sh, old_sh,
                                 threshold=0.9, old_cap=cap).collect()
        assert len(got) == 1
        assert got[0]["conv_id"] == "n1"
        assert got[0]["matched_old"] == "o000"   # global min, any cap
        assert got[0]["jaccard"] == 1.0

    # a conv_id in both the batch and history, with a different set on
    # each side and two shared bands: scored batch set vs history set
    # (2/6), never against itself (1.0), and its band hits pass through
    sig_schema = "conv_id string, band_id int, sig_hi long, sig_lo long"
    sh_schema = "conv_id string, shingles array<long>"
    both_sigs = [("x", 0, 5, 5), ("x", 1, 6, 6)]
    got = dup_against_corpus(
        spark.createDataFrame(both_sigs, sig_schema),
        spark.createDataFrame(both_sigs, sig_schema),
        spark.createDataFrame([("x", [1, 2, 3, 4])], sh_schema),
        spark.createDataFrame([("x", [1, 2, 5, 6])], sh_schema),
        threshold=0.3).collect()
    assert [(r["conv_id"], r["matched_old"], r["n_band_hits"], r["jaccard"])
            for r in got] == [("x", "x", 2, 2 / 6)]


def test_compact_history_equals_union(spark, tmp_path):
    """VERDICT r5 #5: a 10-generation incremental chain compacted into
    one checkpoint produces IDENTICAL matches to the uncompacted
    10-token union, and the compacted old side reads far fewer parquet
    locations (one sigs + one shingles table instead of ten of each)."""
    from minhash_rs_spark.operators.incremental import (
        compact_history,
        incremental_minhash,
    )
    from minhash_rs_spark.pipeline import run_minhash

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango").split()
    docs = [(f"g{g}", " ".join(f"{words[i % 20]}{g * 7 + i}"
                               for i in range(30)))
            for g in range(10)]
    cfg = MinHashConfig(checkpoint_dir=str(tmp_path / "ck"),
                        jaccard_threshold=0.5, annotate_only=False)
    base = spark.createDataFrame(_one_turn_rows([docs[0]]),
                                 ["conv_id", "turn_idx", "text"])
    run_minhash(spark, base, cfg, input_token="gen0").assignments.count()
    tokens = ["gen0"]
    for g in range(1, 10):
        turns = spark.createDataFrame(_one_turn_rows([docs[g]]),
                                      ["conv_id", "turn_idx", "text"])
        incremental_minhash(spark, turns, cfg, batch_token=f"gen{g}",
                            base_token=list(tokens)).matches.count()
        tokens.append(f"gen{g}")

    assert compact_history(spark, cfg, tokens, "hist10") == "hist10"

    # probe: near-dups of generations 3 and 8 + one fresh doc
    probe = spark.createDataFrame(
        _one_turn_rows([("p3", docs[3][1] + " tail3"),
                        ("p8", docs[8][1] + " tail8"),
                        ("pF", "completely fresh probe words that share "
                               "no five gram window with any history "
                               "document in this chain at all")]),
        ["conv_id", "turn_idx", "text"])
    r_list = incremental_minhash(spark, probe, cfg, batch_token="probeL",
                                 base_token=list(tokens))
    r_comp = incremental_minhash(spark, probe, cfg, batch_token="probeC",
                                 base_token="hist10")
    m_list = sorted(map(tuple, r_list.matches.collect()))
    m_comp = sorted(map(tuple, r_comp.matches.collect()))
    assert m_comp == m_list
    assert {r[0] for r in m_comp} == {"p3", "p8"}
    assert {r["conv_id"] for r in r_comp.output.collect()} == {"pF"}

    # plan shape: after compaction the old side reads ONLY the
    # compacted checkpoint — no generation table appears in the plan
    # (the <=1-table-after-compaction guarantee, PLANS.md check)
    from minhash_rs_spark.pipeline import config_fingerprint

    files_comp = set(r_comp.matches.inputFiles())
    fp_hist = config_fingerprint(cfg, "hist10")
    fp_probe = config_fingerprint(cfg, "probeC")
    assert any(fp_hist in f for f in files_comp)
    assert all(fp_hist in f or fp_probe in f for f in files_comp)
    for t in tokens:
        assert not any(config_fingerprint(cfg, t) in f for f in files_comp)
    # and the union form reads every generation's tables
    files_list = set(r_list.matches.inputFiles())
    assert sum(any(config_fingerprint(cfg, t) in f for f in files_list)
               for t in tokens) == len(tokens)

    # resume: re-running the compaction is a no-op read of the same
    # committed tables, not a recompute
    assert compact_history(spark, cfg, tokens, "hist10") == "hist10"
    # guard: a verified config refuses to compact history whose
    # shingles table is gone (deleted table must fail loudly, not
    # produce a sigs-only compaction that later joins lose rows on)
    import shutil

    import pytest as _pt

    shutil.rmtree(str(tmp_path / "ck" / config_fingerprint(cfg, "gen5")
                      / "shingles"))
    with _pt.raises(ValueError):
        compact_history(spark, cfg, tokens, "hist_broken")

    # ADVICE r6 #3: re-running an out_token with a GROWN token list must
    # raise, never silently resume the stale committed compaction
    compact_history(spark, cfg, tokens[:3], "hist3")
    with _pt.raises(ValueError):
        compact_history(spark, cfg, tokens[:4], "hist3")
    # same-list re-run stays a clean resume
    assert compact_history(spark, cfg, tokens[:3], "hist3") == "hist3"



def test_compact_history_records_inputs_before_shingles_check(spark,
                                                              tmp_path):
    """ADVICE medium: a verified-config compaction that raises on a
    missing shingles table AFTER its sigs committed must still record
    its inputs, so a re-run under the same out_token with a different
    token list trips the guard instead of resuming the stale sigs."""
    import shutil

    from minhash_rs_spark.operators.incremental import compact_history
    from minhash_rs_spark.pipeline import config_fingerprint, run_minhash

    cfg = MinHashConfig(checkpoint_dir=str(tmp_path / "ck"),
                        jaccard_threshold=0.5, annotate_only=False)
    for g, tok in enumerate(("t0", "t1", "t2")):
        turns = spark.createDataFrame(
            _one_turn_rows([(f"d{g}", " ".join(f"word{g}x{i}"
                                               for i in range(12)))]),
            ["conv_id", "turn_idx", "text"])
        run_minhash(spark, turns, cfg, input_token=tok, upto="sigs")
    shutil.rmtree(str(tmp_path / "ck" / config_fingerprint(cfg, "t1")
                      / "shingles"))

    with pytest.raises(ValueError, match="no committed shingles"):
        compact_history(spark, cfg, ["t0", "t1"], "hist")
    # t0 and t2 both have shingles: only the guard can raise here
    with pytest.raises(ValueError, match="already holds a compaction"):
        compact_history(spark, cfg, ["t0", "t2"], "hist")

def test_incremental_old_cap_counts_distinct_history_ids(spark):
    """ADVICE r6 #1: duplicate (bucket, conv_id) rows in history (the
    compacted-chain / re-ingested-doc case) must not consume old_cap
    rank slots. The hazard is salt-local: copies of a small id that
    shares a salt group with a larger TRUE candidate evict it from the
    rank filter. Plant exactly that: two ids in the same xxhash64%64
    salt group, the smaller duplicated past the cap with NON-matching
    shingles, the larger the only true duplicate — it must survive."""
    from pyspark.sql import functions as F

    from minhash_rs_spark.operators.incremental import dup_against_corpus

    # find two ids that land in the same salt sub-group
    cands = [f"h{i:04d}" for i in range(200)]
    salts = {r["v"]: r["s"] for r in spark.createDataFrame(
        [(c,) for c in cands], ["v"])
        .select("v", F.pmod(F.xxhash64("v"), F.lit(64)).alias("s"))
        .collect()}
    by_salt: dict[int, list[str]] = {}
    for v, s in sorted(salts.items()):
        by_salt.setdefault(s, []).append(v)
    pair = next(vs for vs in by_salt.values() if len(vs) >= 2)
    small, big = pair[0], pair[1]
    assert small < big

    sig_schema = "conv_id string, band_id int, sig_hi long, sig_lo long"
    old_rows = [(small, 0, 7, 7)] * 3 + [(big, 0, 7, 7)]
    old_sigs = spark.createDataFrame(old_rows, sig_schema)
    new_sigs = spark.createDataFrame([("n1", 0, 7, 7)], sig_schema)
    sh = "conv_id string, shingles array<long>"
    old_sh = spark.createDataFrame(
        [(small, [91, 92, 93, 94]),   # disjoint -> fails verification
         (big, [1, 2, 3, 4])],        # identical -> true duplicate
        sh)
    new_sh = spark.createDataFrame([("n1", [1, 2, 3, 4])], sh)
    out = dup_against_corpus(new_sigs, old_sigs, new_sh, old_sh,
                             threshold=0.5, old_cap=2)
    rows = {r["conv_id"]: r for r in out.collect()}
    # row-counting cap: small's copies fill both slots in the shared
    # salt group, big is evicted, n1 matches nothing. Distinct-id cap:
    # candidates = {small, big}; only big verifies.
    assert "n1" in rows, "true duplicate evicted by duplicate history rows"
    assert rows["n1"]["matched_old"] == big


def test_ivf_topk_recall_and_partition(spark):
    """IVF-flat: (a) on a corpus with planted near-identical twins,
    @1 recall vs brute force stays high with nprobe=4/16 cells (twin
    and query land in the same cell — their cosine-to-centroid
    orderings are nearly identical); (b) the cell assignment is a
    partition: every vector in exactly one cell; (c) nprobe = n_cells
    degenerates to EXACT brute-force ranking."""
    import numpy as np

    from minhash_rs_spark.operators.similarity import (
        brute_force_topk,
        ivf_cells,
        ivf_topk,
    )

    rng = np.random.RandomState(7)
    rows = []
    for i in range(100):
        v = rng.standard_normal(32).astype(np.float32)
        rows.append((i * 2, [float(x) for x in v]))      # queries: even
        nv = v + 0.05 * rng.standard_normal(32).astype(np.float32)
        rows.append((i * 2 + 1, [float(x) for x in nv]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents, asg = ivf_cells(emb, n_cells=16)
    assert cents.count() == 16
    per_vec = asg.groupBy("vec_id").count().where("count != 1").count()
    assert per_vec == 0 and asg.count() == 200  # exactly one cell each

    bf = {r["query_id"]: r["neighbor_id"]
          for r in brute_force_topk(emb, k=1, query_mod=2).collect()}
    ivf = {r["query_id"]: r["neighbor_id"]
           for r in ivf_topk(emb, k=1, query_mod=2,
                             n_cells=16, nprobe=4).collect()}
    hits = sum(1 for q, n in bf.items() if ivf.get(q) == n)
    assert hits / len(bf) >= 0.95, f"ivf@1 {hits}/{len(bf)}"

    # nprobe == n_cells scans everything -> must equal brute exactly
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_topk(emb, k=3, query_mod=2,
                              n_cells=16, nprobe=16).collect()}
    bf3 = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in brute_force_topk(emb, k=3, query_mod=2).collect()}
    assert full == bf3
