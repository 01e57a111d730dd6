"""Driver contract for the spark-graft builder (PySpark target).

Engine: minhash_rs_spark — a from-scratch PySpark-native near-duplicate
detection + clustering pipeline with the capabilities of
revbucket/minhash-rs (SURVEY.md §2 inventory).

Query inputs come from the driver's parquet tables. The dedup pipeline's
native input is a multi-turn transcripts table (BASELINE.json
input_hint); since the driver tables don't include one, `_synth_turns`
derives a deterministic transcripts table from `documents` by fixed
80-char chunking — reproducible in ANSI SQL, so DuckDB oracles can see
the identical input.

Every queries() entry aliases its computed columns identically to the
oracle SQL; integers are cast to long/BIGINT on both sides, floats are
rounded, so the driver's order-insensitive value-hash comparison is
exact. Since round 6 the MinHash/SimHash signature kernels themselves
are SQL-expressible (minhash_rs_spark/oracle_sql.py generates DuckDB
UHUGEINT mod-2^64 twins of xxhash64 / rolling-poly / multiply-shift /
band-sig / bit-vote math), so the signature and clustering queries
carry full value-for-value oracles; the remaining no-oracle entries are
streaming-state and float32-boundary queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minhash_rs_spark import oracle_sql as OSQL
from minhash_rs_spark.config import MinHashConfig

TURN_CHARS = 80
SERIES_MAX = 4096  # static turn-index bound (supports texts to 327k chars)

# portable SlimPajama-style normalization (clean_text, ref
# /root/reference/src/main.rs:598-614) as SQL on both engines
_PUNCT = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _synth_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> transcripts(conv_id, turn_idx, role, text, tool, ts):
    turn i holds chars [i*80, (i+1)*80); every doc yields >= 1 turn."""
    docs = _docs(spark, sf_dir)
    # Spark generates exactly the needed turn indices; the DuckDB oracle
    # uses a static 0..SERIES_MAX series + the same WHERE bound (DuckDB
    # 1.0 lacks correlated lateral generate_series) — identical output.
    # clamped to the oracle's static series bound so Spark and DuckDB
    # agree even on pathological >327k-char documents
    n_turns = F.least(
        F.lit(SERIES_MAX + 1),
        F.greatest(F.ceil(F.length("t") / F.lit(TURN_CHARS)).cast("int"),
                   F.lit(1)))
    return (
        docs.select(F.col("doc_id").cast("string").alias("conv_id"),
                    F.coalesce(F.col("text"), F.lit("")).alias("t"))
        .select("conv_id", "t",
                F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"))
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.when(F.col("turn_idx") % 2 == 0, "user")
             .otherwise("assistant").alias("role"),
            F.expr(f"substring(t, turn_idx*{TURN_CHARS}+1, {TURN_CHARS})").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,turn_idx,0)").alias("ts"),
        )
    )


_SYNTH_TURNS_SQL = f"""
    SELECT CAST(d.doc_id AS VARCHAR) AS conv_id,
           CAST(g.i AS INTEGER) AS turn_idx,
           substr(coalesce(d.text,''), g.i*{TURN_CHARS}+1, {TURN_CHARS}) AS text
    FROM documents d, generate_series(0, {SERIES_MAX}) AS g(i)
    WHERE g.i*{TURN_CHARS} < greatest(length(coalesce(d.text,'')), 1)
"""


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_exact_dedup_survivors(spark, sf_dir):
    """Window-free dedup path: survivors() is an algebraic min per
    component (annotate.py), so a mega-component never serializes into
    one task — cc_idx is only computed in annotate mode."""
    from minhash_rs_spark.operators.annotate import survivors
    from minhash_rs_spark.operators.exact_dedup import exact_cc

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    return (survivors(exact_cc(docs))
            .select(F.col("conv_id").cast("long").alias("doc_id"))
            .orderBy("doc_id"))


def q_exact_dup_annotate(spark, sf_dir):
    from minhash_rs_spark.operators.exact_dedup import exact_dedup_assignments

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    asg = exact_dedup_assignments(docs)
    return asg.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cc_id").cast("long").alias("cc_id"),
        F.col("cc_size").cast("long").alias("cc_size"),
        F.col("cc_idx").cast("long").alias("cc_idx"))


def q_dup_aware_subsample(spark, sf_dir):
    """Duplicate-aware subsample over exact-dup components with the
    portable polynomial pseudo-rand (method='poly'), rate 0.5, max size 8."""
    from minhash_rs_spark.operators.exact_dedup import exact_dedup_assignments
    from minhash_rs_spark.operators.subsample import dup_aware_subsample

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    asg = exact_dedup_assignments(docs, with_idx=False)
    kept = dup_aware_subsample(asg, 0.5, max_cc_size=8, seed=0, method="poly")
    return kept.select(F.col("conv_id").cast("long").alias("doc_id"),
                       F.col("cc_id").cast("long").alias("cc_id"))


def q_token_stats(spark, sf_dir):
    from minhash_rs_spark.operators.textstats import token_stats

    out = token_stats(_docs(spark, sf_dir))
    return out.select("doc_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      F.col("n_unique_tokens").cast("long").alias("n_unique_tokens"),
                      "avg_token_len")


def q_quality_stats(spark, sf_dir):
    from minhash_rs_spark.operators.textstats import quality_stats

    out = quality_stats(_docs(spark, sf_dir))
    return out.select("doc_id",
                      F.col("n_chars_q").cast("long").alias("n_chars_q"),
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      "space_ratio_e6", "digit_ratio_e6",
                      "stopword_density_e6", "quality_score_e6")


def q_lang_guess(spark, sf_dir):
    from minhash_rs_spark.operators.textstats import lang_guess

    out = lang_guess(_docs(spark, sf_dir))
    return out.select("doc_id", "lang_guess",
                      *[F.col(f"hits_{lang}").cast("long").alias(f"hits_{lang}")
                        for lang in ("en", "de", "fr", "es")])


def q_fingerprint(spark, sf_dir):
    from minhash_rs_spark.operators.textstats import fingerprint

    out = fingerprint(_docs(spark, sf_dir))
    return out.select("doc_id", "fingerprint",
                      F.col("fp_len").cast("long").alias("fp_len"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-document repetition signals (top-n-gram
    coverage + duplicate-n-gram fraction, n=2..4) — pure per-row array
    folds, zero shuffle; oracle replays via unnest+group+window argmax."""
    from minhash_rs_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _plant_pii(docs):
    """Deterministically append PII tokens to a doc_id-keyed subset —
    the corpus itself has none, so the gate plants its own (same
    self-contained trick as decontam_ngram's benchmark split). Mirrored
    verbatim in the oracle SQL."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return docs.select("doc_id", F.concat(
        F.coalesce("text", F.lit("")),
        F.when(d % 7 == 0, F.concat(F.lit(" reach me at user"), s(d),
                                    F.lit("@example.com now")))
         .otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit(" ssn 123-45-6789 noted"))
         .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" call 415-555-"),
                                    F.lpad(s(d % 10000), 4, "0")))
         .otherwise(F.lit("")),
        F.when(d % 13 == 0, F.concat(F.lit(" host 10.0."), s(d % 256),
                                     F.lit("."), s((d * 7) % 256),
                                     F.lit(" up")))
         .otherwise(F.lit("")),
    ).alias("text"))


def q_pii_scrub(spark, sf_dir):
    """PII detect + redact over documents with planted PII: per-kind
    counts on the original text, md5 of the sequentially redacted text
    (order EMAIL->SSN->PHONE->IPV4, fixed in operators/pii.py)."""
    from minhash_rs_spark.operators.pii import pii_stats

    out = pii_stats(_plant_pii(_docs(spark, sf_dir)))
    return out.select("doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4",
                      "n_pii", F.md5("redacted").alias("redacted_md5"))


def q_doc_assembly_roundtrip(spark, sf_dir):
    """G1 gate: chunk documents into turns, reassemble with the engine's
    doc-assembly operator; oracle reassembles with string_agg ORDER BY."""
    from minhash_rs_spark.operators.doc_assembly import assemble_documents

    turns = _synth_turns(spark, sf_dir)
    docs = assemble_documents(turns)
    return docs.select(F.col("conv_id").cast("long").alias("doc_id"),
                       F.col("doc_text"),
                       F.col("n_turns").cast("long").alias("n_turns"))


def q_containment_pairs(spark, sf_dir):
    """Suffix-array exact-substring containment over normalized text —
    DISTRIBUTED scope (winnowing collocation, substring.py module doc):
    no coalesce(1) anywhere. kgram=8/window=32 sizes the exactness
    guarantee to CLEANED length >= window+kgram-1 = 39 (the guarantee
    is over clean_text output, which strips punctuation and collapses
    whitespace); the testdata corpora measure min cleaned length 44+
    at every sf (asserted by test_containment_margin_over_cleaned_len),
    so the distributed result equals the global one. Short docs below
    the bound would still pair with short containers (substring.py
    emits all kgrams for sub-window docs), only the short-in-long case
    needs the margin."""
    from minhash_rs_spark.operators.substring import containment_edges

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    edges = containment_edges(docs, scope="distributed", kgram=8, window=32)
    return edges.select(F.col("src").cast("long").alias("contained_id"),
                        F.col("dst").cast("long").alias("container_id"))


def q_cc_size_histogram(spark, sf_dir):
    """G6 cc-size ledger (ref save_ccs_by_size, exact_dedup.rs:228-265)
    over exact-dup components."""
    from minhash_rs_spark.operators.exact_dedup import exact_dedup_assignments

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    asg = exact_dedup_assignments(docs)
    return (asg.groupBy("cc_size").agg(
        F.countDistinct("cc_id").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs"))
        .select(F.col("cc_size").cast("long").alias("cc_size"),
                F.col("n_clusters").cast("long").alias("n_clusters"),
                F.col("n_docs").cast("long").alias("n_docs")))


def q_word_jaccard_pairs(spark, sf_dir):
    from minhash_rs_spark.operators.word_jaccard import word_jaccard_pairs

    out = word_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2, max_df=50)
    return out.select(F.col("doc_a").cast("long").alias("doc_a"),
                      F.col("doc_b").cast("long").alias("doc_b"),
                      "n_common", "jaccard_e6")


def q_incremental_exact_dedup(spark, sf_dir):
    """Incremental (append-batch) exact dedup against history
    (operators/incremental.exact_dup_against): odd-doc_id docs are the
    arriving batch, history is the even docs PLUS every doc_id%10==1
    text (planted overlap — the synthetic documents table has no
    cross-doc exact dups of its own), so dup_of_old is true exactly for
    the %10==1 batch docs. Spark joins 128-bit fingerprints + null
    flag (16 B/doc on the wire, never the text); the oracle compares
    texts directly — identical absent a 128-bit collision."""
    from minhash_rs_spark.operators.incremental import exact_dup_against

    docs = _docs(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    old = docs.where((F.col("doc_id") % 2 == 0)
                     | (F.col("doc_id") % 10 == 1)).select("text")
    return (exact_dup_against(new, old, id_col="doc_id", text_col="text")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "dup_of_old"))


def q_incremental_band_dedup(spark, sf_dir):
    """Incremental MinHash dedup, UNVERIFIED band-collision path
    (operators/incremental.dup_against_corpus, VERDICT r5 #6): odd
    doc_ids are the arriving batch, even doc_ids the checkpointed
    history. History reduces to ONE algebraic row per (band, sig)
    bucket; the batch joins bucket representatives — the exact
    100 TB-guarding reduction this query hash-gates. Signatures are
    REAL engine band sigs; the oracle recomputes them value-for-value
    (oracle_sql.py) and replays the bucket min/count/join/groupBy."""
    from minhash_rs_spark.functions.udfs import band_signature_rows, shingle_sets
    from minhash_rs_spark.operators.incremental import dup_against_corpus

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    sigs = band_signature_rows(shingle_sets(docs, MinHashConfig()),
                               MinHashConfig())
    par = F.col("conv_id").cast("long") % 2
    out = dup_against_corpus(sigs.where(par == 1), sigs.where(par == 0))
    return out.select(F.col("conv_id").cast("long").alias("doc_id"),
                      F.col("matched_old").cast("long").alias("matched_old"),
                      F.col("n_band_hits").cast("long").alias("n_band_hits"))


def q_incremental_minhash_dedup(spark, sf_dir):
    """Incremental MinHash dedup, VERIFIED path: capped old-side bucket
    members (global old_cap smallest ids via the salt-local two-phase),
    batch-vectorized exact Jaccard of every candidate, best match = max
    jaccard (ties: min old id). The oracle replays the cap
    with a row_number window, the Jaccard from the recomputed shingle
    sets, and the best-match election — anchoring the verified
    incremental semantics end-to-end (VERDICT r5 #6 extension)."""
    from minhash_rs_spark.functions.udfs import band_signature_rows, shingle_sets
    from minhash_rs_spark.operators.incremental import dup_against_corpus

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    sh = shingle_sets(docs, MinHashConfig())
    sigs = band_signature_rows(sh, MinHashConfig())
    par = F.col("conv_id").cast("long") % 2
    out = dup_against_corpus(sigs.where(par == 1), sigs.where(par == 0),
                             sh.where(par == 1), sh.where(par == 0),
                             threshold=0.5, old_cap=8)
    return out.select(F.col("conv_id").cast("long").alias("doc_id"),
                      F.col("matched_old").cast("long").alias("matched_old"),
                      F.col("n_band_hits").cast("long").alias("n_band_hits"),
                      F.round("jaccard", 6).alias("jaccard_r"))


def q_decontam_ngram(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): every 20th
    document plays the eval/benchmark set; the remaining corpus docs are
    flagged when they share any word 4-gram with it. k=4 (not the
    real-world default 8) because the synthetic word-soup docs are short
    and their near-dup mutations rarely preserve 8 consecutive words —
    k=4 yields a ~10% contaminated mix at sf0.01, non-degenerate in both
    directions. Spark joins on 64-bit shingle hashes (scale path); the
    DuckDB oracle joins the raw shingle strings — identical output
    absent a 64-bit collision (~n^2/2^64)."""
    from minhash_rs_spark.operators.decontam import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return (decontaminate(corpus, bench, k=4)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_shingles", "n_hits", "contam_frac_e6",
                    "contaminated"))


_STRIDES = (1, 2, 4, 8, 16, 32, 64, 128, 256)


def q_shingle_jaccard_pairs(spark, sf_dir):
    """Exact k-gram shingle-Jaccard (the MinHash verify kernel:
    kernel-tokenize -> rolling-poly shingles -> sorted-unique set ->
    vectorized intersection count) over the DETERMINISTIC stride pair
    set {(doc_id, doc_id+d) : d in _STRIDES = (1,2,4,...,256)} — the
    operator's default is adjacent strides 1..3, but this query runs
    log-spaced strides. Every LSH-derived pair set is
    kernel-dependent; this one is pure input, so the DuckDB oracle
    checks the verify kernel's exact integer intersection/union counts
    value-for-value. (Since round 6 minhash_clusters_verified /
    true_jaccard_pairs are themselves hash-matched via the UHUGEINT
    kernel twins — this query remains the direct, pair-level anchor
    whose candidate set has no LSH dependence at all. Note the r6
    twins enumerate ALL within-bucket pairs; the engine caps candidate
    generation in buckets over pair_cap, so on data with giant buckets
    the two could legitimately diverge — ADVICE r6 #2, no such bucket
    in the driver fixtures.) Ref: src/main.rs:1673-1677."""
    from minhash_rs_spark.functions.udfs import shingle_sets
    from minhash_rs_spark.operators.verify import stride_pair_jaccards

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    sh = shingle_sets(docs, MinHashConfig())
    # log-spaced strides: samples pair distances at every scale for
    # O(N log N) total pairs, and (unlike adjacent-only) actually hits
    # planted near-dup pairs with nonzero intersections in the testdata
    return stride_pair_jaccards(sh, deltas=_STRIDES).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        "n_inter", "n_union", "jac_e6")


def q_cc_stride_clusters(spark, sf_dir):
    """Oracle anchor for the CC operator itself (VERDICT r4 #1): run
    connected_components (operators/connected_components.py) over a
    DETERMINISTIC input-derived edge list, so DuckDB can recompute the
    exact (doc_id, cc_id, cc_size) labeling with a recursive CTE
    (iterated min-label reachability) — the external value-for-value
    check the iterative-join CC previously lacked (it was tested only
    against the in-repo Python union-find). At every testdata scale
    (sf0.001 to sf0.1) the edge set is under the driver bound, so this
    query runs the driver-side labeling; tests/test_oracle_anchor.py
    also forces the alternating large-star/small-star loop and checks
    it against the same oracle.

    Edge list (pure input, no kernel dependence in the topology):
      E1: (i, 2i) and (i, 3i) for doc_ids i >= 1 where both endpoints
          exist — a multi-scale arithmetic graph whose components
          (numbers sharing a 5-rough part) have log-scale diameter, so
          the star loop must actually iterate several rounds;
      E2: the stride pairs (doc_id, doc_id+d), d in _STRIDES, with a
          nonzero exact-shingle intersection — keeps the (already
          hash-anchored) verify kernel in the loop end-to-end.
    cc_id = numeric min member; cc_size = component member count.
    Ref: union-find semantics /root/reference/src/uf_rush2.rs:20-216,
    cc extraction src/main.rs:1044-1057."""
    from minhash_rs_spark.functions.udfs import shingle_sets
    from minhash_rs_spark.operators.connected_components import (
        connected_components)
    from minhash_rs_spark.operators.verify import stride_pair_jaccards

    docs = _docs(spark, sf_dir)
    ids = docs.select(F.col("doc_id").cast("long").alias("id"))
    mul = (ids.where(F.col("id") >= 1)
           .select("id", F.explode(F.array(F.col("id") * 2,
                                           F.col("id") * 3)).alias("dst"))
           .join(ids.select(F.col("id").alias("dst")), "dst")
           .select(F.col("id").alias("src"), "dst"))
    sh = shingle_sets(
        docs.select(F.col("doc_id").cast("string").alias("conv_id"),
                    F.coalesce("text", F.lit("")).alias("doc_text")),
        MinHashConfig())
    overlap = (stride_pair_jaccards(sh, deltas=_STRIDES)
               .where(F.col("n_inter") > 0)
               .select(F.col("id_a").alias("src"),
                       F.col("id_b").alias("dst")))
    cc = connected_components(mul.union(overlap))
    sizes = cc.groupBy("cc_id").agg(F.count(F.lit(1)).alias("cc_size"))
    return (cc.join(sizes, "cc_id")
            .select(F.col("conv_id").cast("long").alias("doc_id"),
                    F.col("cc_id").cast("long").alias("cc_id"),
                    F.col("cc_size").cast("long").alias("cc_size")))


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish sub-word token counting (word / single digit / punct)."""
    docs = _docs(spark, sf_dir)
    pat = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    return docs.select(
        "doc_id",
        F.regexp_count(F.coalesce("text", F.lit("")), F.lit(pat))
        .cast("long").alias("n_bpe_tokens"))


def q_embedding_topk(spark, sf_dir):
    from minhash_rs_spark.operators.similarity import brute_force_topk

    out = brute_force_topk(_emb(spark, sf_dir), k=5, query_mod=50)
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("neighbor_id").cast("long").alias("neighbor_id"),
                      F.col("rank").cast("long").alias("rank"))


def q_embedding_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (the task brief's inverted-file scale path):
    deterministic coarse quantizer (embeddings of the 16 smallest ids;
    production trains k-means — the search plumbing is what this
    gates), argmax-cosine cell assignment, nprobe=4 probe-list scan,
    exact-cosine re-rank. The oracle replays assignment, probe
    selection, candidate scan, and ranking value-for-value."""
    from minhash_rs_spark.operators.similarity import ivf_topk

    return ivf_topk(_emb(spark, sf_dir), k=5, query_mod=50,
                    n_cells=16, nprobe=4)


def q_embedding_near_dup_pairs(spark, sf_dir):
    from minhash_rs_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=0.45)
    return out.select(F.col("vec_a").cast("long").alias("vec_a"),
                      F.col("vec_b").cast("long").alias("vec_b"))


def q_embedding_lsh_topk(spark, sf_dir):
    from minhash_rs_spark.operators.similarity import lsh_topk

    out = lsh_topk(_emb(spark, sf_dir), k=5, query_mod=50, n_bits=4)
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("neighbor_id").cast("long").alias("neighbor_id"),
                      F.col("rank").cast("long").alias("rank"))


def q_streaming_exact_dedup(spark, sf_dir):
    """Structured Streaming executed FOR REAL inside the driver check:
    the documents table is read with readStream, pushed through
    streaming_exact_dedup (128-bit fingerprint dropDuplicatesWithin-
    Watermark), written to a memory sink with an availableNow trigger,
    and the surviving distinct-text fingerprints are returned — which
    must equal the batch exact-dedup oracle (DISTINCT text) exactly.
    Event time is pinned to one instant so watermark expiry cannot
    race batch boundaries: survivors == set of distinct texts,
    deterministic regardless of arrival order."""
    import uuid

    from minhash_rs_spark.streaming.dedup_stream import streaming_exact_dedup

    import os
    import tempfile

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    # the streaming file source requires a directory: stage a symlink
    src_dir = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(os.path.abspath(path), os.path.join(src_dir, "part-0.parquet"))
    stream = (spark.readStream.schema(schema).parquet(src_dir)
              .withColumn("ts", F.lit("2024-01-01 00:00:00")
                          .cast("timestamp")))
    deduped = streaming_exact_dedup(stream, text_col="text", ts_col="ts")
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    q = (deduped
         .select(F.md5(F.coalesce(F.col("text"), F.lit("")))
                 .alias("text_md5"))
         .writeStream.format("memory").queryName(name)
         .trigger(availableNow=True)
         .option("checkpointLocation", f"/tmp/stream_ck/{name}")
         .start())
    q.awaitTermination()
    return spark.table(name)


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Scale path for near-dup pairs: multi-table random-hyperplane
    sign-LSH candidates + exact cosine verification — no cartesian
    product in the plan. Rows-only driver check (the random projections
    bucket on float32 sign boundaries, which an independent SQL engine
    cannot reproduce bit-stably); recall >= 0.99 vs the brute-force
    oracle is gated in tests/test_operators.py
    (test_cosine_near_dup_lsh_recall_and_no_cartesian), and the
    closed-form bound lives in similarity.lsh_pair_recall. Parameters
    here are sized for the low-threshold regime of the driver data
    (cos 0.45: n_bits=4, 32 tables -> bound 0.998)."""
    from minhash_rs_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=0.45,
                                method="lsh", n_bits=4, num_tables=32)
    return out.select(F.col("vec_a").cast("long").alias("vec_a"),
                      F.col("vec_b").cast("long").alias("vec_b"))


def q_streaming_band_dedup(spark, sf_dir):
    """The CUSTOM STATEFUL streaming operator executed for real
    (availableNow): documents -> streaming MinHash band signatures (the
    same mapInArrow kernel as the batch path, stateless in-stream) ->
    applyInPandasWithState bucket claims (streaming/dedup_stream.
    streaming_stateful_band_dedup — per-LSH-bucket state holding the
    first claimant, processing-time timeout bounding state). Returns a
    per-document summary (doc_id, n_bands, n_matched_bands). Rows-only
    driver check: band signatures are MinHash-kernel numbers no
    independent SQL engine reproduces; the operator's state, timeout
    and empty-batch semantics are unit-tested in tests/test_streaming.py."""
    import os
    import tempfile
    import uuid

    from minhash_rs_spark.streaming.dedup_stream import (
        streaming_minhash_sigs, streaming_stateful_band_dedup)

    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    src_dir = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(os.path.abspath(path), os.path.join(src_dir, "part-0.parquet"))
    stream = (spark.readStream.schema(schema).parquet(src_dir)
              .withColumn("doc_id", F.col("doc_id").cast("string")))
    sigs = streaming_minhash_sigs(stream, id_col="doc_id", text_col="text")
    # NoTimeout: a finite availableNow drive must terminate with the
    # data; processing-time timers would keep cleanup batches running
    # (see streaming_stateful_band_dedup docstring)
    claims = streaming_stateful_band_dedup(sigs, state_timeout_min=None)
    name = "stream_band_" + uuid.uuid4().hex[:8]
    q = (claims.writeStream.format("memory").queryName(name)
         .trigger(availableNow=True)
         .option("checkpointLocation", f"/tmp/stream_ck/{name}")
         .start())
    q.awaitTermination()
    return (spark.table(name)
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n_bands"),
                 F.sum(F.col("matched").cast("long")).alias("n_matched_bands"))
            .select(F.col("conv_id").cast("long").alias("doc_id"),
                    "n_bands", "n_matched_bands"))


# ---- signature-kernel queries: value-for-value DuckDB oracles since
# round 6 (oracle_sql.py UHUGEINT twins of the integer kernels) ----------

def q_minhash_signatures(spark, sf_dir):
    """The raw LSH keys: (conv_id, band_id, sig_hi, sig_lo) for every
    assembled conversation — the engine's full signature chain
    (xxhash64 tokens -> rolling-poly shingles -> 112-permutation
    multiply-shift MinHash -> 14 poly+mix band sigs). The oracle
    recomputes every 64-bit value in DuckDB SQL (oracle_sql.py), so
    this hash-match anchors H1-H5 end-to-end from the parquet text.
    Ref math: /root/reference/src/main.rs:642-693 (perms), 664-677
    (multiply-shift), 537-543 (band sig)."""
    from minhash_rs_spark.functions.udfs import band_signature_rows, shingle_sets
    from minhash_rs_spark.operators.doc_assembly import assemble_documents

    turns = _synth_turns(spark, sf_dir)
    docs = assemble_documents(turns)
    sh = shingle_sets(docs, MinHashConfig())
    return band_signature_rows(sh, MinHashConfig())


def q_simhash_signatures(spark, sf_dir):
    """The SimHash kernel value-for-value (VERDICT r5 #3): 64-bit
    per-bit majority vote over the doc's shingle hashes
    (functions/udfs.with_simhash — unpackbits + reduceat votes, ties
    set the bit). The oracle replays the vote in SQL over the same
    DuckDB-recomputed shingle hashes."""
    from minhash_rs_spark.functions.udfs import shingle_sets, with_simhash

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.coalesce("text", F.lit("")).alias("doc_text"))
    sh = shingle_sets(docs, MinHashConfig())
    sig = with_simhash(sh.select("conv_id", "n_shingles", "shingles"),
                       "shingles", "simhash")
    return sig.select(F.col("conv_id").cast("long").alias("doc_id"),
                      F.col("n_shingles").cast("long").alias("n_shingles"),
                      "simhash")


def q_minhash_clusters(spark, sf_dir):
    from minhash_rs_spark.pipeline import run_minhash

    turns = _synth_turns(spark, sf_dir)
    res = run_minhash(spark, turns, MinHashConfig())
    return res.assignments.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cc_id").cast("long").alias("cc_id"),
        F.col("cc_size").cast("long").alias("cc_size"),
        F.col("cc_idx").cast("long").alias("cc_idx"))


def q_minhash_clusters_verified(spark, sf_dir):
    from minhash_rs_spark.pipeline import run_minhash

    turns = _synth_turns(spark, sf_dir)
    res = run_minhash(spark, turns, MinHashConfig(jaccard_threshold=0.8))
    return res.assignments.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cc_id").cast("long").alias("cc_id"),
        F.col("cc_size").cast("long").alias("cc_size"),
        F.col("cc_idx").cast("long").alias("cc_idx"))


def q_simhash_clusters(spark, sf_dir):
    from minhash_rs_spark.functions.udfs import shingle_sets
    from minhash_rs_spark.operators.annotate import cluster_assignments
    from minhash_rs_spark.operators.doc_assembly import assemble_documents
    from minhash_rs_spark.operators.simhash import simhash_cc

    turns = _synth_turns(spark, sf_dir)
    docs = assemble_documents(turns)
    sh = shingle_sets(docs, MinHashConfig())
    cc = simhash_cc(sh, hamming_threshold=3)
    return cluster_assignments(docs, cc).select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cc_id").cast("long").alias("cc_id"),
        F.col("cc_size").cast("long").alias("cc_size"),
        F.col("cc_idx").cast("long").alias("cc_idx"))


def q_true_jaccard_pairs(spark, sf_dir):
    """The reference's `true-jacc` analytics (src/main.rs:1573-1677):
    exact shingle-Jaccard for every intra-cluster pair of the minhash
    clustering. Hash-matched since round 6 (the UHUGEINT kernel twins
    replay the shingle chain in DuckDB SQL)."""
    from minhash_rs_spark.functions.udfs import shingle_sets_from_tokens
    from minhash_rs_spark.operators.annotate import cluster_assignments
    from minhash_rs_spark.operators.doc_assembly import assemble_token_docs
    from minhash_rs_spark.operators.verify import intra_cluster_jaccards
    from minhash_rs_spark.pipeline import run_minhash

    turns = _synth_turns(spark, sf_dir)
    res = run_minhash(spark, turns, MinHashConfig())
    tok_docs = assemble_token_docs(turns)
    sh = shingle_sets_from_tokens(tok_docs, MinHashConfig())
    tj = intra_cluster_jaccards(res.assignments, sh)
    return tj.select(F.col("cc_id").cast("long").alias("cc_id"),
                     F.col("conv_id_a").cast("long").alias("conv_id_a"),
                     F.col("conv_id_b").cast("long").alias("conv_id_b"),
                     F.round("jaccard", 6).alias("jaccard_r"))


def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation over the events stream table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select("hour", "event_type", "n_events",
                    F.col("n_users").cast("long").alias("n_users"),
                    "sum_value"))


def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) — the batch analog of
    streaming session windows: per user, count sessions and events."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts arrives as TIMESTAMP_NTZ in Spark 4; route the epoch
    # conversion through TIMESTAMP (session tz = UTC)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (ev.withColumn("_new", new_session)
            .withColumn("session_id", F.sum("_new").over(w)))
    return (sess.groupBy("user_id")
            .agg(F.max("session_id").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events"))
            .select(F.col("user_id").cast("long").alias("user_id"),
                    F.col("n_sessions").cast("long").alias("n_sessions"),
                    "n_events"))


def q_media_features(spark, sf_dir):
    from minhash_rs_spark.operators.multimodal import attach_fake_payload, decode_media

    media = attach_fake_payload(_docs(spark, sf_dir))
    return decode_media(media, dim=8).select("media_id", "mime", "payload_sha")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full MinHash fuzzy-dedup clustering at sf0.001."""
    return q_minhash_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_survivors": q_exact_dedup_survivors,
        "exact_dup_annotate": q_exact_dup_annotate,
        "dup_aware_subsample": q_dup_aware_subsample,
        "token_stats": q_token_stats,
        "quality_stats": q_quality_stats,
        "lang_guess": q_lang_guess,
        "fingerprint": q_fingerprint,
        "repetition_stats": q_repetition_stats,
        "pii_scrub": q_pii_scrub,
        "doc_assembly_roundtrip": q_doc_assembly_roundtrip,
        "containment_pairs": q_containment_pairs,
        "cc_size_histogram": q_cc_size_histogram,
        "word_jaccard_pairs": q_word_jaccard_pairs,
        "decontam_ngram": q_decontam_ngram,
        "incremental_exact_dedup": q_incremental_exact_dedup,
        "incremental_band_dedup": q_incremental_band_dedup,
        "incremental_minhash_dedup": q_incremental_minhash_dedup,
        "shingle_jaccard_pairs": q_shingle_jaccard_pairs,
        "cc_stride_clusters": q_cc_stride_clusters,
        "bpe_token_count": q_bpe_token_count,
        "embedding_topk": q_embedding_topk,
        "embedding_lsh_topk": q_embedding_lsh_topk,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "streaming_exact_dedup": q_streaming_exact_dedup,
        # signature-kernel queries: hash-matched since round 6 via the
        # oracle_sql.py DuckDB integer-kernel twins
        "minhash_signatures": q_minhash_signatures,
        "simhash_signatures": q_simhash_signatures,
        "minhash_clusters": q_minhash_clusters,
        "simhash_clusters": q_simhash_clusters,
        # rows-only (float32-sign / streaming-state nondeterminism)
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "streaming_band_dedup": q_streaming_band_dedup,
        # hash-matched since round 6 via the same kernel twins
        "minhash_clusters_verified": q_minhash_clusters_verified,
        "true_jaccard_pairs": q_true_jaccard_pairs,
        "media_features": q_media_features,
        "events_hourly": q_events_hourly,
        "event_sessions": q_event_sessions,
    }


# --------------------------------------------------------------------------
# DuckDB oracles (ANSI SQL on the pre-registered parquet views)
# --------------------------------------------------------------------------

_NORM = ("trim(regexp_replace(translate(lower(coalesce(text,'')), "
         "'" + _PUNCT.replace("'", "''") + "', ''), '\\s+', ' '))")

_TOKENS = ("list_filter(regexp_split_to_array(lower(coalesce(text,'')), "
           "'\\s+'), x -> x != '')")

_PAD = "' ' || lower(coalesce(text,'')) || ' '"


def _cnt(needle: str) -> str:
    pad = _PAD
    return (f"CAST((length({pad}) - length(replace({pad}, '{needle}', '')))"
            f" / {len(needle)} AS BIGINT)")


_LANG_PROBES = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " das ", " ist "],
    "fr": [" le ", " la ", " et ", " les ", " est "],
    "es": [" el ", " la ", " y ", " los ", " es "],
}


def _lang_sql() -> str:
    sums = {lang: " + ".join(_cnt(w) for w in probes)
            for lang, probes in _LANG_PROBES.items()}
    hits = ", ".join(f"({sums[lang]}) AS hits_{lang}" for lang in sums)
    best = "greatest(hits_en, hits_de, hits_fr, hits_es)"
    case = (f"CASE WHEN {best} = 0 THEN 'und' "
            + " ".join(f"WHEN hits_{lang} = {best} THEN '{lang}'"
                       for lang in ("en", "de", "fr", "es"))
            + " ELSE 'und' END")
    return f"""
        SELECT doc_id, {case} AS lang_guess, hits_en, hits_de, hits_fr, hits_es
        FROM (SELECT doc_id, {hits} FROM documents)
    """


def _sig_chain_ctes() -> str:
    """Shared oracle CTE chain: docs_o(did, dt) -> per-doc DISTINCT
    shingle rows `shd(did, sv)` and per-permutation minima `mins` —
    the DuckDB twin of the engine's signature kernel (oracle_sql.py:
    words tokenize -> xxhash64 -> rolling-poly n=5 + mix64 with
    short-doc fallback -> DISTINCT -> u128 halves -> 112 top-64
    multiply-shift minima). Callers prepend a docs_o definition and
    append band/simhash/cluster selects."""
    hhi, hlo = OSQL.shingle_u128_exprs("sv")
    mins = ",\n           ".join(OSQL.perm_min_exprs(0, 14, 8))
    return f"""
            toks AS (SELECT did, {OSQL.tokens_expr('dt')} AS t FROM docs_o),
            tw AS (SELECT did, CAST(u.i AS BIGINT) AS tpos,
                          t[CAST(u.i AS INTEGER)] AS w
                   FROM toks, UNNEST(range(1, len(t)+1)) AS u(i)),
            {OSQL.xxh64_ctes('tw', 'did, tpos', 'w').lstrip()},
            thl0 AS (SELECT did, list(h ORDER BY tpos) AS th
                     FROM xh GROUP BY did),
            thl AS (SELECT d.did, coalesce(t.th, []) AS th
                    FROM docs_o d LEFT JOIN thl0 t USING (did)),
            shl AS (SELECT did, {OSQL.shingle_list('th', 5)} AS s FROM thl),
            shd AS MATERIALIZED (
                    SELECT DISTINCT did, CAST(u.sv AS UBIGINT) AS sv
                    FROM shl, UNNEST(s) AS u(sv)),
            hu AS (SELECT did, {hhi} AS hhi, {hlo} AS hlo FROM shd),
            mins AS MATERIALIZED (
                    SELECT did, {mins} FROM hu GROUP BY did)"""


_SYNTH_DOCS_O = """
            docs_o AS (
              SELECT conv_id AS did,
                     string_agg(text, chr(10) ORDER BY turn_idx) AS dt
              FROM syn GROUP BY conv_id)"""


def _cc_parts(edges_cte: str) -> str:
    """CTEs for recursive min-label CC over a directed edge CTE
    `{edges_cte}(src, dst)` and node set docs_o(did), ending at
    asg(did, cc): cc = min member (VARCHAR order — conv_ids are strings
    in the engine), singletons self-labeled."""
    return f"""
            sym AS MATERIALIZED (
                    SELECT src, dst FROM {edges_cte}
                    UNION SELECT dst, src FROM {edges_cte}),
            nodes AS (SELECT DISTINCT src AS id FROM sym),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, sym.dst FROM reach
                JOIN sym ON reach.r = sym.src),
            lbl AS (SELECT id, min(r) AS cc FROM reach GROUP BY id),
            asg AS MATERIALIZED (
                    SELECT d.did, coalesce(l.cc, d.did) AS cc
                    FROM docs_o d LEFT JOIN lbl l ON l.id = d.did)"""


def _cc_assign_sql(edges_cte: str) -> str:
    """_cc_parts + the cluster_assignments output contract: cc_size by
    count, cc_idx = row_number within component ordered by did (the
    engine's window / distributed two-phase ordinal,
    operators/annotate.py)."""
    return f"""
            {_cc_parts(edges_cte)}
            SELECT CAST(did AS BIGINT) AS doc_id,
                   CAST(cc AS BIGINT) AS cc_id,
                   CAST(count(*) OVER (PARTITION BY cc) AS BIGINT)
                     AS cc_size,
                   CAST(row_number() OVER (PARTITION BY cc ORDER BY did)
                        - 1 AS BIGINT) AS cc_idx
            FROM asg"""


def _pii_sql() -> str:
    """Oracle twin of q_pii_scrub: identical planted text (built with
    the same CASE/lpad arithmetic), identical Java/RE2 common-subset
    patterns (operators/pii.py PII_PATTERNS), counts via
    len(regexp_extract_all), sequential redaction in the same fixed
    order, md5 of the result."""
    from minhash_rs_spark.operators.pii import PII_PATTERNS

    planted = """
            SELECT doc_id,
                   coalesce(text, '')
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com now' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' ssn 123-45-6789 noted' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' call 415-555-'
                                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                             THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                                  || ' up' ELSE '' END AS t
            FROM documents"""
    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{k}"
        for k, (pat, _) in PII_PATTERNS.items())
    total = " + ".join(f"len(regexp_extract_all(t, '{pat}'))"
                       for pat, _ in PII_PATTERNS.values())
    red = "t"
    for pat, tag in PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return f"""
            SELECT doc_id,
                   {counts},
                   CAST({total} AS BIGINT) AS n_pii,
                   md5({red}) AS redacted_md5
            FROM ({planted})
        """


def _repetition_sql(ns: tuple = (2, 3, 4)) -> str:
    """Oracle twin of textstats.repetition_stats: word n-grams WITH
    multiplicity; top gram = max count, ties broken by lexicographically
    smallest gram (unnest + group + window argmax replays the engine's
    sorted-array run-length fold); exact BIGINT micro-unit ratios via
    `//`. CTEs MATERIALIZED — DuckDB 1.0 inlines references otherwise."""
    ctes, cols = [], []
    for n in ns:
        ctes.append(f"""
            g{n} AS MATERIALIZED (
              SELECT doc_id,
                     CASE WHEN len(l) >= {n}
                          THEN list_transform(
                                 range(1, len(l) - {n - 2}),
                                 i -> array_to_string(
                                        list_slice(l, i, i + {n - 1}), ' '))
                          ELSE [] END AS grams
              FROM base),
            t{n} AS MATERIALIZED (
              SELECT doc_id, c AS cnt,
                     CAST(length(gram) AS BIGINT) AS glen
              FROM (SELECT doc_id, gram, c,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY c DESC, gram ASC) AS rn
                    FROM (SELECT doc_id, gram, count(*) AS c
                          FROM (SELECT doc_id, unnest(grams) AS gram
                                FROM g{n})
                          GROUP BY doc_id, gram))
              WHERE rn = 1),
            d{n} AS MATERIALIZED (
              SELECT doc_id,
                     CAST(len(grams) AS BIGINT) AS ng,
                     CAST(len(list_distinct(grams)) AS BIGINT) AS nd
              FROM g{n})""")
        cols.append(f"""
                   CAST(coalesce(t{n}.cnt, 0) AS BIGINT) AS top{n}gram_count,
                   (coalesce(t{n}.cnt, 0) * coalesce(t{n}.glen, 0) * 1000000)
                     // greatest(b.nc, 1) AS top{n}gram_frac_e6,
                   ((d{n}.ng - d{n}.nd) * 1000000)
                     // greatest(d{n}.ng, 1) AS dup{n}gram_frac_e6""")
    joins = "\n".join(
        f"            LEFT JOIN t{n} ON t{n}.doc_id = b.doc_id\n"
        f"            JOIN d{n} ON d{n}.doc_id = b.doc_id" for n in ns)
    return f"""
            WITH base AS MATERIALIZED (
              SELECT doc_id, l,
                     CAST(length(array_to_string(l, ' ')) AS BIGINT) AS nc
              FROM (SELECT doc_id, {_TOKENS} AS l FROM documents)),
            {','.join(ctes)}
            SELECT b.doc_id,
                   CAST(len(b.l) AS BIGINT) AS n_words,
                   {','.join(cols)}
            FROM base b
{joins}
        """


def _stride_pairs_sql() -> str:
    """The verify-kernel anchor's oracle body (string-shingle exact
    Jaccard over the stride pair set), factored out so the CC anchor
    oracle (`cc_stride_clusters`) reuses the identical pair computation
    as a CTE."""
    return f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(str_split({_NORM}, ' '), x -> x != '') AS t
              FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 5
                          THEN list_distinct(list_transform(
                                 range(1, len(t) - 3),
                                 i -> array_to_string(
                                        list_slice(t, i, i + 4), ' ')))
                          ELSE [array_to_string(t, ' ')] END AS s
              FROM toks)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
                   CAST(len(a.s) + len(b.s)
                        - len(list_intersect(a.s, b.s)) AS BIGINT) AS n_union,
                   CASE WHEN len(a.s) + len(b.s)
                             - len(list_intersect(a.s, b.s)) = 0
                        THEN CAST(1000000 AS BIGINT)
                        ELSE CAST(len(list_intersect(a.s, b.s)) AS BIGINT)
                             * 1000000
                             // CAST(len(a.s) + len(b.s)
                                 - len(list_intersect(a.s, b.s)) AS BIGINT)
                   END AS jac_e6
            FROM sh a JOIN sh b
              ON b.doc_id - a.doc_id IN {tuple(_STRIDES)}
    """


def oracle_sql() -> dict[str, str]:
    stop_hits = " + ".join(_cnt(w) for w in _LANG_PROBES["en"])
    return {
        "exact_dedup_survivors": """
            SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (
                  PARTITION BY coalesce(text,'') ORDER BY doc_id) AS rn
              FROM documents) WHERE rn = 1 ORDER BY doc_id
        """,
        "exact_dup_annotate": """
            SELECT doc_id,
                   min(doc_id) OVER w AS cc_id,
                   count(*) OVER w AS cc_size,
                   CAST(row_number() OVER (
                       PARTITION BY coalesce(text,'') ORDER BY doc_id) - 1
                     AS BIGINT) AS cc_idx
            FROM documents
            WINDOW w AS (PARTITION BY coalesce(text,''))
        """,
        "dup_aware_subsample": """
            WITH asg AS (
              SELECT doc_id,
                     min(doc_id) OVER w AS cc_id,
                     count(*) OVER w AS cc_size
              FROM documents
              WINDOW w AS (PARTITION BY coalesce(text,''))
            )
            SELECT doc_id, cc_id FROM asg
            WHERE cc_size <= 8
              AND CAST(((cc_id + 0) * 2654435761 + 0) % 1000000007 AS DOUBLE)
                  / 1000000007.0 < 0.5
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST(len(l) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(l)) AS BIGINT) AS n_unique_tokens,
                   round(CAST(coalesce(list_sum(list_transform(l, x -> length(x))), 0)
                              AS DOUBLE) / greatest(len(l), 1), 6) AS avg_token_len
            FROM (SELECT doc_id, {_TOKENS} AS l FROM documents)
        """,
        "quality_stats": f"""
            SELECT doc_id,
                   n AS n_chars_q,
                   n_tokens,
                   (n_spaces*1000000) // greatest(n,1) AS space_ratio_e6,
                   (n_digits*1000000) // greatest(n,1) AS digit_ratio_e6,
                   (stop_hits*1000000) // greatest(n_tokens,1) AS stopword_density_e6,
                   (least(1000000, n*2000)*4) // 10
                   + ((1000000 - (n_digits*1000000) // greatest(n,1))*3) // 10
                   + (least(1000000, ((stop_hits*1000000) // greatest(n_tokens,1))*5)*3) // 10
                     AS quality_score_e6
            FROM (
              SELECT doc_id,
                     CAST(length(coalesce(text,'')) AS BIGINT) AS n,
                     CAST(length(coalesce(text,''))
                          - length(replace(coalesce(text,''), ' ', '')) AS BIGINT) AS n_spaces,
                     CAST(length(coalesce(text,''))
                          - length(regexp_replace(coalesce(text,''), '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
                     CAST({stop_hits} AS BIGINT) AS stop_hits,
                     CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
              FROM documents)
        """,
        "lang_guess": _lang_sql(),
        "repetition_stats": _repetition_sql(),
        "pii_scrub": _pii_sql(),
        "fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       [CAST(ascii(x) AS BIGINT) for x in str_split(lower(coalesce(text,'')), '')]),
                     (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint,
                   CAST(length(coalesce(text,'')) AS BIGINT) AS fp_len
            FROM documents
        """,
        "doc_assembly_roundtrip": f"""
            SELECT CAST(conv_id AS BIGINT) AS doc_id,
                   string_agg(text, chr(10) ORDER BY turn_idx) AS doc_text,
                   CAST(count(*) AS BIGINT) AS n_turns
            FROM ({_SYNTH_TURNS_SQL}) GROUP BY conv_id
        """,
        "containment_pairs": f"""
            WITH norm AS (
              SELECT doc_id, {_NORM} AS nt FROM documents
            )
            SELECT a.doc_id AS contained_id, b.doc_id AS container_id
            FROM norm a JOIN norm b
              ON a.doc_id != b.doc_id
             AND a.nt != ''
             AND length(a.nt) <= length(b.nt)
             AND position(a.nt IN b.nt) > 0
        """,
        "cc_size_histogram": """
            WITH asg AS (
              SELECT count(*) OVER (PARTITION BY coalesce(text,'')) AS cc_size,
                     min(doc_id) OVER (PARTITION BY coalesce(text,'')) AS cc_id
              FROM documents)
            SELECT cc_size,
                   CAST(count(DISTINCT cc_id) AS BIGINT) AS n_clusters,
                   count(*) AS n_docs
            FROM asg GROUP BY cc_size
        """,
        "word_jaccard_pairs": f"""
            WITH ws AS (
              SELECT doc_id AS doc, list_distinct({_TOKENS}) AS words
              FROM documents),
            posts AS (
              SELECT doc, unnest(words) AS word FROM ws),
            rare AS (
              SELECT word FROM posts GROUP BY word
              HAVING count(*) BETWEEN 2 AND 50),
            cand AS (
              SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
              FROM (SELECT p.* FROM posts p JOIN rare r USING (word)) a
              JOIN (SELECT p.* FROM posts p JOIN rare r USING (word)) b
                USING (word)
              WHERE a.doc < b.doc)
            SELECT doc_a, doc_b,
                   CAST(len(list_intersect(wa.words, wb.words)) AS BIGINT) AS n_common,
                   (CAST(len(list_intersect(wa.words, wb.words)) AS BIGINT) * 1000000)
                     // greatest(CAST(len(wa.words) + len(wb.words)
                                      - len(list_intersect(wa.words, wb.words)) AS BIGINT), 1)
                     AS jaccard_e6
            FROM cand
            JOIN ws wa ON wa.doc = cand.doc_a
            JOIN ws wb ON wb.doc = cand.doc_b
            WHERE (CAST(len(list_intersect(wa.words, wb.words)) AS BIGINT) * 1000000)
                  // greatest(CAST(len(wa.words) + len(wb.words)
                                   - len(list_intersect(wa.words, wb.words)) AS BIGINT), 1)
                  >= 200000
        """,
        "incremental_exact_dedup": """
            SELECT n.doc_id,
                   EXISTS (SELECT 1 FROM documents o
                           WHERE (o.doc_id % 2 = 0 OR o.doc_id % 10 = 1)
                             AND o.text IS NOT DISTINCT FROM n.text)
                     AS dup_of_old
            FROM documents n WHERE n.doc_id % 2 = 1
        """,
        "decontam_ngram": f"""
            WITH corpus AS (
              SELECT doc_id, {_TOKENS} AS w
              FROM documents WHERE doc_id % 20 <> 0),
            bench AS (
              SELECT {_TOKENS} AS w
              FROM documents WHERE doc_id % 20 = 0),
            corpus_sh AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS sh
              FROM corpus, UNNEST(range(1, len(w) - 2)) AS t(i)
              WHERE len(w) >= 4),
            totals AS (
              SELECT doc_id, count(*) AS n_shingles
              FROM corpus_sh GROUP BY doc_id),
            bench_sh AS (
              SELECT DISTINCT array_to_string(w[i:i+3], ' ') AS sh
              FROM bench, UNNEST(range(1, len(w) - 2)) AS t(i)
              WHERE len(w) >= 4),
            hits AS (
              SELECT doc_id, count(*) AS n_hits
              FROM corpus_sh JOIN bench_sh USING (sh) GROUP BY doc_id)
            SELECT c.doc_id,
                   CAST(coalesce(t.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(CASE WHEN coalesce(t.n_shingles, 0) = 0 THEN 0
                        ELSE coalesce(h.n_hits, 0) * 1000000 // t.n_shingles
                        END AS BIGINT) AS contam_frac_e6,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM corpus c
            LEFT JOIN totals t USING (doc_id)
            LEFT JOIN hits h USING (doc_id)
        """,
        "incremental_band_dedup": f"""
            WITH docs_o AS (SELECT CAST(doc_id AS VARCHAR) AS did,
                                   coalesce(text, '') AS dt
                            FROM documents),
            {_sig_chain_ctes()},
            bands AS MATERIALIZED ({OSQL.band_sig_select(14, 8, key='did')}),
            old_b AS (SELECT band_id, sig_hi, sig_lo, min(did) AS rep
                      FROM bands WHERE CAST(did AS BIGINT) % 2 = 0
                      GROUP BY 1, 2, 3),
            hits AS (SELECT b.did, o.rep
                     FROM bands b
                     JOIN old_b o USING (band_id, sig_hi, sig_lo)
                     WHERE CAST(b.did AS BIGINT) % 2 = 1)
            SELECT CAST(did AS BIGINT) AS doc_id,
                   CAST(min(rep) AS BIGINT) AS matched_old,
                   CAST(count(*) AS BIGINT) AS n_band_hits
            FROM hits GROUP BY did
        """,
        "incremental_minhash_dedup": f"""
            WITH docs_o AS (SELECT CAST(doc_id AS VARCHAR) AS did,
                                   coalesce(text, '') AS dt
                            FROM documents),
            {_sig_chain_ctes()},
            bands AS MATERIALIZED ({OSQL.band_sig_select(14, 8, key='did')}),
            old_mem AS (SELECT band_id, sig_hi, sig_lo, did FROM (
                          SELECT band_id, sig_hi, sig_lo, did,
                                 row_number() OVER (
                                   PARTITION BY band_id, sig_hi, sig_lo
                                   ORDER BY did) AS rn
                          FROM bands WHERE CAST(did AS BIGINT) % 2 = 0)
                        WHERE rn <= 8),
            cand AS MATERIALIZED (
                     SELECT b.did AS src, m.did AS dst, count(*) AS nbh
                     FROM bands b
                     JOIN old_mem m USING (band_id, sig_hi, sig_lo)
                     WHERE CAST(b.did AS BIGINT) % 2 = 1
                     GROUP BY 1, 2),
            cnts AS MATERIALIZED (SELECT did, count(*) AS n
                                  FROM shd GROUP BY did),
            ints AS MATERIALIZED (
                     SELECT c.src, c.dst, count(*) AS ni
                     FROM cand c
                     JOIN shd s1 ON s1.did = c.src
                     JOIN shd s2 ON s2.did = c.dst AND s2.sv = s1.sv
                     GROUP BY 1, 2),
            qual AS (SELECT * FROM (
                       SELECT c.src, c.dst, c.nbh,
                              CAST(coalesce(i.ni, 0) AS DOUBLE)
                              / (ca.n + cb.n - coalesce(i.ni, 0)) AS j
                       FROM cand c
                       JOIN cnts ca ON ca.did = c.src
                       JOIN cnts cb ON cb.did = c.dst
                       LEFT JOIN ints i ON i.src = c.src
                                       AND i.dst = c.dst)
                     WHERE j >= 0.5),
            best AS (SELECT src, dst, nbh, j, row_number() OVER (
                       PARTITION BY src ORDER BY j DESC, dst) AS rn
                     FROM qual)
            SELECT CAST(src AS BIGINT) AS doc_id,
                   CAST(dst AS BIGINT) AS matched_old,
                   CAST(nbh AS BIGINT) AS n_band_hits,
                   round(j, 6) AS jaccard_r
            FROM best WHERE rn = 1
        """,
        "minhash_signatures": f"""
            WITH syn AS ({_SYNTH_TURNS_SQL}),
            {_SYNTH_DOCS_O},
            {_sig_chain_ctes()}
            SELECT did AS conv_id, band_id, sig_hi, sig_lo
            FROM ({OSQL.band_sig_select(14, 8, key='did')})
        """,
        "simhash_signatures": f"""
            WITH docs_o AS (SELECT doc_id AS did, coalesce(text, '') AS dt
                            FROM documents),
            {_sig_chain_ctes()}
            SELECT did AS doc_id, n_shingles, simhash
            FROM ({OSQL.simhash_select('shd', key='did')})
        """,
        "simhash_clusters": f"""
            WITH RECURSIVE syn AS ({_SYNTH_TURNS_SQL}),
            {_SYNTH_DOCS_O},
            {_sig_chain_ctes()},
            sims AS MATERIALIZED ({OSQL.simhash_select('shd', key='did')}),
            e AS (SELECT a.did AS src, b.did AS dst
                  FROM sims a JOIN sims b
                    ON a.did < b.did
                   AND bit_count(xor(a.simhash, b.simhash)) <= 3),
            {_cc_assign_sql('e')}
        """,
        "minhash_clusters": f"""
            WITH RECURSIVE syn AS ({_SYNTH_TURNS_SQL}),
            {_SYNTH_DOCS_O},
            {_sig_chain_ctes()},
            bands AS MATERIALIZED ({OSQL.band_sig_select(14, 8, key='did')}),
            grp AS (SELECT band_id, sig_hi, sig_lo,
                           min(did) AS rep, count(*) AS cnt
                    FROM bands GROUP BY 1, 2, 3),
            e AS MATERIALIZED (SELECT b.did AS src, g.rep AS dst
                  FROM bands b
                  JOIN grp g USING (band_id, sig_hi, sig_lo)
                  WHERE g.cnt > 1 AND b.did <> g.rep),
            {_cc_assign_sql('e')}
        """,
        "minhash_clusters_verified": f"""
            WITH RECURSIVE syn AS ({_SYNTH_TURNS_SQL}),
            {_SYNTH_DOCS_O},
            {_sig_chain_ctes()},
            bands AS MATERIALIZED ({OSQL.band_sig_select(14, 8, key='did')}),
            cand AS MATERIALIZED (
                     SELECT DISTINCT b1.did AS src, b2.did AS dst
                     FROM bands b1
                     JOIN bands b2 USING (band_id, sig_hi, sig_lo)
                     WHERE b1.did < b2.did),
            cnts AS MATERIALIZED (SELECT did, count(*) AS n FROM shd GROUP BY did),
            ints AS MATERIALIZED (
                     SELECT s1.did AS src, s2.did AS dst,
                            count(*) AS ni
                     FROM shd s1 JOIN shd s2 ON s1.sv = s2.sv
                                            AND s1.did < s2.did
                     GROUP BY 1, 2),
            e AS MATERIALIZED (SELECT c.src, c.dst
                  FROM cand c
                  JOIN cnts ca ON ca.did = c.src
                  JOIN cnts cb ON cb.did = c.dst
                  JOIN ints i ON i.src = c.src AND i.dst = c.dst
                  WHERE CAST(i.ni AS DOUBLE)
                        / (ca.n + cb.n - i.ni) >= 0.8),
            {_cc_assign_sql('e')}
        """,
        "true_jaccard_pairs": f"""
            WITH RECURSIVE syn AS ({_SYNTH_TURNS_SQL}),
            {_SYNTH_DOCS_O},
            {_sig_chain_ctes()},
            bands AS MATERIALIZED ({OSQL.band_sig_select(14, 8, key='did')}),
            grp AS (SELECT band_id, sig_hi, sig_lo,
                           min(did) AS rep, count(*) AS cnt
                    FROM bands GROUP BY 1, 2, 3),
            e AS MATERIALIZED (SELECT b.did AS src, g.rep AS dst
                  FROM bands b
                  JOIN grp g USING (band_id, sig_hi, sig_lo)
                  WHERE g.cnt > 1 AND b.did <> g.rep),
            {_cc_parts('e')},
            m AS MATERIALIZED (SELECT did, cc FROM asg
                  WHERE cc IN (SELECT cc FROM asg
                               GROUP BY cc HAVING count(*) > 1)),
            cnts AS MATERIALIZED (SELECT did, count(*) AS n FROM shd GROUP BY did),
            prs AS (SELECT x.cc, x.did AS da, y.did AS db
                    FROM m x JOIN m y ON x.cc = y.cc AND x.did < y.did),
            ints AS MATERIALIZED (
                     SELECT s1.did AS da, s2.did AS db, count(*) AS ni
                     FROM shd s1 JOIN shd s2 ON s1.sv = s2.sv
                                            AND s1.did < s2.did
                     GROUP BY 1, 2)
            SELECT CAST(p.cc AS BIGINT) AS cc_id,
                   CAST(p.da AS BIGINT) AS conv_id_a,
                   CAST(p.db AS BIGINT) AS conv_id_b,
                   round(CAST(coalesce(i.ni, 0) AS DOUBLE)
                         / (ca.n + cb.n - coalesce(i.ni, 0)), 6)
                     AS jaccard_r
            FROM prs p
            JOIN cnts ca ON ca.did = p.da
            JOIN cnts cb ON cb.did = p.db
            LEFT JOIN ints i ON i.da = p.da AND i.db = p.db
        """,
        "shingle_jaccard_pairs": _stride_pairs_sql(),
        "cc_stride_clusters": f"""
            WITH RECURSIVE pairs AS ({_stride_pairs_sql()}),
            ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
            e1 AS (
              SELECT a.id AS src, b.id AS dst FROM ids a
                JOIN ids b ON b.id = 2 * a.id WHERE a.id >= 1
              UNION ALL
              SELECT a.id AS src, b.id AS dst FROM ids a
                JOIN ids b ON b.id = 3 * a.id WHERE a.id >= 1),
            e2 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   WHERE n_inter > 0),
            sym AS (SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2
                    UNION SELECT dst, src FROM e1
                    UNION SELECT dst, src FROM e2),
            nodes AS (SELECT DISTINCT src AS id FROM sym),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, sym.dst FROM reach
                JOIN sym ON reach.r = sym.src),
            lbl AS (SELECT id AS doc_id, min(r) AS cc_id
                    FROM reach GROUP BY id)
            SELECT doc_id, cc_id,
                   CAST(count(*) OVER (PARTITION BY cc_id) AS BIGINT)
                     AS cc_size
            FROM lbl
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(coalesce(text,''),
                        '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "event_sessions": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR CAST(floor(epoch(ts)) AS BIGINT)
                               - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS session_id
              FROM g)
            SELECT user_id,
                   CAST(max(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "embedding_topk": """
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                c.vec_id) AS rank
              FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
              WHERE q.vec_id % 50 = 0)
            WHERE rank <= 5
        """,
        "embedding_ivf_topk": """
            WITH cents AS (
              SELECT vec_id AS cell_id, embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 16),
            asg AS MATERIALIZED (
              SELECT vec_id, cell_id FROM (
                SELECT e.vec_id, c.cell_id, row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.embedding, c.cv)
                               DESC, c.cell_id) AS rn
                FROM embeddings e, cents c)
              WHERE rn = 1),
            probes AS (
              SELECT query_id, cell_id FROM (
                SELECT q.vec_id AS query_id, c.cell_id, row_number() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.embedding, c.cv)
                               DESC, c.cell_id) AS rn
                FROM embeddings q, cents c WHERE q.vec_id % 50 = 0)
              WHERE rn <= 4)
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_cosine_similarity(
                                  qe.embedding, ne.embedding) DESC,
                                a.vec_id) AS rank
              FROM probes p
              JOIN asg a ON a.cell_id = p.cell_id
              JOIN embeddings qe ON qe.vec_id = p.query_id
              JOIN embeddings ne ON ne.vec_id = a.vec_id
              WHERE a.vec_id != p.query_id)
            WHERE rank <= 5
        """,
        "embedding_near_dup_pairs": """
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        """,
        "streaming_exact_dedup": """
            SELECT md5(text_n) AS text_md5
            FROM (SELECT DISTINCT coalesce(text, '') AS text_n
                  FROM documents)
        """,
        "embedding_lsh_topk": """
            WITH b AS (
              SELECT vec_id, embedding,
                     (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END
                    + CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
              FROM embeddings)
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                c.vec_id) AS rank
              FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
              WHERE q.vec_id % 50 = 0)
            WHERE rank <= 5
        """,
        # payload is the doc's UTF-8 bytes and payload_sha a sha256
        # prefix -- both ANSI-expressible, so this is a real hash gate
        # on the multimodal plumbing (id/mime/payload routing)
        "media_features": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CASE CAST(doc_id % 3 AS INTEGER)
                     WHEN 0 THEN 'image/png'
                     WHEN 1 THEN 'audio/wav'
                     ELSE 'video/mp4' END AS mime,
                   substr(sha256(coalesce(text, '')), 1, 16) AS payload_sha
            FROM documents
        """,
    }
