"""End-to-end fuzzy-dedup pipeline — the Spark re-expression of the
reference's `min-hash` entry point (/root/reference/src/main.rs:1684-1701,
lifecycle in SURVEY.md §3.1).

Stage graph (each optionally checkpointed + manifested, SURVEY §7.5):

  turns ──assemble(G1)──► docs(conv_id, doc_text)
        ──shingle(P1-P3)──► shingles(conv_id, array<long>)      [UDF 1]
        ──minhash+band(H1-H5)──► sigs(conv_id, band_id, sig)    [UDF 2]
        ──LSH bucket(G2) + star edges(J1)──► edges(src, dst)
        ──exact-Jaccard verify(J6, optional)──► verified edges  [UDF 3]
        ──large-star/small-star CC(C1-C4)──► cc(conv_id, cc_id)
        ──stats(G5/G8) + singletons(C3)──► assignments
        ──annotate(J3) | prune(J2/G7)──► output turns table
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minhash_rs_spark.config import MinHashConfig
from minhash_rs_spark.functions.udfs import (
    band_signature_rows,
    band_signature_rows_exact,
    band_signature_rows_from_tokens,
    shingle_sets,
    shingle_sets_from_tokens,
)
from minhash_rs_spark.io.checkpoint import CheckpointManager
from minhash_rs_spark.operators.annotate import (
    annotate_turns,
    cluster_assignments,
    prune_turns,
)
from minhash_rs_spark.operators.connected_components import connected_components
from minhash_rs_spark.operators.doc_assembly import (
    assemble_documents,
    assemble_token_docs,
)
from minhash_rs_spark.operators.lsh import pair_edges, star_edges
from minhash_rs_spark.operators.verify import verified_edges


@dataclass
class PipelineResult:
    """Handles to every stage output (all lazy unless checkpointed)."""
    docs: DataFrame
    shingles: DataFrame | None
    edges: DataFrame
    assignments: DataFrame
    output: DataFrame
    config: MinHashConfig
    stats: dict = field(default_factory=dict)

    def collect_stats(self) -> dict:
        """Run counters (G9, ref src/main.rs:1365-1385): docs seen /
        removed / surviving + removal rate.

        `row_complete` is the output-completeness invariant the round-5
        cc_idx bug taught us to check: the assignments table must carry
        EXACTLY one row per input conversation — a duplicate means a
        doc in two clusters, a shortfall means docs silently dropped
        (the failure mode of physical-consistency bugs that small-scale
        tests never see). Total count alone can't see an OFFSETTING
        failure (one conv duplicated while another is dropped), so the
        invariant requires BOTH the row count and the distinct-conv_id
        count to equal the input count. Four count jobs: the assignment
        rows, their distinct conv_ids and cc_ids, and the input's
        distinct conv_ids."""
        n_docs = self.assignments.count()
        n_distinct = self.assignments.select("conv_id").distinct().count()
        n_clusters = self.assignments.select("cc_id").distinct().count()
        n_input = self.docs.select("conv_id").distinct().count()
        removed = n_docs - n_clusters
        self.stats.update({
            "documents": n_docs,
            "clusters": n_clusters,
            "removed": removed,
            "removal_rate": removed / n_docs if n_docs else 0.0,
            "input_conversations": n_input,
            "distinct_conversations": n_distinct,
            "row_complete": n_docs == n_input == n_distinct,
        })
        return self.stats


# run_minhash(upto=) stage names, in pipeline order
UPTO_STAGES = ("docs", "shingles", "sigs", "edges", "verified_edges", "cc",
               "assignments")


def config_fingerprint(cfg: MinHashConfig, input_token: str = "") -> str:
    """Stage-identity fingerprint: sink-mode and sampling knobs
    (annotate_only, subsample_*) and the checkpoint location itself do
    not affect the docs/sigs/edges/cc stage outputs, so they are
    excluded — `annotate` resumes from tables `build-uf` committed."""
    d = cfg.to_dict()
    for k in ("annotate_only", "subsample_rate", "max_cc_size",
              "subsample_seed", "checkpoint_dir"):
        d.pop(k, None)
    blob = json.dumps({**d, "input": input_token}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def run_minhash(spark: SparkSession, turns: DataFrame,
                cfg: MinHashConfig | None = None,
                input_token: str = "",
                upto: str | None = None) -> PipelineResult:
    """upto: stop after materializing the named checkpoint stage
    (one of UPTO_STAGES) — the Spark analog of the reference\'s granular
    phase subcommands (hash-only/gather-edges/build-uf, README.md:84-91
    of the reference); requires cfg.checkpoint_dir so later phases
    resume from the committed tables. Downstream fields of the result
    are None. Any other name raises ValueError."""
    if upto is not None and upto not in UPTO_STAGES:
        raise ValueError(f"upto={upto!r}: expected one of "
                         f"{', '.join(UPTO_STAGES)}")
    cfg = cfg or MinHashConfig()
    if upto is not None and cfg.checkpoint_dir is None:
        raise ValueError("upto= requires cfg.checkpoint_dir (phase resume)")
    ckpt = CheckpointManager(spark, cfg.checkpoint_dir,
                             config_fingerprint(cfg, input_token))

    # Document assembly. The "words"/"uniseg" tokenizers run the whole
    # clean+tokenize+hash stage JVM-side (codegen) and ship compact
    # int64 token arrays to the numpy kernel; other tokenizer modes
    # (bytes / BPE) assemble the document string and tokenize in Python.
    jvm_tokens = cfg.tokenizer in ("words", "uniseg") and not cfg.exact_override
    if jvm_tokens:
        docs = ckpt.stage("docs", lambda: assemble_token_docs(
            turns, cfg.conv_col, cfg.order_col, cfg.text_col,
            mode=cfg.tokenizer))
    else:
        docs = ckpt.stage("docs", lambda: assemble_documents(
            turns, cfg.conv_col, cfg.order_col, cfg.text_col))
    # Persist policy (measured at 30M turns: materializing the token
    # arrays was 87% of flagship wall time): docs are persisted ONLY
    # when two expensive consumers exist (the verified JVM path feeds
    # both shingle sets and signatures). On the reference-parity path
    # docs stream straight into the signature kernel in one pass —
    # assembly output is never stored. The final assignments join needs
    # only the conversation-id SET, which comes from one cheap
    # single-column distinct over the input turns, not from docs.
    persisted = []
    docs_two_consumers = (cfg.checkpoint_dir is None and jvm_tokens
                          and cfg.jaccard_threshold is not None)
    if docs_two_consumers:
        docs = docs.persist()
        persisted.append(docs)
    doc_ids = turns.select(F.col(cfg.conv_col).alias("conv_id")).distinct()
    if upto == "docs":
        return PipelineResult(docs, None, None, None, None, cfg)

    shingles = None
    if cfg.exact_override:
        sigs = band_signature_rows_exact(docs, cfg)
    elif jvm_tokens:
        if cfg.jaccard_threshold is not None:
            shingles = ckpt.stage(
                "shingles", lambda: shingle_sets_from_tokens(docs, cfg))
            if cfg.checkpoint_dir is None:
                shingles = shingles.persist()
                persisted.append(shingles)
        sigs = band_signature_rows_from_tokens(docs, cfg)
    else:
        shingles = ckpt.stage("shingles", lambda: shingle_sets(docs, cfg))
        if cfg.checkpoint_dir is None and cfg.jaccard_threshold is not None:
            shingles = shingles.persist()
            persisted.append(shingles)
        sigs = band_signature_rows(shingles, cfg)
    if cfg.checkpoint_dir is not None:
        # persist signatures as a checkpoint table (reference phase-2
        # output layout, src/main.rs:411-429) — star_edges scans sigs
        # twice (bucket agg + join-back), and granular phase resume
        # (`hash-only` analog) needs them on disk
        _sigs_df = sigs
        sigs = ckpt.stage("sigs", lambda: _sigs_df)
    else:
        sigs = sigs.persist()
        persisted.append(sigs)
    if upto in ("sigs", "shingles"):
        return PipelineResult(docs, shingles, None, None, None, cfg)

    # Unverified (reference-parity) path: minimal star edges — CC unions
    # the whole bucket, so edge shape is irrelevant to the clustering.
    # Verified path: within-bucket pair edges (star edges anchored at an
    # outlier bucket-min would let verification disconnect true pairs).
    if cfg.jaccard_threshold is None:
        edges = ckpt.stage("edges", lambda: star_edges(sigs))
    else:
        edges = ckpt.stage("edges", lambda: pair_edges(
            sigs, pair_cap=cfg.verify_pair_cap))

    if cfg.jaccard_threshold is not None and shingles is not None:
        # max_shingles_per_doc bounds ONLY the exact-verification sets —
        # MinHash signatures are cap-invariant on every tokenizer path.
        # Shingle arrays are sorted-unique ascending, so the JVM-side
        # slice keeps the cap smallest ids: a deterministic subset, so
        # pairwise Jaccard stays a consistent estimator across docs.
        ver_shingles = shingles
        if cfg.max_shingles_per_doc is not None:
            ver_shingles = shingles.withColumn(
                "shingles",
                F.slice("shingles", 1, cfg.max_shingles_per_doc))
        edges = ckpt.stage("verified_edges", lambda: verified_edges(
            edges, ver_shingles, cfg.jaccard_threshold))

    if upto in ("edges", "verified_edges"):
        return PipelineResult(docs, shingles, edges, None, None, cfg)

    # star/pair/chain edges all emit src > dst: skip entry re-orientation
    cc = ckpt.stage("cc", lambda: connected_components(
        edges, oriented=True, distinct_input=True))
    if upto == "cc":
        return PipelineResult(docs, shingles, edges, None, None, cfg)
    # assignments need only the conversation-id set (cluster_assignments
    # reads docs.select("conv_id")) — doc_ids is a single-column
    # distinct over turns, so the assembled docs are never re-read here
    assignments = ckpt.stage("assignments",
                             lambda: cluster_assignments(doc_ids, cc))
    if cfg.checkpoint_dir is None:
        # CC eagerly materialized everything upstream (its entry
        # localCheckpoint); keep assignments resident, release the rest
        assignments = assignments.persist()
        assignments.count()
        for df in persisted:
            df.unpersist()

    if cfg.annotate_only:
        output = annotate_turns(turns, assignments, cfg.conv_col)
    else:
        output = prune_turns(turns, assignments, cfg.conv_col)

    return PipelineResult(docs=docs, shingles=shingles, edges=edges,
                          assignments=assignments, output=output, config=cfg)


def run_exact_dedup(spark: SparkSession, turns: DataFrame,
                    cfg: MinHashConfig | None = None,
                    input_token: str = "") -> PipelineResult:
    """The reference's `exact-dedup` entry point (src/exact_dedup.rs) on
    assembled conversation documents: one shuffle on the text value."""
    from minhash_rs_spark.operators.exact_dedup import exact_cc

    cfg = cfg or MinHashConfig()
    ckpt = CheckpointManager(spark, cfg.checkpoint_dir,
                             config_fingerprint(cfg, "exact:" + input_token))
    docs = ckpt.stage("docs", lambda: assemble_documents(
        turns, cfg.conv_col, cfg.order_col, cfg.text_col))
    cc = ckpt.stage("exact_cc", lambda: exact_cc(docs))
    if cfg.checkpoint_dir is None:
        # pinned once: cluster_assignments counts cc, then reads it again
        cc = cc.localCheckpoint(eager=False)
    assignments = ckpt.stage("exact_assignments",
                             lambda: cluster_assignments(docs, cc))
    output = (annotate_turns(turns, assignments, cfg.conv_col, "exact_dedup")
              if cfg.annotate_only else
              prune_turns(turns, assignments, cfg.conv_col))
    # edges for exact mode: member -> rep (not materialized separately)
    edges = assignments.where(F.col("cc_idx") > 0).select(
        F.col("conv_id").alias("src"), F.col("cc_id").alias("dst"))
    return PipelineResult(docs=docs, shingles=None, edges=edges,
                          assignments=assignments, output=output, config=cfg)
