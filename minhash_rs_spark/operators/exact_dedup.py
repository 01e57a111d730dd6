"""Exact-dedup entry point (ref: /root/reference/src/exact_dedup.rs).

The reference SipHashes each line's text_field into a DashMap and keeps
the first member of each hash bucket (exact_dedup.rs:105-115, 178-188).
Spark version is one shuffle: group documents by a 128-bit fingerprint
of their text (cc_id = min(conv_id) per group), survivor = rank-0 by
conv_id (deterministic; the reference's survivor is insertion-order
arbitrary).

Shuffle-key choice: the group/join key is the fingerprint pair
(functions/fingerprint.py — two distinct-seed xxhash64 longs, false
merge odds ~1e-14 at 10^12 docs), NOT the document text. Keying on the
text itself would put the whole corpus on the wire twice and make
every shuffle comparator touch multi-KB keys — at 100 TB the key IS
the data. A null-flag column keeps NULL and '' in separate groups
(SQL grouping semantics). Set verify_text=True to additionally assert,
inside each fingerprint group, that the texts really are identical
(one countDistinct per group — a debugging/QA mode, off by default).

Returns the same assignment shape as the minhash path, so annotate/prune
sinks are shared (annotate.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minhash_rs_spark.functions.fingerprint import fingerprint128
from minhash_rs_spark.operators.annotate import cluster_assignments


def exact_cc(docs: DataFrame, text_col: str = "doc_text",
             verify_text: bool = False) -> DataFrame:
    """(conv_id, cc_id) with cc_id = min(conv_id) among identical texts.

    groupBy(fingerprint) + join-back on the fingerprint rather than a
    window so map-side partial aggregation absorbs skew from
    mega-groups (e.g. empty documents) — same shape as lsh.star_edges.
    """
    fa, fb = fingerprint128(text_col)
    keyed = docs.select(
        "conv_id",
        fa.alias("_fa"), fb.alias("_fb"),
        F.col(text_col).isNull().alias("_fnull"),
        *([text_col] if verify_text else []))
    aggs = [F.min("conv_id").alias("cc_id")]
    if verify_text:
        aggs.append(F.count_distinct(F.col(text_col)).alias("_ntxt"))
    reps = keyed.groupBy("_fa", "_fb", "_fnull").agg(*aggs)
    if verify_text:
        bad = reps.where(F.col("_ntxt") > 1).count()
        if bad:
            raise AssertionError(
                f"exact_cc: {bad} fingerprint group(s) mix distinct texts "
                "(128-bit collision) — rerun keyed on the raw text")
        reps = reps.drop("_ntxt")
    return (keyed.join(reps, ["_fa", "_fb", "_fnull"])
            .select("conv_id", "cc_id"))


def exact_dedup_assignments(docs: DataFrame, text_col: str = "doc_text",
                            with_idx: bool = True) -> DataFrame:
    """(conv_id, cc_id, cc_size[, cc_idx]) under exact-text identity
    (output analog of the `exact_dedup` struct, exact_dedup.rs:204-210).
    with_idx=False skips the in-component ordinal (annotate.py). With
    it, exact_cc is pinned once: cluster_assignments counts it to pick
    its cc_idx plan and then reads it again."""
    cc = exact_cc(docs, text_col)
    if with_idx:
        cc = cc.localCheckpoint(eager=False)
    return cluster_assignments(docs.select("conv_id"), cc, with_idx=with_idx)
