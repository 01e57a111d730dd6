"""J6 — exact-Jaccard verification of candidate pairs.

The reference computes true Jaccard only as an offline analytics pass
over already-built components (`true-jacc`,
/root/reference/src/main.rs:1573-1677). The north rule promotes it into
the pipeline: LSH candidate edges are verified by exact Jaccard over the
documents' shingle sets BEFORE the union step, so a false-positive LSH
collision never contaminates a cluster.

Shingle sets are computed once upstream (functions/udfs.shingle_sets)
and joined to both edge endpoints; the two joins are plain shuffle
equi-joins on conv_id (AQE handles any hot doc). Every candidate edge
is scored by the exact kernel."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minhash_rs_spark.functions.udfs import with_jaccard


def edges_with_jaccard(edges: DataFrame, src_shingles: DataFrame,
                       dst_shingles: DataFrame) -> DataFrame:
    """Every column of `edges` (src, dst, ...) plus the exact Jaccard of
    the src doc's set in `src_shingles` and the dst doc's set in
    `dst_shingles`. The two sides stay separate tables, so one conv_id
    may carry a different set on each side (incremental dedup's batch
    vs history). Scoring is a batch-vectorized mapInArrow over flat
    buffers (udfs.with_jaccard) — no per-row Python."""
    joined = (
        edges
        .join(src_shingles.select(F.col("conv_id").alias("src"),
                                  F.col("shingles").alias("sh_src")), "src")
        .join(dst_shingles.select(F.col("conv_id").alias("dst"),
                                  F.col("shingles").alias("sh_dst")), "dst")
        .select(*edges.columns, "sh_src", "sh_dst")
    )
    return with_jaccard(joined, "sh_src", "sh_dst", "jaccard")


def verified_edges(edges: DataFrame, shingles: DataFrame,
                   threshold: float) -> DataFrame:
    """Keep only candidate edges whose exact Jaccard >= threshold."""
    return (edges_with_jaccard(edges, shingles, shingles)
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("src", "dst"))


def stride_pair_jaccards(shingles: DataFrame, deltas=(1, 2, 3),
                         id_col: str = "conv_id") -> DataFrame:
    """Exact shingle-Jaccard for the deterministic pair set
    {(id, id+d) : d in deltas} — the verify kernel (tokenize -> k-gram
    shingle -> sorted-unique set -> intersection count) run over an
    input-defined edge list instead of LSH candidates.

    Purpose: every LSH-derived pair set is kernel-dependent (rows-only
    at the correctness gate); this pair set is pure input, so an
    external ANSI-SQL oracle can hash-check the verify kernel's exact
    integer intersection/union counts value-for-value. O(N*|deltas|)
    pairs, plain shuffle equi-joins — linear at any scale.

    Returns (id_a, id_b, n_inter, n_union, jac_e6) with jac_e6 in exact
    integer micro-units (engine-portable, no float division).

    Precondition: every shingle set is non-empty (guaranteed by
    rolling_poly_from_flat's short-doc fallback, so n_union >= 1 here).
    The n_union=0 CASE below still defines jac_e6=1000000 for an
    empty-vs-empty pair so jac_e6 stays consistent with the kernel's
    jaccard=1.0 convention if with_jaccard(sizes=True) is ever reused
    on possibly-empty sets."""
    sh = shingles.select(F.col(id_col).cast("long").alias("id"), "shingles")
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    pairs = a.withColumn(
        "id_b", F.explode(F.array(*[F.col("id_a") + F.lit(int(d))
                                    for d in deltas])))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = pairs.join(b, "id_b").select("id_a", "id_b", "sh_a", "sh_b")
    out = with_jaccard(joined, "sh_a", "sh_b", "jaccard", sizes=True)
    return out.select(
        "id_a", "id_b", "n_inter", "n_union",
        F.expr("CASE WHEN n_union = 0 THEN 1000000 "
               "ELSE (n_inter * 1000000) div n_union END")
        .alias("jac_e6"))


def intra_cluster_jaccards(assignments: DataFrame, shingles: DataFrame) -> DataFrame:
    """All within-component pairs with exact Jaccard — the reference's
    `true-jacc` analytics output (src/main.rs:1656-1677) as a DataFrame:
    (cc_id, conv_id_a, conv_id_b, jaccard)."""
    cand = (assignments.where(F.col("cc_size") > 1)
            .select("cc_id", "conv_id")
            .join(shingles.select("conv_id", "shingles"), "conv_id"))
    a = cand.select("cc_id", F.col("conv_id").alias("conv_id_a"),
                    F.col("shingles").alias("sh_a"))
    b = cand.select("cc_id", F.col("conv_id").alias("conv_id_b"),
                    F.col("shingles").alias("sh_b"))
    joined = (a.join(b, "cc_id")
              .where(F.col("conv_id_a") < F.col("conv_id_b"))
              .select("cc_id", "conv_id_a", "conv_id_b", "sh_a", "sh_b"))
    return with_jaccard(joined, "sh_a", "sh_b", "jaccard")
