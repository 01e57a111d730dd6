"""SimHash near-dup path (north-rule addition; no reference counterpart).

sig = 64-bit per-bit majority vote over the doc's (uniformly mixed)
shingle hashes (functions/udfs.with_simhash). Near-duplicates = pairs with
Hamming distance <= hamming_threshold.

Candidate generation is pigeonhole block-LSH: split the 64-bit signature
into `num_blocks` contiguous blocks; any pair within Hamming distance
num_blocks-1 shares at least one exact block. Blocks are emitted with a
single explode over one scan of sigs (not a num_blocks-way union), and
the (block_id, block_val) groups go through the same candidate-edge
generator as the minhash bands (lsh.bucket_pair_edges):

  * block groups with cnt <= pair_cap get ALL within-group pairs, so the
    pigeonhole recall guarantee (every pair at Hamming <= num_blocks-1
    is verified directly) holds exactly for them;
  * giant groups (cnt > pair_cap — e.g. a crowd of identical docs whose
    block value is shared) get star + salted sub-star + the salt-local
    chain: linear edge count, recall bounded as in lsh's module doc
    (k failing interior outliers split a group's chain into <= k+1
    runs), NOT claimed as recall 1.0.

Verification is JVM-side: bit_count(sig_a ^ sig_b) — no Python.

Same output contract as the minhash path: edges -> connected components
-> cluster_assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minhash_rs_spark.functions.udfs import with_simhash
from minhash_rs_spark.operators.connected_components import connected_components
from minhash_rs_spark.operators.lsh import bucket_pair_edges

BLOCK_KEY = ["block_id", "block_val"]


def simhash_signatures(shingles: DataFrame) -> DataFrame:
    """(conv_id, shingles) -> (conv_id, simhash: long) — batch-vectorized
    mapInArrow (udfs.with_simhash), no per-row Python."""
    return with_simhash(shingles.select("conv_id", "shingles"),
                        "shingles", "simhash")


def _block_rows(sigs: DataFrame, num_blocks: int) -> DataFrame:
    """One row per (doc, block): a single scan of sigs + explode."""
    assert 64 % num_blocks == 0
    width = 64 // num_blocks
    mask = (1 << width) - 1
    parts = F.array(*[
        F.struct(F.lit(b).alias("block_id"),
                 (F.shiftrightunsigned(F.col("simhash"), b * width)
                  .bitwiseAND(F.lit(mask))).alias("block_val"))
        for b in range(num_blocks)
    ])
    return (sigs.select("conv_id", F.explode(parts).alias("blk"))
            .select("conv_id", F.col("blk.block_id").alias("block_id"),
                    F.col("blk.block_val").alias("block_val")))


def simhash_candidate_edges(sigs: DataFrame, num_blocks: int = 4,
                            pair_cap: int = 32,
                            sub_salt: int = 16,
                            chain: bool = True) -> DataFrame:
    """Candidate edges over pigeonhole blocks: lsh.bucket_pair_edges
    keyed by (block_id, block_val) (see module doc)."""
    return bucket_pair_edges(_block_rows(sigs, num_blocks), BLOCK_KEY,
                             pair_cap, sub_salt, chain)


def simhash_verified_edges(edges: DataFrame, sigs: DataFrame,
                           hamming_threshold: int = 3) -> DataFrame:
    """Keep edges whose endpoints' signatures differ in <= threshold bits.
    bit_count(xor) runs in whole-stage codegen."""
    s = sigs.select("conv_id", "simhash")
    return (edges
            .join(s.select(F.col("conv_id").alias("src"),
                           F.col("simhash").alias("sig_src")), "src")
            .join(s.select(F.col("conv_id").alias("dst"),
                           F.col("simhash").alias("sig_dst")), "dst")
            .where(F.bit_count(F.col("sig_src").bitwiseXOR(F.col("sig_dst")))
                   <= F.lit(hamming_threshold))
            .select("src", "dst"))


def simhash_cc(shingles: DataFrame, hamming_threshold: int = 3,
               num_blocks: int = 4, pair_cap: int = 32) -> DataFrame:
    """Full SimHash path: (conv_id, shingles) -> (conv_id, cc_id).

    sigs feed three consumers (block grouping, block join-back, edge
    verification) — persisted here, released once CC has materialized
    (connected_components localCheckpoints its input eagerly, then
    labels it on the driver or in the star loop, by edge count)."""
    sigs = simhash_signatures(shingles).persist()
    try:
        edges = simhash_candidate_edges(sigs, num_blocks, pair_cap)
        verified = simhash_verified_edges(edges, sigs, hamming_threshold)
        # candidate edges are emitted src > dst (pairs, star, sub-star,
        # chain all orient) and verification only filters
        return connected_components(verified, oriented=True,
                                    distinct_input=True)
    finally:
        sigs.unpersist()
