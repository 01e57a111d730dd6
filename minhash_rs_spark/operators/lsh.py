"""G2/J1 — LSH bucketing and candidate-edge generation.

The reference buckets signature records per (band, sig) into a DashMap
and chains consecutive members as edges (src/main.rs:814-887,
1024-1042). Spark version: every path starts from one bucket aggregate
over member rows keyed by `key_cols`,

    groupBy(key...): rep = min(conv_id), cnt;  keep cnt > 1

(the P4 group-size predicate, src/main.rs:847-851). min/count are
algebraic, so map-side partial aggregation collapses a hot bucket to
one record per input partition before the shuffle, and AQE
(session.py) skew-splits the equi-join back onto the members.

Two edge shapes are built on it:

  * star_edges — unverified, reference-parity path: (member, rep)
    edges. Linear in bucket size, same transitive closure as the
    reference's chained pairs (src/main.rs:1031-1039), rooted at the
    bucket minimum -> deterministic.
  * bucket_pair_edges — verified path, shared by both key shapes:
    minhash bands (BUCKET_KEY, via pair_edges) and SimHash pigeonhole
    blocks (operators/simhash). Star edges are wrong under verification
    (an outlier bucket-min loses every pair through it), so buckets
    with cnt <= pair_cap get ALL within-bucket pairs — exact
    within-bucket recall, at most (pair_cap-1)/2 edges per member row.
    Buckets above pair_cap (rare; at a 128-bit band key overwhelmingly
    true-dup crowds) get star + salted sub-star + the salt-local chain
    (chain_edges): a linear 3 edges per member. k verification-failing
    interior outliers split the chain into at most k+1 runs, which the
    star/sub-star edges then usually re-join — exhaustive only for
    pairs within a run, a bound confined to cnt > pair_cap. No chain
    window task ever sees more than ~cnt/chain_salt members.

The bucket aggregate of bucket_pair_edges is pinned (localCheckpoint)
before anything branches on it: the giant-bucket emptiness check and
every branch read the same rows, so the small/giant split can never
disagree with itself if the members' lineage is recomputed.

All outputs are distinct and oriented src > dst, ready for CC. At
100 TB scale the band key is 128-bit (sig_hi, sig_lo) + band_id —
buckets never falsely merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BUCKET_KEY = ["band_id", "sig_hi", "sig_lo"]


def chain_edges(members: DataFrame, key_cols: list[str],
                chain_salt: int = 256) -> DataFrame:
    """Consecutive-member edges forming one Hamiltonian path per group
    over the order (chain_salt hash, conv_id) — the salted successor of
    the reference's consecutive-DashMap-member chains
    (src/main.rs:1031-1039), computed WITHOUT any window over the whole
    group (VERDICT r3 #2: a 10^8-member degenerate crowd — e.g. empty
    docs at 100x scale — must never become one sort task):

      * members are salted into chain_salt sub-groups by
        xxhash64(conv_id); the consecutive-pair chain runs inside each
        (group, salt) window, so the largest single window task holds
        ~cnt/chain_salt rows, not cnt;
      * adjacent non-empty salt groups are then linked by ONE edge from
        the next group's min member to the previous group's max member.
        min/max per salt group are algebraic (map-side partials absorb
        the crowd); the linking window sees <= chain_salt rows per
        group.

    The union is exactly a Hamiltonian path over the group in
    (salt, conv_id) order — cnt-1 edges, linear — so under verification
    the old recall argument survives intact: k verification-failing
    interior outliers split the path into <= k+1 runs (which star /
    sub-star edges then usually re-join), just over a different total
    order. Callers EXCLUDE the group rep (bucket min) from `members`:
    the rep is fully served by the star edges, and keeping it out of
    the chain preserves the guarantee that a false-positive bucket-min
    cannot disconnect the remaining crowd (in the old single-sorted
    chain it was an endpoint; in salted order it could land anywhere).
    Edges are normalized to src > dst.
    """
    salted = members.withColumn(
        "_csalt", F.pmod(F.xxhash64("conv_id"), F.lit(chain_salt)))
    w = Window.partitionBy(*key_cols, "_csalt").orderBy("conv_id")
    intra = (salted
             .select(*key_cols, "_csalt", "conv_id",
                     F.lag("conv_id").over(w).alias("_prev"))
             .where(F.col("_prev").isNotNull())
             .select(F.col("conv_id").alias("src"),
                     F.col("_prev").alias("dst")))
    bounds = (salted.groupBy(*key_cols, "_csalt")
              .agg(F.min("conv_id").alias("_gmin"),
                   F.max("conv_id").alias("_gmax")))
    wl = Window.partitionBy(*key_cols).orderBy("_csalt")
    cross = (bounds
             .select(*key_cols, "_gmin",
                     F.lag("_gmax").over(wl).alias("_pmax"))
             .where(F.col("_pmax").isNotNull())
             .select(F.greatest("_gmin", "_pmax").alias("src"),
                     F.least("_gmin", "_pmax").alias("dst")))
    return intra.union(cross)


def _bucket_stats(members: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key..., rep=min(conv_id), cnt) for buckets with cnt > 1."""
    return (members.groupBy(*key_cols)
            .agg(F.min("conv_id").alias("rep"),
                 F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") > 1))


def lsh_buckets(sigs: DataFrame) -> DataFrame:
    """Bucket stats: (band_id, sig_hi, sig_lo, rep, cnt) for cnt > 1."""
    return _bucket_stats(sigs, BUCKET_KEY)


def star_edges(sigs: DataFrame) -> DataFrame:
    """Candidate-duplicate edges (src, dst=bucket-min), distinct.

    src > dst by construction (rep is the bucket min), so edges are
    already in canonical (larger, smaller) orientation for CC.

    USE ONLY on the unverified path (jaccard_threshold=None, the
    reference-parity default): CC unions the whole bucket regardless of
    edge shape, so the minimal star is exactly the reference's behavior
    (src/main.rs:1031-1039 chains members; same transitive closure).
    When edges are to be PRUNED by verification, star edges lose pairs
    whose bucket-min is an outlier — use pair_edges instead.
    """
    return (
        sigs.join(lsh_buckets(sigs).select(*BUCKET_KEY, "rep"), BUCKET_KEY)
        .where(F.col("conv_id") != F.col("rep"))
        .select(F.col("conv_id").alias("src"), F.col("rep").alias("dst"))
        .distinct()
    )


def bucket_pair_edges(members: DataFrame, key_cols: list[str],
                      pair_cap: int, sub_salt: int = 16,
                      chain: bool = True) -> DataFrame:
    """Verified-path candidate edges over member rows (key..., conv_id):
    all within-bucket pairs for buckets with cnt <= pair_cap, plus star
    to the bucket min, salted sub-star (min per (bucket,
    xxhash(conv_id) % sub_salt)) and the salt-local chain for buckets
    above it (module doc). chain=False drops the chain (tests use it to
    show the salt-straddle hole the chain closes).

    Eager: one job pins the bucket aggregate and one reads the pin to
    decide whether any bucket exceeds pair_cap. When none does — the
    common case at any healthy pair_cap — the result is the all-pairs
    branch alone; the giant-bucket branches could only emit rows for
    cnt > pair_cap buckets, so the edge set is identical.
    """
    buckets = _bucket_stats(members, key_cols).localCheckpoint()
    small = buckets.where(F.col("cnt") <= pair_cap).select(*key_cols)
    sm = members.join(small, key_cols).select(*key_cols, "conv_id")
    out = (sm.join(sm.select(*key_cols, F.col("conv_id").alias("dst")),
                   key_cols)
           .where(F.col("conv_id") > F.col("dst"))
           .select(F.col("conv_id").alias("src"), "dst"))
    big = buckets.where(F.col("cnt") > pair_cap).select(*key_cols, "rep")
    if big.isEmpty():
        return out.distinct()

    bm = (members.join(big, key_cols)
          .select(*key_cols, "conv_id", "rep",
                  F.pmod(F.xxhash64("conv_id"),
                         F.lit(sub_salt)).alias("_salt")))
    star = (bm.where(F.col("conv_id") != F.col("rep"))
            .select(F.col("conv_id").alias("src"), F.col("rep").alias("dst")))
    sub_reps = (bm.groupBy(*key_cols, "_salt")
                .agg(F.min("conv_id").alias("srep")))
    sub_star = (bm.join(sub_reps, [*key_cols, "_salt"])
                .where(F.col("conv_id") != F.col("srep"))
                .select(F.col("conv_id").alias("src"),
                        F.col("srep").alias("dst")))
    out = out.union(star).union(sub_star)
    if chain:
        # rep excluded: served by star edges; see chain_edges docstring
        out = out.union(chain_edges(
            bm.where(F.col("conv_id") != F.col("rep"))
              .select(*key_cols, "conv_id"),
            key_cols))
    return out.distinct()


def pair_edges(sigs: DataFrame, pair_cap: int = 32, sub_salt: int = 16,
               chain: bool = True) -> DataFrame:
    """Candidate edges for the VERIFIED path (jaccard_threshold set):
    bucket_pair_edges over the LSH band buckets.

    Rep-anchored star edges are wrong under verification: a pair (b, c)
    in one bucket is reachable only through b—rep and c—rep, and if the
    bucket min `rep` happens to be a band false-positive far from both,
    verification prunes both edges and the true pair (b, c) is lost.
    """
    return bucket_pair_edges(sigs, BUCKET_KEY, pair_cap, sub_salt, chain)
