"""Incremental (append-batch) dedup: dedup a NEW batch of conversations
against an already-processed corpus WITHOUT re-reading the corpus —
only its checkpointed `sigs`/`shingles` stage tables (io/checkpoint.py).

The reference is batch-only (each `min-hash` run re-hashes the whole
input, /root/reference/src/main.rs:1684-1701); at 100 TB the production
shape is "a new day of data arrives, kill what duplicates history".
This module adds that shape on top of the same kernels:

- unverified (reference-parity band-collision semantics): the old
  corpus is reduced to ONE row per (band_id, sig) bucket — an algebraic
  min/count groupBy whose partial aggregation absorbs hot-bucket skew —
  so the new batch joins 1:1 against bucket representatives and the
  output is bounded by |new sigs| = O(new_docs x bands). The 100 TB
  history never appears as join fan-out.
- verified (jaccard_threshold set): each old bucket keeps up to
  `old_cap` member ids (deterministic: sorted, first-claimant — the
  same capped-candidate stance as lsh.pair_edges), and every candidate
  pair is scored by the batch-vectorized exact-Jaccard Arrow kernel
  (verify.edges_with_jaccard, batch set vs history set). A giant old
  bucket can truncate candidates past old_cap — documented recall
  trade, identical in kind to pair_cap.

New-vs-new duplicates inside the batch are the ordinary pipeline's job
(run_minhash on the batch); compose both for full append semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minhash_rs_spark.config import MinHashConfig
from minhash_rs_spark.functions.fingerprint import fingerprint128
from minhash_rs_spark.operators.verify import edges_with_jaccard

_BUCKET = ["band_id", "sig_hi", "sig_lo"]


def dup_against_corpus(new_sigs: DataFrame, old_sigs: DataFrame,
                       new_shingles: DataFrame | None = None,
                       old_shingles: DataFrame | None = None,
                       threshold: float | None = None,
                       old_cap: int = 8) -> DataFrame:
    """Matches of new conversations against the old corpus.

    Returns (conv_id, matched_old, n_band_hits[, jaccard]) — one row
    per new conversation that collides with history (unverified), or
    whose best exact-Jaccard vs a capped old candidate set clears
    `threshold` (verified; jaccard is the best score, matched_old its
    doc, ties broken by min matched_old).
    """
    if threshold is None:
        old_buckets = (old_sigs.groupBy(*_BUCKET)
                       .agg(F.min("conv_id").alias("_rep")))
        return (new_sigs.join(old_buckets, _BUCKET)
                .groupBy("conv_id")
                .agg(F.min("_rep").alias("matched_old"),
                     F.count(F.lit(1)).alias("n_band_hits")))
    if new_shingles is None or old_shingles is None:
        raise ValueError("verified incremental dedup needs both "
                         "shingle tables (threshold is set)")
    # salt-local two-phase cap: a mega-bucket (e.g. near-empty docs
    # across the whole history) would otherwise stream EVERY member id
    # into one collect_set buffer. Phase 1 rank-filters to the old_cap
    # smallest ids within each of 64 salt sub-groups — a row_number
    # window, whose per-group work is an external SORT (spills, memory
    # O(1)) rather than an aggregation buffer, so even a degenerate
    # bucket of 10^8 identical signatures never holds more than the
    # sort's run buffer in memory. Phase 2 merges the <= 64*old_cap
    # survivors per bucket with a now-bounded collect_set — each salt
    # group contributes its local minima, so the merged slice equals
    # the global old_cap smallest (same degenerate-giant-task
    # discipline as lsh.chain_edges' salt-local windows).
    from pyspark.sql import Window

    _salt = F.pmod(F.xxhash64("conv_id"), F.lit(64))
    wsalt = Window.partitionBy(*_BUCKET, "_s").orderBy("conv_id")
    # dedup (bucket, conv_id) BEFORE the rank filter (ADVICE r6 #1): a
    # conv_id present twice in history (re-ingested doc, unioned
    # generations) would otherwise consume two of the old_cap rank
    # slots and silently evict a true candidate. The explicit
    # (bucket, salt) repartition is shared by the dedup aggregate
    # (its keys are a superset of the partitioning) AND the window, so
    # the fix costs zero extra exchanges; _s is a function of conv_id,
    # making the wider dedup key equivalent to (bucket, conv_id).
    phase1 = (old_sigs.withColumn("_s", _salt)
              .repartition(*_BUCKET, "_s")
              .dropDuplicates([*_BUCKET, "_s", "conv_id"])
              .withColumn("_r", F.row_number().over(wsalt))
              .where(F.col("_r") <= old_cap))
    old_members = (phase1.groupBy(*_BUCKET)
                   .agg(F.slice(F.sort_array(F.collect_set("conv_id")),
                                1, old_cap).alias("_olds")))
    cand = (new_sigs.join(old_members, _BUCKET)
            .select(F.col("conv_id").alias("src"),
                    F.explode("_olds").alias("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n_band_hits")))
    # new and old stay separate shingle tables: a conv_id present in
    # both the batch and history is scored batch-set vs history-set
    scored = (edges_with_jaccard(cand, new_shingles, old_shingles)
              .where(F.col("jaccard") >= F.lit(float(threshold))))
    # best match per new doc in ONE aggregation — min_by over the
    # ordering struct (-jaccard asc == jaccard desc, then dst asc)
    # selects the whole winning row, so no float-equality self-join
    # whose two sides could recompute the kernel double under
    # different plans (the cc_idx-bug class of optimizer hazard)
    best = (scored.groupBy("src")
            .agg(F.min_by(F.struct("dst", "n_band_hits", "jaccard"),
                          F.struct((-F.col("jaccard")).alias("_nj"),
                                   F.col("dst"))).alias("_b")))
    return best.select(F.col("src").alias("conv_id"),
                       F.col("_b.dst").alias("matched_old"),
                       F.col("_b.n_band_hits").alias("n_band_hits"),
                       F.col("_b.jaccard").alias("jaccard"))


@dataclass
class IncrementalResult:
    matches: DataFrame   # (conv_id, matched_old, n_band_hits[, jaccard])
    output: DataFrame    # new turns, pruned or annotated
    config: MinHashConfig

    def collect_stats(self, new_turns: DataFrame,
                      conv_col: str = "conv_id") -> dict:
        n_new = new_turns.select(conv_col).distinct().count()
        n_dup = self.matches.count()
        return {"new_conversations": n_new, "dup_of_old": n_dup,
                "removal_rate": (n_dup / n_new) if n_new else 0.0}


def incremental_minhash(spark: SparkSession, new_turns: DataFrame,
                        cfg: MinHashConfig, batch_token: str,
                        base_token: str | list[str] = "",
                        old_cap: int = 8) -> IncrementalResult:
    """Dedup `new_turns` against the committed checkpoint(s) of prior
    run_minhash / incremental_minhash runs with the SAME cfg (the
    config fingerprint must match or the old tables won't resolve —
    byte-compatible signatures are exactly what the fingerprint
    namespace guarantees). The batch's own docs/shingles/sigs are
    checkpointed under `batch_token`, so a killed incremental job
    resumes like any other run.

    base_token accepts a LIST of input tokens for the append-only
    chain: day N dedups against ["base", "day1", ..., "dayN-1"] — each
    prior batch's sigs/shingles are already on disk from its own
    incremental run, so history is a union of committed tables, still
    never recomputed.

    Prune semantics: output = new turns minus conversations that
    duplicate HISTORY (cfg.annotate_only=True annotates instead:
    dup_of_old + matched_old columns).
    """
    from functools import reduce

    from minhash_rs_spark.io.checkpoint import CheckpointManager
    from minhash_rs_spark.pipeline import config_fingerprint, run_minhash

    if cfg.checkpoint_dir is None:
        raise ValueError("incremental_minhash requires cfg.checkpoint_dir "
                         "(the old corpus is reached via its checkpoint)")
    tokens = [base_token] if isinstance(base_token, str) else list(base_token)
    if not tokens:
        raise ValueError("base_token must name at least one prior run")
    old_ckpts = [CheckpointManager(spark, cfg.checkpoint_dir,
                                   config_fingerprint(cfg, t))
                 for t in tokens]
    old_sigs = reduce(DataFrame.unionByName,
                      [c.table("sigs") for c in old_ckpts])
    verified = cfg.jaccard_threshold is not None
    old_sh = (reduce(DataFrame.unionByName,
                     [c.table("shingles") for c in old_ckpts])
              if verified else None)

    run_minhash(spark, new_turns, cfg, input_token=batch_token,
                upto="sigs")
    new_ckpt = CheckpointManager(spark, cfg.checkpoint_dir,
                                 config_fingerprint(cfg, batch_token))
    new_sigs = new_ckpt.table("sigs")
    new_sh = new_ckpt.table("shingles") if verified else None
    if verified and cfg.max_shingles_per_doc is not None:
        # same verification cap as the batch path (pipeline.py): the
        # committed shingle tables are UNCAPPED (cap changes must not
        # invalidate checkpoints), so the slice is applied at read time
        # to BOTH sides — scores stay consistent with batch-path
        # verification and a giant doc can't reintroduce the unbounded
        # array-join cost the cap exists to bound
        _cap = F.slice("shingles", 1, cfg.max_shingles_per_doc)
        new_sh = new_sh.withColumn("shingles", _cap)
        old_sh = old_sh.withColumn("shingles", _cap)

    matches = dup_against_corpus(new_sigs, old_sigs, new_sh, old_sh,
                                 threshold=cfg.jaccard_threshold,
                                 old_cap=old_cap)
    key = matches.select(F.col("conv_id").alias(cfg.conv_col))
    if cfg.annotate_only:
        ann = matches.select(F.col("conv_id").alias(cfg.conv_col),
                             "matched_old",
                             F.lit(True).alias("dup_of_old"))
        output = (new_turns.join(ann, cfg.conv_col, "left")
                  .withColumn("dup_of_old",
                              F.coalesce("dup_of_old", F.lit(False))))
    else:
        output = new_turns.join(key, cfg.conv_col, "left_anti")
    return IncrementalResult(matches=matches, output=output, config=cfg)


def compact_history(spark: SparkSession, cfg: MinHashConfig,
                    tokens: list[str], out_token: str) -> str:
    """Compact an append-chain's history: union the committed `sigs`
    (and, for verified configs, `shingles`) tables of `tokens` into ONE
    checkpoint committed under `out_token`, and return `out_token`.

    Day-365 of an incremental chain otherwise unions 365 sig tables
    into the old side of every join (incremental_minhash base_token
    list) — correct, but each day adds a scan + union branch to the
    plan. After compaction the old side is a single committed table:
    `incremental_minhash(..., base_token=out_token)` reads one parquet
    directory no matter how long the chain was. Re-running with the
    same out_token resumes from the committed compaction (ordinary
    checkpoint semantics); the input tables are left untouched, so
    compaction is safe to run concurrently with readers of the old
    tokens.
    """
    from functools import reduce

    from minhash_rs_spark.io.checkpoint import CheckpointManager
    from minhash_rs_spark.pipeline import config_fingerprint

    if cfg.checkpoint_dir is None:
        raise ValueError("compact_history requires cfg.checkpoint_dir")
    if not tokens:
        raise ValueError("compact_history needs at least one input token")
    ckpts = [CheckpointManager(spark, cfg.checkpoint_dir,
                               config_fingerprint(cfg, t))
             for t in tokens]
    out = CheckpointManager(spark, cfg.checkpoint_dir,
                            config_fingerprint(cfg, out_token))
    # guard against silent stale resume (ADVICE r6 #3): the checkpoint
    # fingerprint derives from (cfg, out_token) only — readers address
    # the compaction by out_token, so the input list CANNOT go into the
    # fingerprint. Instead the sorted input tokens are recorded in the
    # manifest on first commit; a re-run under the same out_token with
    # a DIFFERENT token list (e.g. a grown chain) raises instead of
    # resuming a compaction that silently misses the new generations.
    wanted = sorted(tokens)
    recorded = [r.get("compact_inputs") for r in out._manifest_rows()
                if r.get("fingerprint") == out.fingerprint
                and r.get("stage") == "_compact_inputs"]
    if out.committed("sigs") and recorded and recorded[-1] != wanted:
        raise ValueError(
            f"compact_history: out_token {out_token!r} already holds a "
            f"compaction of {recorded[-1]} but was re-run with {wanted} — "
            "use a new out_token (or delete the committed compaction) so "
            "incremental readers never dedup against a stale history")
    fresh = not out.committed("sigs")
    sigs = reduce(DataFrame.unionByName, [c.table("sigs") for c in ckpts])
    out.stage("sigs", lambda: sigs)
    # record the input list as soon as THIS run committed sigs — before
    # the shingles check below can raise — so a re-run with a different
    # list trips the guard instead of resuming these sigs; the latest
    # record wins (recorded[-1]). A crash inside the sigs stage leaves
    # no record and the half-built out_token recomputes on retry.
    # Pre-guard compactions (committed but unrecorded) stay unrecorded:
    # fabricating provenance for bytes we didn't build would legitimize
    # exactly the stale history the guard catches.
    if fresh:
        out._append_manifest({"fingerprint": out.fingerprint,
                              "stage": "_compact_inputs",
                              "compact_inputs": wanted})
    if all(c.committed("shingles") for c in ckpts):
        sh = reduce(DataFrame.unionByName,
                    [c.table("shingles") for c in ckpts])
        out.stage("shingles", lambda: sh)
    elif cfg.jaccard_threshold is not None:
        raise ValueError(
            "verified config but some input tokens have no committed "
            "shingles stage — compact from tokens that ran upto='sigs' "
            "with the same verified config")
    return out_token


def exact_dup_against(new_docs: DataFrame, old_docs: DataFrame,
                      id_col: str = "conv_id",
                      text_col: str = "doc_text") -> DataFrame:
    """Exact incremental dedup: (id, dup_of_old) per NEW document —
    dup_of_old iff its text equals (null-distinct, exact_dedup.py key
    discipline) some OLD document's text. The join key is the 128-bit
    fingerprint pair + null flag, never the text: at 100 TB the key IS
    the data, and 16 bytes/doc is what history costs on the wire."""
    fa, fb = fingerprint128(text_col)
    nullf = F.col(text_col).isNull().alias("_fnull")
    old_keys = (old_docs.select(fa.alias("_fa"), fb.alias("_fb"), nullf)
                .distinct())
    new_keyed = new_docs.select(F.col(id_col), fa.alias("_fa"),
                                fb.alias("_fb"), nullf)
    hit = (new_keyed.join(old_keys, ["_fa", "_fb", "_fnull"], "left_semi")
           .select(id_col, F.lit(True).alias("dup_of_old")))
    return (new_docs.select(id_col).join(hit, id_col, "left")
            .withColumn("dup_of_old",
                        F.coalesce("dup_of_old", F.lit(False))))
