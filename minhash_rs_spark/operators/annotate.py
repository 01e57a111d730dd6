"""G7/G8/J2/J3 — cluster stats, survivor election, annotate & prune sinks.

Reference behaviors re-expressed:
  - annotation quads (line, cc_size, cc_id, cc_idx) -> columns joined
    onto the turns table as a `minhash` struct
    (ref: src/main.rs:1256-1319, splice :1536-1540)
  - kill-list election: keep exactly one doc per component; the reference
    keeps an arbitrary DashMap-order member (src/main.rs:1175-1191); we
    keep the rank-0 member by conv_id — deterministic, documented
    divergence (SURVEY §7.4)
  - prune: left_anti join instead of kill files (src/main.rs:1390-1436)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cluster_assignments(docs: DataFrame, cc: DataFrame,
                        with_idx: bool = True,
                        n_docs_hint: int | None = None) -> DataFrame:
    """Full per-conversation cluster table (conv_id, cc_id, cc_size[, cc_idx]).

    docs: one row per conv_id. cc: (conv_id, cc_id) for non-singletons.
    Singletons get cc_id = own conv_id (C3, ref src/main.rs:1089-1099).
    Pass with_idx=False on paths that only need sizes or survivor
    election (prune/dedup mode, histograms); survivors() below is
    idx-free by construction.

    With with_idx=True the plan is chosen from a measurement taken
    here: one count of cc. cc is read twice (count, then the plan), so
    callers pass a pinned or table-backed cc, never a lazy expensive
    lineage. Every non-singleton component is a subset of cc, so |cc|
    bounds the largest component:
      - |cc| <= _CC_IDX_SINGLE_WINDOW_MAX: one cc_id window computes
        cc_size (full-frame count) and cc_idx (row_number) from a
        single exchange;
      - larger: cc_size is algebraic (groupBy + join-back, whose
        map-side partial aggregation absorbs a mega-component) and
        cc_idx the distributed ordinal of _cc_idx — no task ever
        buffers a whole component.
    Both plans give the same rows in the same column order.

    n_docs_hint is accepted and ignored: perfbench/workloads.py still
    passes it.
    """
    labeled = (docs.select("conv_id")
               .join(cc, "conv_id", "left")
               .select("conv_id", F.coalesce("cc_id", "conv_id").alias("cc_id")))
    if with_idx and cc.count() <= _CC_IDX_SINGLE_WINDOW_MAX:
        # the count uses the same ordered window spec with a
        # full-partition frame, so both expressions share one Window
        # operator
        w = Window.partitionBy("cc_id").orderBy("conv_id")
        wf = w.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
        return (labeled
                .select("conv_id", "cc_id",
                        F.count(F.lit(1)).over(wf).alias("cc_size"),
                        (F.row_number().over(w) - F.lit(1)).cast("int")
                        .alias("cc_idx")))
    sizes = labeled.groupBy("cc_id").agg(F.count(F.lit(1)).alias("cc_size"))
    out = labeled.join(sizes, "cc_id").select("conv_id", "cc_id", "cc_size")
    if with_idx:
        out = _cc_idx(out)
    return out


# Largest duplicate table (non-singleton members, the rows of cc) that
# takes the single-window plan. A component never has more members
# than cc has rows, so the worst window task sorts <= 2M narrow rows
# (~100 MB), while the distributed plan's fixed cost (range-sampler
# job + two window stages + offsets join, ~+1 s of stage barriers at
# sf0.1) dwarfs the work below it.
_CC_IDX_SINGLE_WINDOW_MAX = 2_000_000


def _cc_idx_ranked(out: DataFrame, parts: int) -> DataFrame:
    """Range-split + per-split local rank — the pre-cut stage of
    _cc_idx, factored out so plan audits (tools/plan_audit.py check 13,
    tests) can inspect the range exchange and the (_pid, cc_id)-bounded
    window that _cc_idx's lineage cut hides from downstream plans."""
    base = (out.repartitionByRange(parts, "cc_id", "conv_id")
            .withColumn("_pid", F.spark_partition_id()))
    wl = Window.partitionBy("_pid", "cc_id").orderBy("conv_id")
    return base.withColumn("_lrank", F.row_number().over(wl) - F.lit(1))


def _cc_idx(out: DataFrame) -> DataFrame:
    """cc_idx = rank of conv_id within its component, distributed: the
    plan cluster_assignments runs when cc is too large for one cc_id
    window (a partitionBy(cc_id) window would serialize a
    mega-component into one sort task, VERDICT r3 #4).

    Order-preserving two-phase ordinal over spark.sql.shuffle.partitions
    range splits:
      1. range-repartition by (cc_id, conv_id) — range partitioning is
         ORDER-COMPATIBLE: within a component, every member in
         partition i sorts before every member in partition j>i, and no
         partition exceeds ~N/parts rows regardless of component skew
         (the range sampler splits a mega-component across partitions);
      2. local rank: row_number over (partition-id, cc_id) — the
         largest window group is one component's slice WITHIN one range
         split, bounded by the split size;
      3. offsets: per-(cc_id, partition-id) counts (algebraic groupBy),
         cumulative-summed per component over partition-id order — a
         window over <= parts rows per component;
      4. cc_idx = local rank + offset.

    Identical to row_number() over (partition by cc_id order by
    conv_id) - 1 by construction (asserted in tests incl. a planted
    1M-member single component).

    CONSISTENCY HAZARD (round-5 data-loss bug, fixed): `ranked` feeds two
    consumers — the final join's left side and the counts/offsets
    subtree. Exchange REUSE between them is an optimization, not a
    guarantee: when the planner instantiates two separate range
    exchanges, each samples boundaries with a seed derived from its own
    RDD id, so the two sides can disagree on `_pid` for the same row —
    and the inner join on (cc_id, _pid) then silently DROPS rows
    (observed at 10M turns: 5-9% of documents lost from assignments,
    nondeterministically; reproduced at 40k rows with
    spark.sql.exchange.reuse=false). The localCheckpoint on `ranked`
    below pins ONE physical layout — one sampling, one window pass —
    that every consumer reads, making _pid consistent by construction
    rather than by optimizer goodwill. cc_idx values are layout-
    independent either way (range partitioning is order-compatible);
    only the row-preservation guarantee needed the cut.
    """
    parts = int(out.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # lazy localCheckpoint: the range partitioner's sampling job is the
    # first action — without the cut it re-executes the whole upstream
    # subtree (fingerprint/groupBy/joins) once for the sample and again
    # for the real pass; the cut materializes the narrow 3-column rows
    # exactly once and both passes read them
    out = out.localCheckpoint(eager=False)
    # lineage cut AFTER the exchange + _pid stamp: both consumers below
    # MUST observe the same physical partition ids (docstring hazard).
    # The cut hides the ranked stage from downstream plan strings, so
    # plan audits inspect _cc_idx_ranked directly.
    ranked = _cc_idx_ranked(out, parts).localCheckpoint(eager=False)
    counts = (ranked.groupBy("cc_id", "_pid")
              .agg(F.count(F.lit(1)).alias("_n")))
    wo = (Window.partitionBy("cc_id").orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (counts
               .withColumn("_off", F.coalesce(F.sum("_n").over(wo), F.lit(0)))
               .select("cc_id", "_pid", "_off"))
    return (ranked.join(offsets, ["cc_id", "_pid"])
            .withColumn("cc_idx",
                        (F.col("_lrank") + F.col("_off")).cast("int"))
            .drop("_pid", "_lrank", "_off")
            # same COLUMN ORDER as the single-window path: the join on
            # (cc_id, _pid) moves cc_id first, and a schema that depends
            # on which plan ran breaks positional consumers (unionByName
            # is safe, exceptAll/union are not)
            .select(*out.columns, "cc_idx"))


def annotate_turns(turns: DataFrame, assignments: DataFrame,
                   conv_col: str = "conv_id",
                   struct_col: str = "minhash") -> DataFrame:
    """Annotate mode: every input row preserved, plus a
    `minhash: struct<cc_id, cc_size, cc_idx>` column
    (output shape: FIXTURES.md F4; ref splice src/main.rs:1536-1540)."""
    anno = assignments.select(
        F.col("conv_id").alias(conv_col),
        F.struct("cc_id", "cc_size", "cc_idx").alias(struct_col))
    return turns.join(anno, conv_col, "left")


def survivors(assignments: DataFrame) -> DataFrame:
    """conv_ids that survive dedup: exactly one per component — the
    min-conv_id member, identical to cc_idx==0 (the window orders by
    conv_id) but algebraic: a groupBy min survives a mega-component
    where a partitionBy(cc_id) window would serialize into one task,
    and it works on with_idx=False assignment tables."""
    return assignments.groupBy("cc_id").agg(
        F.min("conv_id").alias("conv_id")).select("conv_id")


def prune_turns(turns: DataFrame, assignments: DataFrame,
                conv_col: str = "conv_id") -> DataFrame:
    """Dedup mode: keep only turns of surviving conversations.

    left_semi on the survivor set == the reference's kill-list anti-join
    (J2, src/main.rs:1370-1427); the whole conversation lives or dies
    together (J7 transitive group kill, src/main.rs:1395-1421).
    """
    surv = survivors(assignments).withColumnRenamed("conv_id", conv_col)
    return turns.join(surv, conv_col, "left_semi")
