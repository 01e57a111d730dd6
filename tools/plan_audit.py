"""Physical-plan audit: dump .explain('formatted') for the engine's key
plans and assert the properties that matter at 100 TB — column-pruned
parquet scans, pushed filters, broadcast joins where a side is small,
whole-stage codegen spans around the relational stages. Writes
PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from minhash_rs_spark.config import MinHashConfig  # noqa: E402
from minhash_rs_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _hof(plan: str) -> bool:
    """True if the plan evaluates a higher-order-function lambda
    (zip_with / aggregate over array elements)."""
    return "zip_with(" in plan or "lambdafunction(" in plan


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=8)
    sections: list[tuple[str, str, list[str]]] = []
    checks: list[tuple[str, bool]] = []

    # 1. doc assembly: scan must prune to (conv_id, turn_idx, text)
    import __spark_entry__ as em
    from minhash_rs_spark.operators.doc_assembly import assemble_documents

    turns_path = f"{sf_dir}/documents.parquet"
    docs_raw = spark.read.parquet(turns_path)
    pruned = docs_raw.select(F.col("doc_id").cast("string").alias("conv_id"),
                             F.lit(0).alias("turn_idx"),
                             F.col("text"))
    asm = assemble_documents(pruned)
    p = plan_of(asm)
    sections.append(("doc_assembly over parquet scan", p,
                     ["ReadSchema", "HashAggregate"]))
    checks.append(("doc_assembly scan pruned to 2 cols",
                   "doc_id" in p and "lang" not in p and "source" not in p))
    checks.append(("doc_assembly partial aggregation",
                   p.count("HashAggregate") >= 2 or "ObjectHashAggregate" in p))

    # 2. filter pushdown on the documents scan
    q = docs_raw.select("doc_id").where(F.col("n_chars") > 100)
    p = plan_of(q)
    sections.append(("filter pushdown (n_chars > 100)", p, ["PushedFilters"]))
    checks.append(("n_chars filter pushed to parquet",
                   "GreaterThan(n_chars,100" in p.replace(" ", "")))

    # 3. LSH bucket join: AQE + (s)mj or broadcast of bucket side
    from minhash_rs_spark.functions.udfs import band_signature_rows, shingle_sets
    from minhash_rs_spark.operators.lsh import star_edges

    cfg = MinHashConfig()
    sh = shingle_sets(asm, cfg)
    sigs = band_signature_rows(sh, cfg)
    edges = star_edges(sigs)
    p = plan_of(edges)
    sections.append(("star_edges (LSH bucket join)", p,
                     ["AdaptiveSparkPlan", "HashAggregate"]))
    checks.append(("star_edges under AQE", "AdaptiveSparkPlan" in p))
    checks.append(("bucket agg partial (map-side combine)",
                   p.count("HashAggregate") >= 2))

    # 3b. exact_override signatures: like every shingle/signature UDF,
    # one Arrow map over flat buffers — no pandas map node
    from minhash_rs_spark.functions.udfs import band_signature_rows_exact

    p = plan_of(band_signature_rows_exact(asm,
                                          MinHashConfig(exact_override=True)))
    sections.append(("band_signature_rows_exact", p, ["MapInArrow"]))
    checks.append(("exact signatures: Arrow map node, no pandas map node",
                   re.search(r"MapInArrow \(\d+\)", p) is not None
                   and "MapInPandas" not in p))

    # 4. annotate join: assignments side should broadcast when small
    from minhash_rs_spark.operators.annotate import annotate_turns, cluster_assignments
    from minhash_rs_spark.operators.connected_components import connected_components

    cc = connected_components(edges)
    asg = cluster_assignments(asm, cc)
    out = annotate_turns(pruned, asg)
    p = plan_of(out)
    sections.append(("annotate_turns join", p, ["Join"]))
    checks.append(("annotate join planned (broadcast or SMJ under AQE)",
                   "Join" in p))

    # 5. whole-stage codegen on textstats (no Python in plan)
    from minhash_rs_spark.operators.textstats import quality_stats

    p = plan_of(quality_stats(docs_raw))
    sections.append(("quality_stats (pure codegen)", p, ["WholeStageCodegen"]))
    # formatted mode marks codegen stages with '*'; Python UDF stages
    # would appear as ArrowEvalPython / BatchEvalPython / MapInArrow
    checks.append(("quality_stats fully codegen (no Python eval)",
                   "* " in p and "Python" not in p and "MapInArrow" not in p))

    # 6. similarity topk: round 7 made this a single-scan Arrow kernel
    # (queries closed over, candidates scanned once, per-batch partial
    # top-k) — the plan must carry exactly one MapInArrow over the
    # candidate scan and NO pairwise join of the embedding side at all
    from minhash_rs_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(brute_force_topk(emb, k=5, query_mod=50))
    sections.append(("brute_force_topk", p, ["MapInArrow"]))
    checks.append(("topk single-scan Arrow kernel, no pairwise join",
                   len(re.findall(r"MapInArrow \(\d+\)", p)) == 1
                   and "CartesianProduct" not in p
                   and "BroadcastNestedLoopJoin" not in p
                   and "Join" not in p))

    # 7. verified-path candidate edges: algebraic aggs, no cartesian.
    # The bucket aggregate is what pair_edges pins, so its map-side
    # partial is audited on lsh_buckets' plan; pair_edges itself runs
    # over sigs with a planted bucket above pair_cap so the audited plan
    # carries every giant-bucket branch (star, sub-star, chain), and
    # must read the bucket stats from the pin instead of re-aggregating
    from minhash_rs_spark.operators.lsh import lsh_buckets, pair_edges

    p = plan_of(lsh_buckets(sigs))
    sections.append(("lsh_buckets (pinned by pair_edges)", p,
                     ["HashAggregate"]))
    checks.append(("pair_edges bucket agg partial",
                   p.count("HashAggregate") >= 2))
    pair_cap = 8
    planted = spark.range(pair_cap + 1).select(
        F.format_string("planted%02d", "id").alias("conv_id"),
        F.lit(0).alias("band_id"), F.lit(7).alias("sig_hi"),
        F.lit(7).alias("sig_lo"))
    giant_sigs = sigs.unionByName(planted.select(
        *[F.col(f.name).cast(f.dataType) for f in sigs.schema.fields]))
    p = plan_of(pair_edges(giant_sigs, pair_cap=pair_cap))
    sections.append(("pair_edges (verified-path candidates, giant bucket)",
                     p, ["HashAggregate", "ExistingRDD"]))
    checks.append(("pair_edges no cartesian product (giant plan: chain "
                   "planned)", "_csalt" in p
                   and "CartesianProduct" not in p
                   and "BroadcastNestedLoopJoin" not in p))
    checks.append(("pair_edges reads bucket stats from the pinned scan "
                   "(ExistingRDD, no count aggregate re-planned)",
                   "ExistingRDD" in p and "count(1)" not in p))

    # 8. embedding near-dup LSH path: bucketed, never cartesian, and
    # scored by the Arrow cosine kernel (udfs.with_cosine), not by an
    # interpreted zip_with/aggregate lambda per pair
    from minhash_rs_spark.operators.similarity import cosine_near_dup_pairs

    p = plan_of(cosine_near_dup_pairs(emb, 0.45, method="lsh",
                                      n_bits=4, num_tables=8))
    sections.append(("cosine_near_dup_pairs method=lsh", p, ["Join"]))
    checks.append(("embedding near-dup LSH no cartesian, no HOF lambda",
                   "CartesianProduct" not in p
                   and "BroadcastNestedLoopJoin" not in p
                   and not _hof(p)))

    # 8b. drop_pii_docs: inline per-row kill predicate (VERDICT r6 #3) —
    # no self-join, no exchange, pure filtered scan
    from minhash_rs_spark.operators.pii import drop_pii_docs

    p = plan_of(drop_pii_docs(docs_raw))
    sections.append(("drop_pii_docs (inline kill predicate)", p, ["Filter"]))
    checks.append(("drop_pii_docs has no join and no exchange",
                   "Join" not in p and "Exchange" not in p))

    # 9. distributed containment: shuffle by fingerprint, no coalesce(1)
    from minhash_rs_spark.operators.substring import containment_edges

    p = plan_of(containment_edges(asm, scope="distributed",
                                  kgram=8, window=32))
    sections.append(("containment_edges scope=distributed", p,
                     ["Exchange"]))
    checks.append(("distributed containment has no single-partition "
                   "coalesce", "Coalesce 1" not in p and
                   "CoalescedPartitionSpec(0, 1" not in p))
    checks.append(("distributed containment repartitions by fingerprint",
                   "hashpartitioning(key" in p))

    # 10. ann_topk (the recommended ANN surface): bucketed multi-table
    # join with the max_bucket skew guard, never cartesian
    from minhash_rs_spark.operators.similarity import ann_topk

    p = plan_of(ann_topk(emb, k=5, query_mod=50, n_bits=4, num_tables=8,
                         max_bucket=200))
    sections.append(("ann_topk (multi-table hyperplane LSH)", p, ["Join"]))
    checks.append(("ann_topk no cartesian, no HOF lambda",
                   "CartesianProduct" not in p
                   and "BroadcastNestedLoopJoin" not in p
                   and not _hof(p)))
    checks.append(("ann_topk max_bucket guard planned (bucket-size agg)",
                   p.count("HashAggregate") >= 2))

    # 11. exact dedup: the shuffle key must be the 128-bit fingerprint,
    # never the document text (at 100 TB the key would BE the corpus)
    from minhash_rs_spark.operators.exact_dedup import exact_cc

    p = plan_of(exact_cc(asm))
    sections.append(("exact_cc (fingerprint-keyed)", p, ["Exchange"]))
    # falsifiable form (the old `or "_fa" in p` fallback was vacuous —
    # ADVICE r3): every hashpartitioning line must key on the
    # fingerprint halves, and at least one such line must exist
    _hp = [ln for ln in p.splitlines() if "hashpartitioning" in ln]
    checks.append(("exact_cc shuffles on fingerprint, not doc_text",
                   bool(_hp) and any("_fa" in ln and "_fb" in ln
                                     for ln in _hp)))
    checks.append(("exact_cc no doc_text in any partitioning key",
                   all("doc_text" not in ln
                       for ln in p.splitlines() if "hashpartitioning" in ln)))

    # 12. idx-free cluster assignments: no Window operator anywhere
    from minhash_rs_spark.operators.annotate import cluster_assignments

    cc_df = exact_cc(asm)
    p = plan_of(cluster_assignments(asm.select("conv_id"), cc_df,
                                    with_idx=False))
    sections.append(("cluster_assignments with_idx=False", p,
                     ["HashAggregate"]))
    checks.append(("idx-free assignments contain no Window",
                   "Window" not in p))

    # 13. annotate-mode cc_idx: distributed two-phase ordinal — range
    # split + per-split windows only (never partitionBy(cc_id) over raw
    # members, which would serialize a mega-component into one task).
    # The ranked stage sits behind _cc_idx's lineage cut (the round-5
    # _pid-consistency fix), so its plan is audited via _cc_idx_ranked;
    # the downstream plan is audited for the cut itself + the bounded
    # offsets window. cluster_assignments takes the distributed plan
    # only above _CC_IDX_SINGLE_WINDOW_MAX cc rows, so the bound is
    # lowered to force it on this small input.
    import minhash_rs_spark.operators.annotate as annotate_mod
    from minhash_rs_spark.operators.annotate import _cc_idx_ranked

    p_rk = plan_of(_cc_idx_ranked(
        asm.select("conv_id").withColumn("cc_id", F.col("conv_id")), 8))
    sections.append(("_cc_idx_ranked (range split + local rank)", p_rk,
                     ["Window"]))
    _ws = [ln for ln in p_rk.splitlines() if "windowspecdefinition" in ln]
    checks.append(("cc_idx ranked window carries the range-split id "
                   "(_pid)", bool(_ws) and all("_pid" in ln for ln in _ws)))
    checks.append(("cc_idx ranked stage uses range partitioning",
                   "rangepartitioning" in p_rk))
    bound = annotate_mod._CC_IDX_SINGLE_WINDOW_MAX
    annotate_mod._CC_IDX_SINGLE_WINDOW_MAX = -1
    try:
        p = plan_of(cluster_assignments(asm.select("conv_id"), cc_df,
                                        with_idx=True))
    finally:
        annotate_mod._CC_IDX_SINGLE_WINDOW_MAX = bound
    sections.append(("cluster_assignments with_idx=True (distributed "
                     "cc_idx, post-cut)", p, ["Window"]))
    checks.append(("cc_idx ranked stage pinned behind one lineage cut "
                   "(ExistingRDD scan: _pid consistent for both "
                   "consumers)", "ExistingRDD" in p))
    _ws = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    checks.append(("cc_idx downstream windows all _pid-bounded (offsets "
                   "over per-split counts)",
                   bool(_ws) and all("_pid" in ln for ln in _ws)))

    # 14. giant-bucket chain edges: every chain window is salt-local
    from minhash_rs_spark.operators.lsh import chain_edges

    p = plan_of(chain_edges(sigs.select("band_id", "sig_hi", "sig_lo",
                                        "conv_id"),
                            ["band_id", "sig_hi", "sig_lo"]))
    sections.append(("chain_edges (salt-local Hamiltonian chain)", p,
                     ["Window"]))
    _ws = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    checks.append(("chain windows all salt-local (_csalt in every spec)",
                   bool(_ws) and all("_csalt" in ln for ln in _ws)))

    # 15. stride-pair verify anchor: equi-joins only (no cartesian, no
    # broadcast-nested-loop), no Window — the pair set is O(N log N)
    # and must stay that way in the physical plan
    p = plan_of(em.queries()["shingle_jaccard_pairs"](spark, sf_dir))
    sections.append(("shingle_jaccard_pairs (verify-kernel oracle anchor)",
                     p, ["Join"]))
    checks.append(("stride pairs: no cartesian/nested-loop join",
                   "Cartesian" not in p and "NestedLoop" not in p))
    checks.append(("stride pairs: no Window", "Window" not in p))

    # 16. verified edges: one path — the two shingle-array joins feed
    # the Arrow kernel directly, with no shingle-count join ahead of it
    from minhash_rs_spark.operators.verify import verified_edges

    sh_df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [1, 2, 3, 4]), ("c", [9, 10])],
        "conv_id string, shingles array<long>")
    e_df = spark.createDataFrame([("b", "a"), ("c", "a")],
                                 "src string, dst string")
    p = plan_of(verified_edges(e_df, sh_df, 0.8))
    sections.append(("verified_edges (exact-Jaccard kernel)", p,
                     ["MapInArrow"]))
    checks.append(("verify plan joins no shingle counts (n_src/n_dst "
                   "absent)", "n_src" not in p and "n_dst" not in p))
    # formatted plans name the stage "MapInArrow (n)" in the tree and
    # "(n) MapInArrow" in the details — count tree nodes only
    checks.append(("verify kernel runs once (single Arrow map stage)",
                   len(re.findall(r"MapInArrow \(\d+\)", p)) == 1))

    # 17. cc_idx small-input plan: a cc table under the bound (here the
    # exact_cc of the audit corpus) -> plain window, no range exchange
    p_fast = plan_of(cluster_assignments(asm.select("conv_id"), cc_df,
                                         with_idx=True))
    checks.append(("cc_idx small cc: no range partitioning",
                   "rangepartitioning" not in p_fast))
    checks.append(("cc_idx small cc: single cc_id window",
                   "windowspecdefinition" in p_fast))

    # 18. CC oracle anchor query: equi-joins only end-to-end
    p = plan_of(em.queries()["cc_stride_clusters"](spark, sf_dir))
    sections.append(("cc_stride_clusters (CC oracle anchor)", p, ["Join"]))
    checks.append(("cc anchor: no cartesian/nested-loop join",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 19. decontamination: bench shingle set broadcast (map-side hit
    # join, zero corpus shuffle), join keys are 64-bit hashes not text
    p = plan_of(em.queries()["decontam_ngram"](spark, sf_dir))
    sections.append(("decontam_ngram (benchmark decontamination)", p,
                     ["BroadcastHashJoin", "xxhash64"]))
    checks.append(("decontam: bench side broadcast (LeftSemi map-side)",
                   "BroadcastHashJoin" in p and "LeftSemi" in p))
    checks.append(("decontam: hit-join keys are xxhash64, not text",
                   "xxhash64" in p))
    checks.append(("decontam: no cartesian/nested-loop join",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 20. incremental exact dedup: history joins as 128-bit fingerprint
    # keys (never text), LeftSemi against the distinct-reduced old side
    p = plan_of(em.queries()["incremental_exact_dedup"](spark, sf_dir))
    sections.append(("incremental_exact_dedup (batch vs history)", p,
                     ["LeftSemi", "xxhash64"]))
    checks.append(("incremental exact: fingerprint keys in plan "
                   "(xxhash64 pair), LeftSemi hit join",
                   "xxhash64" in p and "LeftSemi" in p))
    checks.append(("incremental exact: text never a partitioning key",
                   "hashpartitioning(text" not in p.replace(" ", "")))

    # 21. incremental verified path: old-side candidate cap must be
    # salt-local (two-phase, bounded agg buffers) — a mega-bucket must
    # never stream all member ids into one collect_set
    from minhash_rs_spark.operators.incremental import dup_against_corpus
    sig_schema = "conv_id string, band_id int, sig_hi long, sig_lo long"
    sh_schema = "conv_id string, shingles array<long>"
    toy_old = spark.createDataFrame([("o1", 0, 1, 2)], sig_schema)
    toy_new = spark.createDataFrame([("n1", 0, 1, 2)], sig_schema)
    toy_old_sh = spark.createDataFrame([("o1", [1, 2])], sh_schema)
    toy_new_sh = spark.createDataFrame([("n1", [1, 2])], sh_schema)
    p = plan_of(dup_against_corpus(toy_new, toy_old, toy_new_sh,
                                   toy_old_sh, threshold=0.5))
    sections.append(("dup_against_corpus verified (salt-local old cap)",
                     p, ["pmod", "collect_set"]))
    checks.append(("incremental verified: old-side cap salt-local "
                   "(pmod salt feeds collect_set phase)", "pmod" in p))
    # round 6: phase 1 is a rank-filter window (sort-based, spills)
    # rather than a per-salt collect_set, so a degenerate bucket's
    # phase-1 buffers are O(old_cap), not O(|bucket|/64)
    checks.append(("incremental verified: phase-1 cap is a bounded "
                   "rank filter (row_number before collect_set)",
                   "row_number" in p))

    # 22b. compacted incremental history: the old side of the join
    # reads exactly ONE checkpoint — no generation table appears in
    # the plan's input files (<=1-table-after-compaction guarantee,
    # VERDICT r5 #5)
    import tempfile

    from minhash_rs_spark.config import MinHashConfig as _MC
    from minhash_rs_spark.operators.incremental import (
        compact_history,
        incremental_minhash,
    )
    from minhash_rs_spark.pipeline import config_fingerprint, run_minhash

    _ckd = tempfile.mkdtemp(prefix="plan_audit_ck_")
    cfg_c = _MC(checkpoint_dir=_ckd, annotate_only=False)
    t1 = spark.createDataFrame(
        [("a", 0, "alpha bravo charlie delta echo foxtrot golf")],
        "conv_id string, turn_idx int, text string")
    t2 = spark.createDataFrame(
        [("b", 0, "hotel india juliet kilo lima mike november")],
        "conv_id string, turn_idx int, text string")
    run_minhash(spark, t1, cfg_c, input_token="d1", upto="sigs")
    run_minhash(spark, t2, cfg_c, input_token="d2", upto="sigs")
    compact_history(spark, cfg_c, ["d1", "d2"], "hist")
    inc = incremental_minhash(spark, t1, cfg_c, batch_token="probe",
                              base_token="hist")
    files = set(inc.matches.inputFiles())
    gen_fps = {config_fingerprint(cfg_c, t) for t in ("d1", "d2")}
    checks.append(("compacted history: incremental old side reads ONLY "
                   "the compacted checkpoint (<=1 table)",
                   any(config_fingerprint(cfg_c, "hist") in f
                       for f in files)
                   and not any(fp in f for f in files for fp in gen_fps)))

    md = ["# PLANS — physical plan audit (local, AQE on)\n",
          "Generated by tools/plan_audit.py. Checks:\n"]
    fails = 0
    for name, ok in checks:
        md.append(f"- {'PASS' if ok else 'FAIL'} — {name}")
        fails += 0 if ok else 1
        print(("PASS " if ok else "FAIL ") + name)
    for title, plan, _ in sections:
        md.append(f"\n## {title}\n\n```\n{plan.strip()[:4000]}\n```")
    Path("PLANS.md").write_text("\n".join(md) + "\n")
    spark.stop()
    print(f"{'ALL PASS' if fails == 0 else f'{fails} FAILED'}; PLANS.md written")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
