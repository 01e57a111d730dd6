"""Host-invariant prefilter evidence (round-5 VERDICT ask #2 follow-up).

The CPU A/B for the exact length-ratio prefilter (verify.verified_edges;
SPARK_GRAFT_NO_RATIO_PREFILTER hook) kept getting alloc-gate-rejected —
this box's fault path makes core-seconds non-host-invariant (BENCH/
SCALING2.md). This script measures what the host CANNOT inflate: on the
10M-turn paircap corpus with the shipped verified config (t=0.8,
pair_cap=32), the deterministic counts

  * candidate edges emitted by pair_edges,
  * edges surviving the exact min/max shingle-count ratio bound,
  * survivors passing exact Jaccard (work that is genuinely needed).

dropped_frac is exactly the fraction of heavy shingle-array join +
intersection-kernel work the prefilter provably eliminates on this
workload; survivor_precision says how close the bound is to the exact
check. Usage: python tools/prefilter_fraction.py [corpus_path]
"""
import sys

sys.path.insert(0, "/root/repo")
import pyspark.sql.functions as F

from minhash_rs_spark.session import get_spark
from minhash_rs_spark.config import MinHashConfig
from minhash_rs_spark.operators.doc_assembly import assemble_token_docs
from minhash_rs_spark.functions.udfs import (
    shingle_sets_from_tokens,
    band_signature_rows_from_tokens,
)
from minhash_rs_spark.operators.lsh import pair_edges
from minhash_rs_spark.operators.verify import edges_with_jaccard

corpus = sys.argv[1] if len(sys.argv) > 1 else \
    "/tmp/scaling_corpus/turns_1100000"
spark = get_spark("prefilter-fraction", master="local[32]",
                  shuffle_partitions=64)
turns = spark.read.parquet(corpus)
cfg = MinHashConfig(jaccard_threshold=0.8, verify_pair_cap=32)

# the pipeline's own jvm-token seam (pipeline.run_minhash lines 109-163)
docs = assemble_token_docs(turns, cfg.conv_col, cfg.order_col,
                           cfg.text_col, mode=cfg.tokenizer).persist()
shingles = shingle_sets_from_tokens(docs, cfg).persist()
sigs = band_signature_rows_from_tokens(docs, cfg)
edges = pair_edges(sigs, pair_cap=cfg.verify_pair_cap).persist()

t = cfg.jaccard_threshold
sizes = shingles.select("conv_id", F.size("shingles").alias("n_sh"))
pre = (edges
       .join(sizes.select(F.col("conv_id").alias("src"),
                          F.col("n_sh").alias("n_src")), "src")
       .join(sizes.select(F.col("conv_id").alias("dst"),
                          F.col("n_sh").alias("n_dst")), "dst"))
row = pre.agg(
    F.count("*").alias("total"),
    F.sum((F.least("n_src", "n_dst").cast("double")
           >= (F.lit(float(t)) - F.lit(1e-9))
           * F.greatest("n_src", "n_dst").cast("double")).cast("long")
          ).alias("survive")).collect()[0]
total, survive = row["total"], row["survive"]

# of the survivors, how many pass the exact check (identical predicate
# to verified_edges' post-filter)
surv_edges = (pre.where(
    F.least("n_src", "n_dst").cast("double")
    >= (F.lit(float(t)) - F.lit(1e-9))
    * F.greatest("n_src", "n_dst").cast("double"))
    .select("src", "dst"))
kept = (edges_with_jaccard(surv_edges, shingles)
        .where(F.col("jaccard") >= F.lit(t)).count())

print({"corpus": corpus,
       "candidate_edges": total,
       "survive_ratio_bound": survive,
       "dropped": total - survive,
       "dropped_frac": round(1 - survive / total, 4) if total else None,
       "pass_exact": kept,
       "survivor_precision": round(kept / survive, 4) if survive else None},
      flush=True)
spark.stop()
