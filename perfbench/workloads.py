"""The workloads. Each drives the program only through its public
functions. BENCHMARK.json runs ``verified_ckpt`` and ``simhash``, which
between them reach every layer; ``star`` runs by name.

``run`` is the timed, untraced pipeline call and returns the assignments
table for the checks. ``traced`` makes the same layer calls one at a
time, each inside a span with its output materialized, so the layers can
be timed from outside. ``extra_check`` and ``release`` run after the
timer stops.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minhash_rs_spark.config import MinHashConfig
from minhash_rs_spark.functions.udfs import (
    band_signature_rows_from_tokens,
    shingle_sets,
    shingle_sets_from_tokens,
)
from minhash_rs_spark.io.checkpoint import CheckpointManager
from minhash_rs_spark.operators.annotate import annotate_turns, cluster_assignments
from minhash_rs_spark.operators.connected_components import connected_components
from minhash_rs_spark.operators.doc_assembly import (
    assemble_documents,
    assemble_token_docs,
)
from minhash_rs_spark.operators.lsh import lsh_buckets, pair_edges, star_edges
from minhash_rs_spark.operators.simhash import (
    simhash_candidate_edges,
    simhash_cc,
    simhash_signatures,
    simhash_verified_edges,
)
from minhash_rs_spark.operators.verify import verified_edges
from minhash_rs_spark.pipeline import PipelineResult, config_fingerprint, run_minhash
from checks import CheckFailed
from tracing import Tracer

COLS = ("conv_id", "turn_idx", "text")


@dataclass
class Ctx:
    spark: SparkSession
    turns: DataFrame
    n_turns: int
    input_dir: Path
    run_out: Path  # per-run outputs, removed after every run


def _giant_buckets(sigs: DataFrame, pair_cap: int) -> int:
    return lsh_buckets(sigs).where(F.col("cnt") > pair_cap).count()


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Workload:
    conversations = 10_000  # corpus size
    crowds = 0  # planted crowds larger than pair_cap

    def run(self, ctx: Ctx) -> DataFrame:
        raise NotImplementedError

    def traced(self, ctx: Ctx, tr: Tracer) -> tuple[DataFrame, dict]:
        raise NotImplementedError

    def extra_check(self, ctx: Ctx, assignments: DataFrame) -> None:
        pass

    def release(self, ctx: Ctx, assignments: DataFrame) -> None:
        assignments.unpersist()
        shutil.rmtree(ctx.run_out, ignore_errors=True)


class Star(Workload):
    """Reference-parity flagship: run_minhash(MinHashConfig()) in memory."""

    def run(self, ctx):
        # the in-memory path persists and counts the assignments itself
        return run_minhash(ctx.spark, ctx.turns, MinHashConfig()).assignments

    def traced(self, ctx, tr):
        cfg = MinHashConfig()
        docs = tr.materialize("doc_assembly", lambda: assemble_token_docs(
            ctx.turns, *COLS, mode=cfg.tokenizer))
        sigs = tr.materialize("udfs.signatures",
                              lambda: band_signature_rows_from_tokens(docs, cfg))
        edges = tr.materialize("lsh", lambda: star_edges(sigs))
        cc = tr.materialize("connected_components", lambda: connected_components(
            edges, oriented=True, distinct_input=True), persist=False)
        doc_ids = ctx.turns.select("conv_id").distinct()
        assignments = tr.materialize(
            "annotate", lambda: cluster_assignments(doc_ids, cc))
        extra = {"lsh.giant_buckets": _giant_buckets(sigs, cfg.verify_pair_cap)}
        return assignments, extra


class VerifiedCkpt(Workload):
    """The CLI min-hash shape: Jaccard-verified, checkpointed, output
    table written, then collect_stats()."""

    conversations = 6_000
    crowds = 6

    def _cfg(self, ctx):
        return MinHashConfig(jaccard_threshold=0.8,
                             checkpoint_dir=str(ctx.run_out / "ckpt"))

    def run(self, ctx):
        res = run_minhash(ctx.spark, ctx.turns, self._cfg(ctx))
        res.output.write.parquet(str(ctx.run_out / "output"))
        stats = res.collect_stats()
        if not stats["row_complete"]:
            raise CheckFailed(f"collect_stats: {stats}")
        return res.assignments

    def extra_check(self, ctx, assignments):
        n = ctx.spark.read.parquet(str(ctx.run_out / "output")).count()
        if n != ctx.n_turns:
            raise CheckFailed(f"output table has {n} rows, input {ctx.n_turns}")

    def traced(self, ctx, tr):
        cfg = self._cfg(ctx)
        ckpt = CheckpointManager(ctx.spark, cfg.checkpoint_dir,
                                 config_fingerprint(cfg))

        def staged(stage, layer, build, persist=True):
            with tr.span("checkpoint") as s:
                df = ckpt.stage(stage, lambda: tr.materialize(
                    layer, build, persist=persist))
                s["rows"] = ckpt.rows_out(stage)
            return df

        docs = staged("docs", "doc_assembly", lambda: assemble_token_docs(
            ctx.turns, *COLS, mode=cfg.tokenizer))
        shingles = staged("shingles", "udfs.shingles",
                          lambda: shingle_sets_from_tokens(docs, cfg))
        sigs = staged("sigs", "udfs.signatures",
                      lambda: band_signature_rows_from_tokens(docs, cfg))
        edges = staged("edges", "lsh", lambda: pair_edges(
            sigs, pair_cap=cfg.verify_pair_cap))
        verified = staged("verified_edges", "verify", lambda: verified_edges(
            edges, shingles, cfg.jaccard_threshold))
        cc = staged("cc", "connected_components", lambda: connected_components(
            verified, oriented=True, distinct_input=True), persist=False)
        doc_ids = ctx.turns.select("conv_id").distinct()
        assignments = staged("assignments", "annotate", lambda: cluster_assignments(
            doc_ids, cc, n_docs_hint=ckpt.rows_out("docs")))
        with tr.span("annotate") as s:
            annotate_turns(ctx.turns, assignments).write.parquet(
                str(ctx.run_out / "output"))
            s["rows"] = ctx.n_turns
        with tr.span("pipeline") as s:
            stats = PipelineResult(docs, shingles, verified, assignments, None,
                                   cfg).collect_stats()
            s["rows"] = stats["documents"]
        if not stats["row_complete"]:
            raise CheckFailed(f"collect_stats: {stats}")
        extra = {
            "lsh.giant_buckets": _giant_buckets(sigs, cfg.verify_pair_cap),
            "lsh.candidate_precision": ckpt.rows_out("verified_edges")
            / ckpt.rows_out("edges"),
            "checkpoint.bytes_per_input_byte":
                _dir_bytes(Path(cfg.checkpoint_dir)) / _dir_bytes(ctx.input_dir),
        }
        return assignments, extra


class SimHash(Workload):
    """assemble_documents -> shingle_sets (Python tokenizer) -> simhash_cc
    -> cluster_assignments, in memory."""

    conversations = 20_000

    def run(self, ctx):
        docs = assemble_documents(ctx.turns, *COLS)
        cc = simhash_cc(shingle_sets(docs, MinHashConfig()))
        assignments = cluster_assignments(
            ctx.turns.select("conv_id").distinct(), cc).persist()
        assignments.count()
        return assignments

    def traced(self, ctx, tr):
        docs = tr.materialize("doc_assembly",
                              lambda: assemble_documents(ctx.turns, *COLS))
        shingles = tr.materialize("udfs.shingles",
                                  lambda: shingle_sets(docs, MinHashConfig()))
        # simhash_cc's own steps, so candidate and verified edges are counted
        sigs = tr.materialize("simhash", lambda: simhash_signatures(shingles),
                              rows=False)
        cand = tr.materialize("simhash", lambda: simhash_candidate_edges(sigs),
                              rows=False)
        ver = tr.materialize("simhash", lambda: simhash_verified_edges(cand, sigs))
        cc = tr.materialize("connected_components", lambda: connected_components(
            ver, oriented=True, distinct_input=True), persist=False)
        doc_ids = ctx.turns.select("conv_id").distinct()
        assignments = tr.materialize(
            "annotate", lambda: cluster_assignments(doc_ids, cc))
        precision = ver.count() / max(cand.count(), 1)
        return assignments, {"simhash.candidate_precision": precision}


WORKLOADS = {"star": Star(), "verified_ckpt": VerifiedCkpt(), "simhash": SimHash()}
