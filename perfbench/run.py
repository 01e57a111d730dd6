"""Repository benchmark: one workload per invocation, run from the root
of a checkout.

    python3 perfbench/run.py --workload verified_ckpt --seed 1 --seconds 10 --trace 0

Each invocation generates its corpus from ``--seed`` (cached under
``perfbench/_work``), starts one Spark session at ``local[<cores>]``,
times one cold and then warm pipeline calls for ``--seconds`` seconds
(at least MIN_WARM of them), and checks every run's output. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` one more, traced call yields the
per-layer ledger.

The session is set here, not by the program's defaults: one process,
``local[<cores>]``, 2 x cores shuffle partitions and a fixed 2g Spark
driver heap.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import corpus  # noqa: E402
from procstat import MemPeak, tree_cpu_s  # noqa: E402

CORES = len(os.sched_getaffinity(0))
HEAP = "2g"
SETUPS = 3
MIN_WARM = 2
KEEP_CORPORA = 6
UNITS = {"wall_s": "s", "rows_out": "rows", "jobs": "count", "tasks": "count",
         "failed_tasks": "count", "executor_cpu_s": "s", "python_cpu_s": "s",
         "shuffle_write_mb": "MB", "spill_mb": "MB"}


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.2f}s: {msg}", file=sys.stderr)


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--conversations", type=int,
                    help="corpus size (default: the workload's own)")
    return ap.parse_args(argv)


def load_corpus(workload, n_conv: int, seed: int) -> tuple[Path, dict]:
    """The workload's corpus, written on first use; the oldest cached
    corpora beyond KEEP_CORPORA are removed."""
    root = WORK / "corpus"
    out = root / f"n{n_conv}-crowds{workload.crowds}-seed{seed}"
    truth = corpus.write_corpus(out, n_conv, seed, crowds=workload.crowds)
    os.utime(out)
    cached = sorted(root.iterdir(), key=lambda p: p.stat().st_mtime)
    for old in cached[:-KEEP_CORPORA]:
        shutil.rmtree(old, ignore_errors=True)
    return out / "turns", truth


def spark_conf(run_dir: Path, trace: bool) -> dict:
    conf = {
        # a fixed-size heap: early runs do not pay for heap growth
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.local.dir": str(run_dir / "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _passthrough(batches):
    yield from batches


def launch_jvm(conf: dict) -> float:
    """Starts the Spark JVM with the launch-time settings; returns its
    start-up seconds, which ``setup_s`` then leaves out."""
    from pyspark import SparkConf, SparkContext

    t0 = time.perf_counter()
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    return time.perf_counter() - t0


def setup(conf: dict, input_dir: Path):
    """Session, corpus load and Python-worker warm-up: ready for a run."""
    from minhash_rs_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=2 * CORES, extra_conf=conf)
    turns = spark.read.parquet(str(input_dir))
    n_turns = turns.count()
    turns.select("conv_id").mapInArrow(_passthrough, "conv_id string").count()
    return spark, turns, n_turns


def stop_spark(spark) -> None:
    """Stops the session and the JVM, and waits for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    """Times pipeline calls and checks each one; a run that raises or
    fails a check counts as failed and its time is not kept."""

    def __init__(self, workload, ctx, truth):
        self.workload, self.ctx, self.truth = workload, ctx, truth
        self.attempted = self.failed = 0
        self.digest = None
        self.quality = None

    def check(self, assignments) -> None:
        try:
            pdf = assignments.select("conv_id", "cc_id").toPandas()
            self.workload.extra_check(self.ctx, assignments)
            quality = checks.score(pdf, self.truth)
            digest = checks.digest(pdf)
            if self.digest is not None and digest != self.digest:
                raise checks.CheckFailed("assignments differ between runs")
            self.digest, self.quality = digest, quality
        finally:
            self.workload.release(self.ctx, assignments)

    def timed(self, call):
        """-> (wall seconds, tree CPU seconds, call's result), or None."""
        self.attempted += 1
        try:
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            out = call()
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            assignments = out[0] if isinstance(out, tuple) else out
            self.check(assignments)
            log(f"run {self.attempted}: {wall:.3f} s wall, {cpu:.1f} s cpu")
            return wall, cpu, out
        except Exception:  # one failed run must not end the benchmark
            traceback.print_exc()
            self.failed += 1
            shutil.rmtree(self.ctx.run_out, ignore_errors=True)
            return None


def measure(runner: Runner, seconds: float,
            min_warm: int) -> tuple[float | None, list]:
    """One cold run, then warm runs until ``seconds`` have passed and at
    least ``min_warm`` of them succeeded."""
    run = lambda: runner.workload.run(runner.ctx)  # noqa: E731
    cold = runner.timed(run)
    warm = []
    t0 = time.perf_counter()
    while len(warm) < min_warm or time.perf_counter() - t0 < seconds:
        r = runner.timed(run)
        if r is not None:
            warm.append(r)
        elif runner.failed > runner.attempted // 2:
            break
    return (cold[0] if cold else None), warm


def end_to_end(args, workload, input_dir, truth, conf, run_dir) -> tuple:
    launch_jvm(conf)
    setups = []
    for k in range(SETUPS):
        if k:
            spark.stop()
        t0 = time.perf_counter()
        spark, turns, n_turns = setup(conf, input_dir)
        setups.append(time.perf_counter() - t0)
        log(f"setup {k + 1}: {setups[-1]:.3f} s")
    from workloads import Ctx

    ctx = Ctx(spark, turns, n_turns, input_dir, run_dir / "out")
    runner = Runner(workload, ctx, truth)
    try:
        with MemPeak() as mem:
            cold_s, warm = measure(runner, args.seconds, MIN_WARM)
    finally:
        stop_spark(spark)
    metrics = {}
    if warm and cold_s is not None:
        run_s = statistics.median(w for w, _, _ in warm)
        metrics = {
            "run_s": (run_s, "s"),
            "turns_per_s": (n_turns / run_s, "turns/s"),
            "cold_run_s": (cold_s, "s"),
            "setup_s": (statistics.median(setups), "s"),
            "cpu_s_per_mturn": (statistics.median(c for _, c, _ in warm)
                                / n_turns * 1e6, "core-s/Mturn"),
            "peak_rss_mb": (mem.peak_mb, "MB"),
            "exact_dup_recall": (runner.quality["exact_dup_recall"], "ratio"),
            "near_dup_recall": (runner.quality["near_dup_recall"], "ratio"),
            "cluster_purity": (runner.quality["cluster_purity"], "ratio"),
            "success_frac": (1 - runner.failed / runner.attempted, "ratio"),
        }
    return runner, metrics


def per_layer(args, workload, input_dir, truth, conf, run_dir) -> tuple:
    from tracing import LAYER_FIELDS, Tracer, fold_event_log
    from workloads import Ctx

    jvm_s = launch_jvm(conf)
    spark, turns, n_turns = setup(conf, input_dir)
    ctx = Ctx(spark, turns, n_turns, input_dir, run_dir / "out")
    runner = Runner(workload, ctx, truth)
    tracer = Tracer(spark)
    try:
        _, warm = measure(runner, 0, 1)
        traced = runner.timed(lambda: workload.traced(ctx, tracer))
        job_stats = tracer.job_stats()
        tracer.release()
    finally:
        stop_spark(spark)
    if not warm or traced is None:
        return runner, {}
    run_s = warm[0][0]
    extra = traced[2][1]
    logs = list((run_dir / "eventlog").iterdir())
    ledger = tracer.ledger(job_stats, fold_event_log(logs[0]))
    metrics = {f"{layer}.{field}": (row[field], UNITS[field])
               for layer, row in ledger.items() for field in LAYER_FIELDS}
    total = tracer.total_s()
    metrics.update({
        "lsh.candidate_precision": (extra.get("lsh.candidate_precision", 0), "ratio"),
        "lsh.giant_buckets": (extra.get("lsh.giant_buckets", 0), "count"),
        "simhash.candidate_precision":
            (extra.get("simhash.candidate_precision", 0), "ratio"),
        "checkpoint.bytes_per_input_byte":
            (extra.get("checkpoint.bytes_per_input_byte", 0), "ratio"),
        "trace.total_s": (total, "s"),
        "trace.overhead_frac": ((total - run_s) / run_s, "ratio"),
        "trace.jobs": (sum(j for j, _, _ in job_stats.values()), "count"),
        "setup.jvm_start_s": (jvm_s, "s"),
    })
    return runner, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    input_dir, truth = load_corpus(
        workload, args.conversations or workload.conversations, args.seed)
    log(f"corpus: {truth['turns']} turns, {truth['conversations']} conversations")
    run_dir = WORK / f"run-{os.getpid()}"
    for sub in ("tmp", "local", "eventlog"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    # the JVM and its Python workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # no JVM perf-data files in /tmp, from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tempfile.tempdir = str(run_dir / "tmp")
    conf = spark_conf(run_dir, bool(args.trace))
    try:
        fn = per_layer if args.trace else end_to_end
        runner, metrics = fn(args, workload, input_dir, truth, conf, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log("session stopped")
    result = {
        "correct": runner.failed == 0 and bool(metrics),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
