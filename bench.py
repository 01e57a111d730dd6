"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "turns": N,
   "turns_per_sec": ...}

The flagship number is the full MinHash fuzzy-dedup pipeline
(assemble -> shingle -> minhash -> LSH -> CC -> assignments) over the
transcripts synthesized from the documents table; turns_per_sec is the
BASELINE.md throughput metric. tools/scaling_bench.py runs this file at
two parallelism levels for the N-vs-4N scaling-efficiency proxy.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def host_alloc_gbs() -> float:
    """Fresh-page allocation bandwidth (GB/s), touching every 4 KiB
    page of a new 1 GB buffer. This VM's memory subsystem intermittently
    degrades host-side (measured 0.1-2.5 GB/s vs ~9+ healthy, identical
    commits varying 118 s vs 547 s — see BENCH/BASELINE.md); reporting
    it IN-BAND lets a reader attribute wall-clock swings to the host,
    not the engine."""
    import numpy as np

    t0 = time.time()
    a = np.zeros(1_000_000_000 // 8, dtype=np.int64)
    a[::512] = 1
    return round(1.0 / (time.time() - t0), 2)


def tree_cpu_seconds() -> float:
    """Total CPU seconds consumed so far by this process and every live
    descendant (JVM + forked Python workers), plus already-reaped
    children (cutime/cstime). Sampling this around a run gives the
    host-invariant 'total task time' numerator for the scaling bench's
    utilization metric: cpu / (wall * cores)."""
    clk = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    # build the descendant set from /proc ppids
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            ppid = int(parts[1])
            children.setdefault(ppid, []).append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    total = 0.0
    stack = [me]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            # utime stime cutime cstime = fields 14-17 (1-based), i.e.
            # parts[11:15] after the comm field split
            total += sum(int(x) for x in parts[11:15]) / clk
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(children.get(pid, []))
    return total


def wait_for_healthy_band(min_gbs: float = 1.9, attempts: int = 6,
                          sleep_s: float = 45.0) -> tuple[bool, list[float]]:
    """Gate the headline measurement on the host allocation band (the
    same protocol tools/scaling_bench.py uses): this VM's fresh-page
    path intermittently collapses (0.1-1.1 GB/s vs ~2+ healthy) and a
    run started in a degraded window measures the band lottery, not the
    engine — BENCH_r05's 40.4 s record vs the same commit's gated
    34.5 s. Probe up to `attempts` times, sleeping between; return
    (band_valid, all probe readings). On all-attempts-rejected the
    caller proceeds anyway (the driver needs a number) with
    band_valid=False stamped in the JSON as explicit evidence."""
    probes = []
    for i in range(attempts):
        g = host_alloc_gbs()
        probes.append(g)
        if g >= min_gbs:
            return True, probes
        print(f"# band probe {i}: {g} GB/s < {min_gbs} — waiting",
              file=sys.stderr)
        if i < attempts - 1:
            time.sleep(sleep_s)
    return False, probes


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    band_valid, band_probes = wait_for_healthy_band(
        min_gbs=float(os.environ.get("SPARK_GRAFT_BAND_MIN_GBS", "1.9")),
        attempts=int(os.environ.get("SPARK_GRAFT_BAND_ATTEMPTS", "6")))
    alloc_gbs = band_probes[-1]

    import __spark_entry__ as entrymod
    from minhash_rs_spark.session import get_spark

    # shuffle partitions size with the DATA, not the core count (the
    # 100 TB rule): at the default sf0.1 contract 8-32 is right, but a
    # 25M-turn scaling corpus at 8 partitions puts ~3M rows in each
    # shuffle partition and the job goes superlinear. Callers timing
    # big corpora (tools/scaling_bench.py) pin this explicitly — and
    # identically at every core count, so N-vs-4N legs compare plans,
    # not partition counts.
    shuf = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                              max(int(cpus), 8)))
    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=shuf)

    turns = entrymod._synth_turns(spark, sf_dir).cache()
    n_turns = turns.count()  # warm the cache + JVM before timing
    # warm the Python UDF workers (one-time ~20s fork+import cost that
    # would otherwise be billed to the first timed query)
    turns.mapInPandas(lambda it: it, turns.schema).count()

    times: dict[str, float] = {}

    # throughput flagship FIRST, on a quiet JVM: measured on this box,
    # running it after the suite leaves checkpoint RDD blocks + shuffle
    # state behind that inflate the pinned-core run several-fold
    from minhash_rs_spark.config import MinHashConfig
    from minhash_rs_spark.data.transcripts import transcripts_spark_distributed
    from minhash_rs_spark.pipeline import run_minhash

    turns_parquet = os.environ.get("SPARK_GRAFT_TURNS_PARQUET")
    if turns_parquet:
        # scaling-bench mode: both parallelism levels read the SAME
        # pre-generated corpus; generation cost is excluded and the
        # corpus needn't fit in executor memory (parquet re-scan is
        # parallel and page-cache-warm)
        big_turns = spark.read.parquet(turns_parquet)
        n_big = big_turns.count()
    else:
        n_base = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "20000"))
        big_turns = transcripts_spark_distributed(
            spark, n_base=n_base, seed=42).cache()
        n_big = big_turns.count()
    # scaling-bench mode: untimed warm-up runs fault in the JVM heap and
    # Python-worker arenas once — this VM's fresh-page-fault path is
    # intermittently pathological (0.01 GB/s) while mapped-page reuse
    # stays ~8 GB/s, so timing a cold first run measures the host's
    # fault handler, not the engine (BENCH/BASELINE.md)
    # default 1: one untimed warm-up so the timed flagship measures the
    # engine, not this VM's first-touch fault handler (the cold run
    # measured 24.8s vs 7.4-8.6s warm on the same commit+minute)
    warmups = int(os.environ.get("SPARK_GRAFT_WARMUP_RUNS", "1"))
    timed_runs = max(1, int(os.environ.get("SPARK_GRAFT_TIMED_RUNS", "1")))
    warmup_walls = []
    for i in range(warmups):
        t0 = time.time()
        run_minhash(spark, big_turns, MinHashConfig()).assignments.count()
        warmup_walls.append(round(time.time() - t0, 3))
        print(f"# flagship warmup {i}: {warmup_walls[-1]:.1f}s",
              file=sys.stderr)
    # timed flagship attempts: the start gate can't see a MID-RUN band
    # collapse (observed: 2.14 GB/s at start, 0.02 after — the suite
    # ran 2x slow). Each attempt is stamped with its end-of-attempt
    # alloc probe; an attempt whose window collapsed below half the
    # gate is retried (up to SPARK_GRAFT_FLAGSHIP_ATTEMPTS, default 3)
    # after re-entering a healthy band. The LAST valid attempt is the
    # record; every attempt stays in the JSON so a reader can audit.
    min_gbs = float(os.environ.get("SPARK_GRAFT_BAND_MIN_GBS", "1.9"))
    max_attempts = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_ATTEMPTS", "3"))
    attempts = []
    flagship_walls, flagship_cpus = [], []
    n_asg = 0
    for attempt in range(max_attempts):
        walls, cpus_l = [], []
        for _ in range(timed_runs):
            cpu0, t0 = tree_cpu_seconds(), time.time()
            res = run_minhash(spark, big_turns, MinHashConfig())
            n_asg = res.assignments.count()
            walls.append(round(time.time() - t0, 3))
            cpus_l.append(round(tree_cpu_seconds() - cpu0, 1))
        end_gbs = host_alloc_gbs()
        valid = end_gbs >= min_gbs / 2
        attempts.append({"walls": walls, "cpu": cpus_l,
                         "end_alloc_gbs": end_gbs, "band_valid": valid})
        print(f"# flagship attempt {attempt}: {walls} end_alloc "
              f"{end_gbs} valid={valid}", file=sys.stderr)
        flagship_walls, flagship_cpus = walls, cpus_l
        if valid:
            break
        if attempt < max_attempts - 1:
            wait_for_healthy_band(min_gbs, attempts=4, sleep_s=30.0)
    ranked = sorted(zip(flagship_walls, flagship_cpus))
    med, flagship_cpu = ranked[len(ranked) // 2]
    times["synthetic_flagship"] = med
    print(f"# synthetic_flagship: {med}s (runs {flagship_walls}, "
          f"cpu {flagship_cpu}s) ({n_big} turns -> {n_asg} convs)",
          file=sys.stderr)
    if not turns_parquet:
        big_turns.unpersist()
    spark.catalog.clearCache()

    flagship_only = os.environ.get("SPARK_GRAFT_FLAGSHIP_ONLY") == "1"
    qs = entrymod.queries()
    headline = [
        "minhash_clusters",
        "minhash_clusters_verified",
        "exact_dup_annotate",
        "simhash_clusters",
        "token_stats",
        "quality_stats",
        "fingerprint",
        "embedding_topk",
        "embedding_lsh_topk",
        "doc_assembly_roundtrip",
    ]
    # suite-level band protection: a query whose window COLLAPSED
    # (end-of-query probe under half the gate) is re-measured once in a
    # fresh healthy band — bounded by SPARK_GRAFT_SUITE_RETRIES total so
    # a permanently-degraded host still terminates. Each query's
    # end-probe is stamped in suite_end_gbs; retried queries list both
    # measurements in suite_retried.
    suite_retries = int(os.environ.get("SPARK_GRAFT_SUITE_RETRIES", "3"))
    suite_end_gbs: dict[str, float] = {}
    suite_retried: dict[str, list[float]] = {}
    for name in headline if not flagship_only else []:
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()
        times[name] = round(time.time() - t0, 3)
        # pipeline queries persist intermediates; drop them so successive
        # measurements (and the flagship below) run on a clean heap
        spark.catalog.clearCache()
        g = host_alloc_gbs()
        suite_end_gbs[name] = g
        if g < min_gbs / 2 and suite_retries > 0:
            suite_retries -= 1
            print(f"# {name}: {times[name]}s but window collapsed "
                  f"({g} GB/s) — retrying in a healthy band",
                  file=sys.stderr)
            wait_for_healthy_band(min_gbs, attempts=4, sleep_s=30.0)
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            retry_t = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            suite_retried[name] = [times[name], retry_t]
            times[name] = retry_t
            suite_end_gbs[name] = host_alloc_gbs()
        print(f"# {name}: {times[name]}s ({n} rows)", file=sys.stderr)

    total = round(sum(times.values()), 3)
    flagship = times["synthetic_flagship"]
    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": int(cpus),
        "turns": n_big,
        "sf_turns": n_turns,
        "flagship_sec": flagship,
        # cold = first run on the fresh JVM (the warm-up wall when
        # warm-ups are on, else the first timed run). Compare cold to
        # cold and warm (flagship_sec) to warm across rounds — BENCH_r02
        # vs r03 were confounded by exactly this (BENCH/BASELINE.md)
        "flagship_cold_sec": (warmup_walls[0] if warmup_walls
                              else flagship_walls[0]),
        "flagship_warmup_runs": warmup_walls,
        "flagship_runs": flagship_walls,
        "flagship_cpu_sec": flagship_cpu,
        "flagship_util": round(flagship_cpu / (flagship * int(cpus)), 3)
        if flagship else None,
        "turns_per_sec": round(n_big / flagship, 1) if flagship else None,
        "host_alloc_gbs": alloc_gbs,
        "host_alloc_gbs_after": host_alloc_gbs(),
        "band_valid": band_valid and attempts[-1]["band_valid"],
        "band_probes": band_probes,
        "flagship_attempts": attempts,
        "suite_end_gbs": suite_end_gbs,
        "suite_retried": suite_retried,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
