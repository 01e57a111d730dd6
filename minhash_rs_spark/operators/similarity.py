"""Similarity search over embedding columns (task brief: ANN over
array<float> — brute-force cosine top-k baseline + an LSH-bucketed
scale path).

Every surface scores cosine with one numpy fold (udfs._fold): row
pairs produced by the surface's own joins go through udfs.with_cosine,
query x candidate blocks through _arrow_topk. Bucketing is one batched
numpy matmul per Arrow batch. At 100 TB scale:
  - brute-force: broadcast the (small) query set, scan candidates once,
    per-batch partial top-k, exact rank via window; O(|Q| * N) dot
    products but a single pass, no shuffle of the big side. The
    all-pairs variant (cosine_near_dup_pairs method="brute") is the
    exact small-scale baseline only.
  - multi-table random-hyperplane sign-LSH (Charikar 2002): num_tables
    independent tables of n_bits random projections; candidates are
    same-(table, bucket) pairs, cosine-verified. Recall bound is
    closed-form (lsh_pair_recall) so parameters are sized per regime
    instead of guessed. This is the scale path for both near-dup pairs
    and ann_topk.
  - lsh_topk (axis-plane single table) is kept as the simplest
    oracle-expressible sketch; ann_topk supersedes it at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from minhash_rs_spark.functions.udfs import _fold, _list_matrix, with_cosine


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos_sim", 6).alias("cos_sim_r")))


def _np_sign_bucket(M, n_bits: int):
    """Bucket key: the sign bits of the first n_bits components as an
    int, b = fold(b*2 + (x_i >= 0)) — the embedding_lsh_topk oracle's
    CASE WHEN x_i >= 0 bucket (-0.0 counts as non-negative; NaN compares
    false on both engines)."""
    import numpy as np

    b = np.zeros(M.shape[0], dtype=np.int64)
    for i in range(n_bits):
        b = b * 2 + (M[:, i] >= 0)
    return b


def _arrow_topk(embeddings: DataFrame, k: int, query_mod: int,
                id_col: str, vec_col: str,
                n_bits: int | None = None) -> DataFrame:
    """Shared scan kernel for brute_force_topk / lsh_topk (guide §4.2):
    the O(|Q| * N) scoring loop runs as one numpy pass per Arrow batch
    instead of |Q| * N interpreted JVM higher-order-function calls.

    Shape: the query set (N / query_mod rows) is collected once and
    closed over (the moral equivalent of the broadcast the old
    crossJoin plan did); the candidate side is scanned ONCE with
    mapInArrow emitting only each batch's per-query top-k (plus
    boundary ties — a candidate tied on cos with the batch's k-th is
    kept so the global winner by (cos desc, neighbor_id) is never
    dropped); the final exact rank is a window over the tiny partial
    set (|Q| * ~k per batch). No shuffle ever carries a vector.

    Scores come from udfs._fold, the arithmetic with_cosine uses on the
    join-based surfaces, so every surface ranks alike. NaN cosines
    (zero-norm vectors) sort first, as on those surfaces (Spark treats
    NaN as greater than any double; the in-kernel select key maps NaN
    to +inf)."""
    import numpy as np

    spark = embeddings.sparkSession
    from pyspark.sql import types as T

    import pyarrow as pa

    q_tbl = (embeddings
             .where(F.pmod(F.col(id_col), F.lit(query_mod)) == 0)
             .select(F.col(id_col).cast("long").alias("qid"),
                     F.col(vec_col).alias("qv"))
             .toArrow())
    out_schema = T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField("neighbor_id", T.LongType(), False),
        T.StructField("cos_sim", T.DoubleType(), False),
    ])
    if q_tbl.num_rows == 0:
        partial = spark.createDataFrame([], out_schema)
        return _ranked_topk(partial, k)
    qids = q_tbl.column("qid").to_numpy(zero_copy_only=False)
    Q = _list_matrix(q_tbl.column("qv"))
    order = np.argsort(qids)
    qids, Q = qids[order], np.ascontiguousarray(Q[order])
    if n_bits is not None and n_bits > Q.shape[1]:
        raise ValueError(
            f"n_bits={n_bits} exceeds the embedding dimension "
            f"{Q.shape[1]}: the sign bucket reads the first n_bits "
            "components")
    qn = np.sqrt(_fold(Q, Q))
    qb = _np_sign_bucket(Q, n_bits) if n_bits is not None else None
    nq = len(qids)
    # executor-side broadcast of the query matrices (not a closure
    # capture): one torrent distribution instead of re-serializing with
    # every stage's task binary. Driver memory bound = the query SIDE
    # (N/query_mod rows x dim) — the same side the old plan collected
    # for its BroadcastNestedLoopJoin; brute-force topk is documented
    # as the small/oracle baseline, ann_topk/ivf_topk are the scale
    # surfaces.
    bc = spark.sparkContext.broadcast((qids, Q, qn, qb))
    # bound the (|Q| x chunk) float64 temporaries to ~32 MB per worker
    chunk = max(256, 4_000_000 // max(nq, 1))

    def score_topk(Qs, qns, qidss, Cs, cns, idcs):
        """Per-(query-slice x candidate-slice) exact scoring + top-k
        (with boundary ties) selection. Returns (qi, ci, cos)."""
        cos = _fold(Qs[:, None], Cs[None]) / (qns[:, None] * cns[None, :])
        valid = qidss[:, None] != idcs[None, :]
        keys = np.where(valid, np.where(np.isnan(cos), np.inf, cos),
                        -np.inf)
        m = Cs.shape[0]
        if m > k:
            kth = np.partition(keys, m - k, axis=1)[:, m - k]
            emit = valid & (keys >= kth[:, None])
        else:
            emit = valid
        qi, ci = np.nonzero(emit)
        return qi, ci, cos

    def fn(batches):
        qids, Q, qn, qb = bc.value
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            C = _list_matrix(rb.column(1))
            for c0 in range(0, n, chunk):
                Cc = C[c0:c0 + chunk]
                idc = ids[c0:c0 + chunk]
                cn = np.sqrt(_fold(Cc, Cc))
                if qb is None:
                    qi, ci, cos = score_topk(Q, qn, qids, Cc, cn, idc)
                    out_q, out_c = qids[qi], idc[ci]
                    out_cos = cos[qi, ci]
                else:
                    # score only within matching sign buckets: each
                    # query's candidates all sit in its own bucket, so
                    # per-bucket scoring is exhaustive and ~2^n_bits
                    # cheaper than the masked full product
                    cb = _np_sign_bucket(Cc, n_bits)
                    chunks_q, chunks_c, chunks_cos = [], [], []
                    for v in np.unique(qb):
                        sq = np.flatnonzero(qb == v)
                        sc = np.flatnonzero(cb == v)
                        if len(sq) == 0 or len(sc) == 0:
                            continue
                        qi, ci, cos = score_topk(
                            np.ascontiguousarray(Q[sq]), qn[sq], qids[sq],
                            np.ascontiguousarray(Cc[sc]), cn[sc], idc[sc])
                        chunks_q.append(qids[sq][qi])
                        chunks_c.append(idc[sc][ci])
                        chunks_cos.append(cos[qi, ci])
                    if not chunks_q:
                        continue
                    out_q = np.concatenate(chunks_q)
                    out_c = np.concatenate(chunks_c)
                    out_cos = np.concatenate(chunks_cos)
                if len(out_q) == 0:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_q), pa.array(out_c), pa.array(out_cos)],
                    names=["query_id", "neighbor_id", "cos_sim"])

    cand = embeddings.select(F.col(id_col).cast("long").alias(id_col),
                             F.col(vec_col))
    # scale-adaptive parallelism (guide §2): a small local table arrives
    # as 1-2 parquet splits, serializing the numpy kernel; spread it
    # over the cores. At scale input splits >> cores and this is a no-op
    # (no shuffle of the vector payload).
    par = spark.sparkContext.defaultParallelism
    if cand.rdd.getNumPartitions() < par:
        cand = cand.repartition(par)
    partial = cand.mapInArrow(fn, out_schema)
    return _ranked_topk(partial, k)


def brute_force_topk(embeddings: DataFrame, k: int = 5,
                     query_mod: int = 50,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: queries = rows with id % query_mod == 0,
    candidates = all other rows. Output (query_id, neighbor_id, rank,
    cos_sim_r).

    Round 7: executed by _arrow_topk (single-scan numpy batch kernel,
    bitwise-identical floats) — the old crossJoin + per-pair JVM
    higher-order-function plan spent ~107 s at the driver's sf1.0
    (20k x 400 pairs through interpreted aggregate/zip_with).

    NULL embedding rows or elements fail loudly (ValueError) rather
    than rank; filter them before calling."""
    return _arrow_topk(embeddings, k, query_mod, id_col, vec_col)


def lsh_topk(embeddings: DataFrame, k: int = 5, query_mod: int = 50,
             n_bits: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: score only same-sign-bucket pairs.

    NOT the recommended surface — this single-table axis-plane sketch
    exists because it is exactly expressible in ANSI SQL, which makes
    it the driver's hash-gated oracle query (embedding_lsh_topk). For
    real workloads use ann_topk (multi-table random hyperplanes,
    tunable recall via lsh_pair_recall, bucket sizing guidance in
    cosine_near_dup_pairs' docstring): one fixed axis-aligned table
    has unbounded misses for vectors near axis hyperplanes and no
    recall knob.

    Round 7: same _arrow_topk kernel as brute_force_topk, scoring only
    within matching _np_sign_bucket buckets — replaces the bucket
    equi-join + per-pair JVM cosine.

    NULL embedding rows or elements fail loudly (ValueError) rather
    than rank; filter them before calling. n_bits larger than the
    embedding dimension is a ValueError naming both values."""
    return _arrow_topk(embeddings, k, query_mod, id_col, vec_col,
                       n_bits=n_bits)


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.45,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          method: str = "brute",
                          n_bits: int = 8, num_tables: int = 16,
                          seed: int = 0,
                          max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (task brief): all (a < b)
    pairs with cosine >= threshold. Output ids only (vec_a, vec_b):
    float scores stay engine-internal so downstream equality checks
    never compare floats.

    method="brute": exact O(n^2) scoring — the small-scale baseline and
    the oracle for the LSH path's recall tests. Dead at 100x scale.

    method="lsh": multi-table random-hyperplane sign-LSH — the scale
    path. Each of num_tables tables buckets a vector by the sign
    pattern of n_bits random projections; candidates are same-(table,
    bucket) pairs only, each verified by exact cosine. No cartesian
    product anywhere in the plan. Per-pair recall at angle theta is
    1 - (1 - (1 - theta/pi)^n_bits)^num_tables — use lsh_pair_recall()
    to size (n_bits, num_tables) for a target threshold: high-cosine
    regimes (true near-dups, cos >= 0.9) reach ~1.0 recall with the
    defaults; low thresholds need fewer bits / more tables and
    eventually favor brute (hyperplane LSH cannot cheaply separate
    cos ~ 0.45 from random — the candidate volume approaches n^2).

    max_bucket: optional skew guard — (table, bucket) groups larger
    than this are dropped from candidate generation (a degenerate
    all-zeros embedding crowd would otherwise produce a quadratic
    bucket). At scale, size n_bits so E[bucket] = N / 2^n_bits stays
    in the hundreds instead.

    Both methods score pairs with udfs.with_cosine. A pair with a
    zero-norm vector scores NaN and is never a near-dup; NULL or
    ragged embeddings raise ValueError.
    """
    if method == "brute":
        a = embeddings.select(F.col(id_col).alias("vec_a"),
                              F.col(vec_col).alias("va"))
        b = embeddings.select(F.col(id_col).alias("vec_b"),
                              F.col(vec_col).alias("vb"))
        return _near_dups(a.crossJoin(b)
                          .where(F.col("vec_a") < F.col("vec_b")), threshold)
    if method != "lsh":
        raise ValueError(f"unknown method {method!r}")

    dim = _infer_dim(embeddings, vec_col)
    planes = hyperplanes(dim, n_bits, num_tables, seed)
    buckets = hyperplane_buckets(embeddings, planes, n_bits, num_tables,
                                 id_col, vec_col)
    if max_bucket is not None:
        sizes = (buckets.groupBy("table_id", "bucket")
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .where(F.col("cnt") <= max_bucket)
                 .select("table_id", "bucket"))
        buckets = buckets.join(sizes, ["table_id", "bucket"])
    cand = (buckets.alias("x")
            .join(buckets.alias("y"), ["table_id", "bucket"])
            .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(F.col(f"x.{id_col}").alias("vec_a"),
                    F.col(f"y.{id_col}").alias("vec_b"))
            .distinct())
    e = embeddings.select(F.col(id_col), F.col(vec_col))
    return _near_dups(cand
                      .join(e.select(F.col(id_col).alias("vec_a"),
                                     F.col(vec_col).alias("va")), "vec_a")
                      .join(e.select(F.col(id_col).alias("vec_b"),
                                     F.col(vec_col).alias("vb")), "vec_b"),
                      threshold)


def _near_dups(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, va, vec_b, vb) pairs -> the (vec_a, vec_b) ids with cosine
    >= threshold. NaN (a zero-norm side) is dropped explicitly: Spark
    orders NaN above every double, so `>=` alone would keep it."""
    cos = F.col("cos_sim")
    return (with_cosine(pairs, "va", "vb")
            .where(~F.isnan(cos) & (cos >= F.lit(threshold)))
            .select("vec_a", "vec_b"))


# ---------------------------------------------------------------------
# multi-table random-hyperplane sign-LSH (the real ANN index)


def hyperplanes(dim: int, n_bits: int, num_tables: int, seed: int = 0):
    """Deterministic random projection planes: (num_tables * n_bits, dim)
    float32, standard normal (Charikar 2002 sign-LSH family)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_tables * n_bits, dim)).astype(np.float32)


def lsh_pair_recall(cos_threshold: float, n_bits: int,
                    num_tables: int) -> float:
    """Probability that a pair AT the cosine threshold shares at least
    one (table, bucket) — the documented recall lower bound for every
    pair above the threshold (collision probability is monotone in
    cosine)."""
    import math

    theta = math.acos(max(-1.0, min(1.0, cos_threshold)))
    p_bit = 1.0 - theta / math.pi
    return 1.0 - (1.0 - p_bit ** n_bits) ** num_tables


def _infer_dim(embeddings: DataFrame, vec_col: str) -> int:
    row = embeddings.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError("cannot infer embedding dimension")
    return int(row["d"])


def hyperplane_buckets(embeddings: DataFrame, planes, n_bits: int,
                       num_tables: int, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """(vec_id, embedding) -> (vec_id, table_id, bucket): one row per
    table. The projection is one batched numpy matmul per Arrow batch
    (mapInArrow, flat-buffer zero-copy in) — no per-row Python, no JVM
    expression blowup (n_bits * num_tables * dim literals would
    otherwise be folded into the plan). NULL or ragged embeddings raise
    ValueError (_list_matrix); a zero vector lands in the all-ones
    bucket of every table."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("table_id", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
    ])
    planes_t = planes.T.copy()  # (dim, T*b) for row-major matmul
    powers = (1 << np.arange(n_bits - 1, -1, -1, dtype=np.int64))

    def fn(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            E = _list_matrix(rb.column(1)).astype(np.float32, copy=False)
            signs = (E @ planes_t) >= 0  # (n, T*b)
            buckets = (signs.reshape(n, -1, n_bits).astype(np.int64)
                       @ powers)  # (n, T)
            num_t = buckets.shape[1]
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(ids, num_t)),
                 pa.array(np.tile(np.arange(num_t, dtype=np.int32), n)),
                 pa.array(buckets.reshape(-1))],
                names=[id_col, "table_id", "bucket"])

    return (embeddings.select(F.col(id_col).cast("long").alias(id_col),
                              F.col(vec_col))
            .mapInArrow(fn, out_schema))


def ann_topk(embeddings: DataFrame, k: int = 5, query_mod: int = 50,
             n_bits: int = 8, num_tables: int = 16, seed: int = 0,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_bucket: int | None = None) -> DataFrame:
    """Approximate top-k through the multi-table index: candidates =
    union over tables of same-bucket rows (distinct), then exact cosine
    + windowed rank. Supersedes lsh_topk's single-table axis-plane
    sketch as the scale path.

    Bucket sizing: E[bucket] = N / 2^n_bits per table — pick n_bits so
    that stays O(100) (e.g. n_bits=20 at N=10^8), and num_tables from
    lsh_pair_recall for the target recall. max_bucket drops degenerate
    (table, bucket) crowds (e.g. all-zero embeddings) from the NEIGHBOR
    side of candidate generation, bounding the join fan-out the same way
    cosine_near_dup_pairs does; query rows are never filtered, so a
    query keeps candidates from every table whose bucket is under the
    cap. Residual (documented, ADVICE r3): a query whose bucket is
    over-cap in EVERY table gets zero candidates and is absent from the
    output — such queries sit in degenerate crowds by definition; size
    n_bits so real data stays under the cap."""
    dim = _infer_dim(embeddings, vec_col)
    planes = hyperplanes(dim, n_bits, num_tables, seed)
    buckets = hyperplane_buckets(embeddings, planes, n_bits, num_tables,
                                 id_col, vec_col)
    nbuckets = buckets
    if max_bucket is not None:
        sizes = (buckets.groupBy("table_id", "bucket")
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .where(F.col("cnt") <= max_bucket)
                 .select("table_id", "bucket"))
        nbuckets = buckets.join(sizes, ["table_id", "bucket"])
    q = buckets.where(F.pmod(F.col(id_col), F.lit(query_mod)) == 0)
    cand = (q.select(F.col(id_col).alias("query_id"), "table_id", "bucket")
            .join(nbuckets.select(F.col(id_col).alias("neighbor_id"),
                                  "table_id", "bucket"),
                  ["table_id", "bucket"])
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct())
    e = embeddings.select(F.col(id_col).cast("long").alias(id_col),
                          F.col(vec_col))
    pairs = (cand
             .join(e.select(F.col(id_col).alias("query_id"),
                            F.col(vec_col).alias("qv")), "query_id")
             .join(e.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("cv")), "neighbor_id"))
    return _ranked_topk(with_cosine(pairs, "qv", "cv"), k)


# ---------------------------------------------------------------------
# IVF-flat (inverted-file) ANN — the task brief's other scale path


def ivf_cells(embeddings: DataFrame, n_cells: int = 16,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> tuple[DataFrame, DataFrame]:
    """Coarse quantizer + inverted lists.

    Centroids are the embeddings of the n_cells smallest ids — a FIXED
    deterministic coarse quantizer (a production IVF trains k-means /
    kmeans|| here; swapping the centroid source changes nothing else).
    Deliberate: it keeps every downstream value reproducible in ANSI
    SQL, so the driver's DuckDB oracle can hash-gate the whole IVF
    search path (assignment, probe selection, candidate scan, ranking)
    value-for-value — the same promotion stance as oracle_sql.py.

    Returns (centroids(cell_id, cv), assignments(vec_id, cell_id)).
    The centroid table is tiny and BROADCAST; assignment is one pass
    over the embeddings (argmax cosine, ties to the smaller cell id) —
    at 100 TB this is the classic scan + broadcast-argmax shape, no
    shuffle of the big side at all.
    """
    cents = (embeddings.orderBy(id_col).limit(n_cells)
             .select(F.col(id_col).alias("cell_id"),
                     F.col(vec_col).alias("cv")))
    scored = with_cosine(embeddings.select(F.col(id_col), F.col(vec_col))
                         .crossJoin(F.broadcast(cents)), vec_col, "cv")
    asg = (scored.groupBy(id_col)
           .agg(F.min_by("cell_id",
                         F.struct((-F.col("cos_sim")).alias("_ncs"),
                                  F.col("cell_id"))).alias("cell_id")))
    return cents, asg


def ivf_topk(embeddings: DataFrame, k: int = 5, query_mod: int = 50,
             n_cells: int = 16, nprobe: int = 4,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF-flat approximate top-k: queries (id % query_mod == 0) probe
    their `nprobe` nearest cells and score exact cosine against ONLY
    those cells' members. Output (query_id, neighbor_id, rank) —
    identical shape to brute_force_topk, which is its recall oracle
    (test_ivf_topk_recall).

    Scale posture: candidates per query are bounded by the nprobe
    largest inverted lists (~nprobe*N/n_cells in expectation) instead
    of N; the centroid table is broadcast twice (assignment + probe
    selection); the only shuffles are the argmax groupBys and the
    final per-query top-k — no cartesian on the embedding side.
    """
    cents, asg = ivf_cells(embeddings, n_cells, id_col, vec_col)
    q = (embeddings.where(F.pmod(F.col(id_col), F.lit(query_mod)) == 0)
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("qv")))
    probe_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cell_id"))
    # with_cosine consumes both vectors; score a copy so qv rides on
    probes = (with_cosine(q.crossJoin(F.broadcast(cents))
                          .withColumn("_qv", F.col("qv")), "_qv", "cv")
              .withColumn("_pr", F.row_number().over(probe_rank))
              .where(F.col("_pr") <= nprobe)
              .select("query_id", "qv", "cell_id"))
    members = (asg.join(embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv2")),
        asg[id_col] == F.col("neighbor_id"))
        .select("cell_id", "neighbor_id", "cv2"))
    # a member can sit in several probed cells only if cells were
    # duplicated — they aren't (one cell per vector) — so no dedup is
    # needed before ranking
    scored = with_cosine(probes.join(members, "cell_id")
                         .where(F.col("query_id") != F.col("neighbor_id")),
                         "qv", "cv2")
    return _ranked_topk(scored, k).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))
