"""Similarity search over embedding columns (task brief: ANN over
array<float> — brute-force cosine top-k baseline + an LSH-bucketed
scale path).

Scoring is JVM-side (zip_with/aggregate dot products); bucketing is one
batched numpy matmul per Arrow batch. At 100 TB scale:
  - brute-force: broadcast the (small) query set, scan candidates once,
    per-partition top-k via window; O(|Q| * N) dot products but a single
    pass, no shuffle of the big side until the final top-k agg. The
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

from minhash_rs_spark.functions.udfs import cosine_expr


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos_sim", 6).alias("cos_sim_r")))


def _list_matrix(lst, pa):
    """Arrow list<float/double> column -> (n, d) numpy matrix in the
    NATIVE element dtype (bits untouched). Raises on ragged rows and on
    NULL rows/elements: a null element would silently become NaN in the
    numpy view and rank FIRST (NaN sorts greatest) where the JVM plan's
    null cosine ranked LAST — fail loudly instead of diverging."""
    import numpy as np

    if isinstance(lst, pa.ChunkedArray):  # pragma: no cover
        lst = lst.combine_chunks()
    if lst.null_count or lst.values.null_count:
        raise ValueError(
            "_arrow_topk: NULL embedding rows/elements are not supported "
            "(the batch kernel cannot reproduce the JVM null-cosine "
            "ordering) — filter nulls before calling topk")
    offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = lst.values.to_numpy(zero_copy_only=False)
    vals = vals[offs[0]:offs[-1]]
    n = len(offs) - 1
    if n == 0:
        return vals.reshape(0, 0)
    lens = np.diff(offs)
    if not (lens == lens[0]).all():
        raise ValueError("ragged embedding lengths in batch")
    return np.ascontiguousarray(vals.reshape(n, int(lens[0])))


def _fold_dots(A, B):
    """(n, d) x (m, d) -> (n, m) float64 dot products with EXACTLY the
    JVM cosine_expr arithmetic: per-element product in the native
    element dtype (float32 for array<float>), then a left-to-right
    float64 fold over dim — bitwise identical to
    aggregate(zip_with(a, b, x*y), 0.0D, acc + x), so rank order is
    inherited from the proven-hash-matching JVM path, not re-derived."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for j in range(A.shape[1]):
        acc += A[:, j, None] * B[None, :, j]
    return acc


def _fold_norms(A):
    """sqrt(sum x*x) with the same native-dtype square + float64 fold."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc += A[:, j] * A[:, j]
    return np.sqrt(acc)


def _np_sign_bucket(M, n_bits: int):
    """numpy twin of _sign_bucket: b = fold(b*2 + (x_i >= 0)) over the
    first n_bits components (NaN compares false on both engines)."""
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

    Float semantics are bitwise-identical to the old cosine_expr plan
    (_fold_dots/_fold_norms), so the output — and the DuckDB oracle
    hash — is unchanged. NaN cosines (zero-norm vectors) sort first on
    both paths (Spark treats NaN as greater than any double; the
    in-kernel select key maps NaN to +inf)."""
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
    Q = _list_matrix(q_tbl.column("qv"), pa)
    order = np.argsort(qids)
    qids, Q = qids[order], np.ascontiguousarray(Q[order])
    if n_bits is not None and n_bits > Q.shape[1]:
        raise ValueError(
            f"n_bits={n_bits} exceeds the embedding dimension "
            f"{Q.shape[1]}: the sign bucket reads the first n_bits "
            "components")
    qn = _fold_norms(Q)
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
        cos = _fold_dots(Qs, Cs) / (qns[:, None] * cns[None, :])
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
            C = _list_matrix(rb.column(1), pa)
            for c0 in range(0, n, chunk):
                Cc = C[c0:c0 + chunk]
                idc = ids[c0:c0 + chunk]
                cn = _fold_norms(Cc)
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


def _sign_bucket(vec, n_bits: int):
    """Bucket key: sign bits of the first n_bits components, as an int."""
    b = F.lit(0)
    for i in range(n_bits):
        b = b * 2 + F.when(F.element_at(vec, i + 1) >= 0, 1).otherwise(0)
    return b


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

    Round 7: same _arrow_topk kernel as brute_force_topk with the
    bucket-equality mask applied in-batch (_np_sign_bucket is the
    numpy twin of _sign_bucket; identical >= 0 semantics incl. -0.0
    and NaN) — replaces the bucket equi-join + per-pair JVM cosine.

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
    """
    if method == "brute":
        a = embeddings.select(F.col(id_col).alias("vec_a"),
                              F.col(vec_col).alias("va"))
        b = embeddings.select(F.col(id_col).alias("vec_b"),
                              F.col(vec_col).alias("vb"))
        return (a.crossJoin(b)
                .where(F.col("vec_a") < F.col("vec_b"))
                .where(cosine_expr(F.col("va"), F.col("vb")) >= F.lit(threshold))
                .select("vec_a", "vec_b"))
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
    return (cand
            .join(e.select(F.col(id_col).alias("vec_a"),
                           F.col(vec_col).alias("va")), "vec_a")
            .join(e.select(F.col(id_col).alias("vec_b"),
                           F.col(vec_col).alias("vb")), "vec_b")
            .where(cosine_expr(F.col("va"), F.col("vb")) >= F.lit(threshold))
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
    otherwise be folded into the plan)."""
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
            lst = rb.column(1)
            if isinstance(lst, pa.ChunkedArray):  # pragma: no cover
                lst = lst.combine_chunks()
            offs = lst.offsets.to_numpy(zero_copy_only=False)
            flat = lst.values.to_numpy(zero_copy_only=False)
            dim = planes_t.shape[0]
            E = flat[offs[0]:offs[-1]].reshape(n, dim).astype(np.float32)
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
    scored = (cand
              .join(e.select(F.col(id_col).alias("query_id"),
                             F.col(vec_col).alias("qv")), "query_id")
              .join(e.select(F.col(id_col).alias("neighbor_id"),
                             F.col(vec_col).alias("cv")), "neighbor_id")
              .select("query_id", "neighbor_id",
                      cosine_expr(F.col("qv"), F.col("cv")).alias("cos_sim")))
    return _ranked_topk(scored, k)


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
    scored = (embeddings.select(F.col(id_col), F.col(vec_col))
              .crossJoin(F.broadcast(cents))
              .select(id_col,
                      "cell_id",
                      cosine_expr(F.col(vec_col), F.col("cv"))
                      .alias("_cs")))
    asg = (scored.groupBy(id_col)
           .agg(F.min_by("cell_id",
                         F.struct((-F.col("_cs")).alias("_ncs"),
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
        F.col("_cs").desc(), F.col("cell_id"))
    probes = (q.crossJoin(F.broadcast(cents))
              .select("query_id", "qv", "cell_id",
                      cosine_expr(F.col("qv"), F.col("cv")).alias("_cs"))
              .withColumn("_pr", F.row_number().over(probe_rank))
              .where(F.col("_pr") <= nprobe)
              .select("query_id", "qv", "cell_id"))
    members = (asg.join(embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv2")),
        asg[id_col] == F.col("neighbor_id"))
        .select("cell_id", "neighbor_id", "cv2"))
    scored = (probes.join(members, "cell_id")
              .where(F.col("query_id") != F.col("neighbor_id"))
              # a member can sit in several probed cells only if cells
              # were duplicated — they aren't (one cell per vector) —
              # so no dedup needed before ranking
              .select("query_id", "neighbor_id",
                      cosine_expr(F.col("qv"), F.col("cv2"))
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank")))
