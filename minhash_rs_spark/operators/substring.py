"""Suffix-array exact-substring (containment) dedup path — north-rule
addition; the reference has no substring pipeline (SURVEY §7.4).

Semantics: document A is "contained" in document B iff A's full cleaned
text occurs as a substring of B's cleaned text (equality counts). Output
edges (contained -> container) feed the shared CC/annotate/prune sinks.

Algorithm, per partition (mapInPandas):
  1. Concatenate the partition's cleaned texts with '\\x00' separators.
  2. Build the suffix array with a numpy prefix-doubling sort
     (Manber-Myers, O(n log^2 n), fully vectorized: one argsort of a
     combined int64 (rank, next rank) key per round).
  3. A doc's text t (len L>0) occurs somewhere else iff an SA-neighbor of
     the suffix starting at the doc's own offset also has t as prefix
     (the suffixes prefixed by t form a contiguous SA range containing
     the doc's own suffix, so range size >= 2 is visible at a neighbor).
     Walk the range in both directions to emit every (contained,
     container) pair; occurrences never span the '\\x00' separator
     because t contains none.

Scopes:
  "global"      coalesce(1) + one SA — exact but single-task; small
                corpora / debugging only.
  "partition"   partition-local detection, no shuffle — a fast
                within-shard pass (recall bounded by co-location).
  "distributed" the scale path: winnowing collocation (Schleimer,
                Wilkerson & Aiken, SIGMOD 2003). Every doc emits its
                winnowing fingerprints (the min kgram-hash of each
                w-window, deduped — expected density 2/(w+1)) as
                routing keys in CONTAINER role; its first-window min
                (which is always fingerprint #1) additionally carries
                CONTAINEE role. If A occurs inside B, A's first window
                is a full window of B, so its min is one of B's
                winnowing fingerprints — A and B meet in that key's
                partition, where a per-partition suffix array finds the
                pair. GUARANTEE: exact for every containee with at
                least `window` kgrams (cleaned length >= window +
                kgram - 1) and for any containee whose container is
                itself shorter than that bound (short docs emit all
                kgrams); the one uncovered case — a sub-window-length
                doc contained in a long doc — is a parameter choice,
                not a silent cap: size `window` to the shortest
                containee you care about (replication cost is
                ~2*len/window container copies). Skewed fingerprints
                (a viral phrase) concentrate one key in one partition;
                the SA there is O(n log n) and keys are spread across
                partitions by hash, so one hot key costs one task, not
                the stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from minhash_rs_spark.functions.kernel import clean_text

EDGE_SCHEMA = T.StructType([
    T.StructField("src", T.StringType(), False),   # contained doc
    T.StructField("dst", T.StringType(), False),   # a container of it
])


def suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix array of a uint8/int array via prefix doubling.

    Returns `order`: positions sorted by suffix. Vectorized: each round
    sorts (rank[i], rank[i+k]) pairs and re-ranks.
    """
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # dense-rank the input so every rank lies in [0, n) from round 1
    rank = np.unique(np.asarray(s), return_inverse=True)[1].astype(np.int64)
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while True:
        nxt = np.full(n, -1, dtype=np.int64)
        nxt[:n - k] = rank[k:]
        # one int64 key orders (rank, nxt): both lie in [-1, n), so
        # rank * (n + 1) + nxt is exact while n < 3e9; ties are re-ranked
        # equal, so their order does not matter
        order = np.argsort(rank * (n + 1) + nxt)
        tmp[order[0]] = 0
        changed = (rank[order[1:]] != rank[order[:-1]]) | \
                  (nxt[order[1:]] != nxt[order[:-1]])
        tmp[order[1:]] = np.cumsum(changed)
        rank = tmp.copy()
        if rank[order[-1]] == n - 1:
            return order
        k *= 2


def _partition_containment(texts: list[str], ids: list[str],
                           containee: list[bool] | None = None
                           ) -> list[tuple[str, str]]:
    """All (contained_id, container_id) pairs within one partition.
    containee: optional role mask — docs with False are searched as
    containers only (used by the distributed scope, where a doc's
    containee role travels with exactly one routing key)."""
    cleaned = [clean_text(t or "") for t in texts]
    # drop empty docs: "" is a substring of everything — not a useful edge
    keep = [i for i, t in enumerate(cleaned) if t]
    if len(keep) < 2:
        return []
    parts, offsets, lens = [], [], []
    pos = 0
    for i in keep:
        t = cleaned[i]
        offsets.append(pos)
        lens.append(len(t))
        parts.append(t)
        pos += len(t) + 1
    big = "\x00".join(parts)
    data = np.frombuffer(big.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    # offsets above are in characters; redo in bytes for non-ascii safety
    if len(data) != len(big):
        boff, p = [], 0
        for t in parts:
            boff.append(p)
            p += len(t.encode("utf-8")) + 1
        offsets = boff
        lens = [len(t.encode("utf-8")) for t in parts]
        bbytes = big.encode("utf-8")
    else:
        bbytes = big.encode("utf-8")
    sa = suffix_array(data)
    rank_of = np.empty(len(sa), dtype=np.int64)
    rank_of[sa] = np.arange(len(sa))
    starts = np.asarray(offsets, dtype=np.int64)
    edges: list[tuple[str, str]] = []
    for j, i_doc in enumerate(keep):
        if containee is not None and not containee[i_doc]:
            continue
        off, L = offsets[j], lens[j]
        t = bbytes[off:off + L]
        r = rank_of[off]
        # expand the SA range of suffixes prefixed by t around rank r
        for step in (-1, 1):
            q = r + step
            while 0 <= q < len(sa):
                p = int(sa[q])
                if bbytes[p:p + L] != t:
                    break
                # map occurrence position -> containing doc
                d = int(np.searchsorted(starts, p, side="right")) - 1
                if keep[d] != i_doc:
                    edges.append((ids[i_doc], ids[keep[d]]))
                q += step
    return edges


def _kgram_hashes(b, k: int):
    """uint64 polynomial hashes of every k-byte gram (vectorized)."""
    n = len(b) - k + 1
    h = np.zeros(n, dtype=np.uint64)
    P = np.uint64(1099511628211)
    for j in range(k):
        h = h * P + b[j:j + n].astype(np.uint64)
    return h


def _window_mins(h, w: int):
    """min over every w-window of h (sparse-table trick, O(n log w))."""
    if len(h) <= w:
        return h.min(initial=np.uint64(0xFFFFFFFFFFFFFFFF),
                     keepdims=True) if len(h) else h
    t = 1
    m = h
    while t * 2 <= w:
        m = np.minimum(m[:len(m) - t], m[t:])
        t *= 2
    return np.minimum(m[:len(h) - w + 1], m[w - t:len(h) - t + 1])


def _distributed_containment(src: DataFrame, text_col: str, kgram: int,
                             window: int, num_partitions: int | None
                             ) -> DataFrame:
    """Winnowing collocation (see module docstring): fingerprint keys ->
    repartition -> per-partition SA. Short docs (< window kgrams) emit
    all kgrams as fingerprints."""
    from pyspark.sql import functions as F

    key_schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField(text_col, T.StringType(), True),
        T.StructField("containee", T.BooleanType(), False),
    ])

    def keys_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_key, out_id, out_txt, out_ce = [], [], [], []
            for cid, txt in zip(pdf["conv_id"], pdf[text_col]):
                cleaned = clean_text(txt or "")
                data = np.frombuffer(cleaned.encode("utf-8"), dtype=np.uint8)
                if len(data) < kgram:
                    continue  # no kgram -> cannot contain/be contained at >= kgram
                h = _kgram_hashes(data, kgram)
                if len(h) <= window:
                    # short doc: every kgram is a fingerprint, so a
                    # short containee's anchor always collides with a
                    # short container holding the same gram
                    fps = np.unique(h)
                else:
                    fps = np.unique(_window_mins(h, window))
                # the containee anchor is the first window's min — by
                # construction fps[...] contains it
                anchor = int(h[:window].min())
                for fp in fps:
                    out_key.append(int(np.uint64(fp).astype(np.int64)))
                    out_id.append(cid)
                    out_txt.append(txt)
                    out_ce.append(int(fp) == anchor)
            yield pd.DataFrame({"key": pd.Series(out_key, dtype="int64"),
                                "conv_id": out_id, text_col: out_txt,
                                "containee": out_ce})

    keyed = (src.mapInPandas(keys_fn, key_schema))
    if num_partitions:
        keyed = keyed.repartition(num_partitions, "key")
    else:
        keyed = keyed.repartition("key")

    def search_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids: list[str] = []
        texts: list[str] = []
        roles: dict[str, bool] = {}
        seen: dict[str, int] = {}
        for pdf in batches:
            for cid, txt, ce in zip(pdf["conv_id"], pdf[text_col],
                                    pdf["containee"]):
                if cid not in seen:
                    seen[cid] = len(ids)
                    ids.append(cid)
                    texts.append(txt)
                    roles[cid] = bool(ce)
                elif ce:
                    roles[cid] = True
        mask = [roles[c] for c in ids]
        out = _partition_containment(texts, ids, containee=mask)
        yield pd.DataFrame(out, columns=["src", "dst"])

    return keyed.mapInPandas(search_fn, EDGE_SCHEMA).distinct()


def containment_edges(docs: DataFrame, scope: str = "global",
                      text_col: str = "doc_text", kgram: int = 16,
                      window: int = 256,
                      num_partitions: int | None = None) -> DataFrame:
    """(conv_id, doc_text) -> (src=contained, dst=container) edges.

    scope="distributed" is the cluster path (see module docstring);
    kgram/window size its guarantee: exact for containees of cleaned
    length >= window + kgram - 1 (defaults: 271 chars), at container
    replication ~2*len/window."""
    if scope == "distributed":
        return _distributed_containment(
            docs.select("conv_id", text_col), text_col, kgram, window,
            num_partitions)
    src = docs.select("conv_id", text_col)
    if scope == "global":
        src = src.coalesce(1)
    elif scope != "partition":
        raise ValueError(f"unknown scope {scope!r}")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids: list[str] = []
        texts: list[str] = []
        for pdf in batches:
            ids.extend(pdf["conv_id"].tolist())
            texts.extend(pdf[text_col].tolist())
        out = _partition_containment(texts, ids)
        yield pd.DataFrame(out, columns=["src", "dst"])

    return src.mapInPandas(fn, EDGE_SCHEMA).distinct()


def containment_cc(docs: DataFrame, scope: str = "global",
                   text_col: str = "doc_text") -> DataFrame:
    """Cluster docs connected by containment: (conv_id, cc_id)."""
    from minhash_rs_spark.operators.connected_components import connected_components

    edges = containment_edges(docs, scope, text_col)
    # canonical orientation for CC: (larger, smaller)
    from pyspark.sql import functions as F
    e = edges.select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
    return connected_components(e, oriented=True)
