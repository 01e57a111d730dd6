"""Driver-mimic oracle check for the verify-kernel anchor query:
shingle_jaccard_pairs runs the exact-Jaccard verify kernel (kernel
tokenize -> rolling-poly k-gram shingles -> sorted-unique set ->
vectorized intersection counts) over a DETERMINISTIC stride pair set,
so DuckDB can recompute it from strings value-for-value. This is the
ANSI-SQL anchor for the rows-only LSH-derived pair queries
(minhash_clusters_verified, true_jaccard_pairs).

Collision caveat: the engine intersects 64-bit shingle hashes
(blake2b token ids -> poly/mix64) while DuckDB intersects the shingle
STRINGS, so value-for-value equality holds only absent a 64-bit hash
collision inside some document pair's shingle sets. Collision odds are
~N^2/2^64 per pair (N = shingles per doc, here <= a few hundred) —
negligible, but if a future/larger corpus ever trips one, the symptom
is an off-by-one n_inter on a single pair, not an engine bug."""

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as E
    return E


def _norm(df):
    cols = sorted(df.columns)
    return (df[cols].astype("int64")
            .sort_values(cols).reset_index(drop=True))


def test_shingle_jaccard_matches_duckdb_oracle(spark, entry):
    if not Path(SF_DIR, "documents.parquet").exists():
        pytest.skip("testdata not present")
    got = entry.queries()["shingle_jaccard_pairs"](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    want = con.execute(entry.oracle_sql()["shingle_jaccard_pairs"]).df()
    g, w = _norm(got), _norm(want)
    assert list(g.columns) == list(w.columns)
    assert len(g) == len(w) and len(g) > 0
    assert (g.values == w.values).all()
    # value coverage: the stride set must exercise POSITIVE
    # intersections (all-zero n_inter would only test the union sizes)
    assert (g["n_inter"] > 0).any()


def test_stride_pairs_linear_in_input(spark, entry):
    """Pair count is O(N * |strides|), never quadratic: with 500 docs
    and 9 strides the join can emit at most 4500 pairs."""
    if not Path(SF_DIR, "documents.parquet").exists():
        pytest.skip("testdata not present")
    n = entry.queries()["shingle_jaccard_pairs"](spark, SF_DIR).count()
    assert 0 < n <= 500 * 9


def test_cc_stride_clusters_matches_duckdb_oracle(spark, entry, monkeypatch):
    """CC-operator oracle anchor (VERDICT r4 #1): connected_components
    over a deterministic input-derived edge list (arithmetic x2/x3
    edges over doc_ids + nonzero-overlap stride pairs) must reproduce
    DuckDB's recursive-CTE min-label clustering value-for-value —
    (doc_id, cc_id, cc_size) all hash-exact — on BOTH paths: the
    driver-side labeling this edge set takes by default, and the
    alternating large/small-star loop, forced by a bound of -1 edges.
    The x2/x3 graph has log-diameter components (e.g. 1-2-4-...-256
    chains merged via x3), so the star loop must genuinely iterate; a
    first-round-fixpoint bug would mislabel deep chains."""
    from minhash_rs_spark.operators import connected_components as cc_mod

    if not Path(SF_DIR, "documents.parquet").exists():
        pytest.skip("testdata not present")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    w = _norm(con.execute(entry.oracle_sql()["cc_stride_clusters"]).df())
    for path in ("driver", "loop"):
        with monkeypatch.context() as m:
            if path == "loop":
                m.setattr(cc_mod, "_DRIVER_CC_MAX_EDGES", -1)
            got = entry.queries()["cc_stride_clusters"](spark,
                                                        SF_DIR).toPandas()
        g = _norm(got)
        assert list(g.columns) == list(w.columns), path
        assert len(g) == len(w) and len(g) > 100, path
        assert (g.values == w.values).all(), path
        # topology sanity: multiple non-trivial components of distinct
        # sizes — the anchor is only meaningful on a rich graph
        assert got["cc_id"].nunique() > 20, path
        assert got["cc_size"].max() >= 10, path


def test_minhash_clusters_matches_duckdb_oracle(spark, entry):
    """Round-6 promotion: the FLAGSHIP query (full MinHash fuzzy-dedup
    clustering — xxhash64 tokens -> rolling-poly shingles -> 112-perm
    multiply-shift -> band buckets -> iterative star CC -> assignments
    with cc_size/cc_idx) hash-matches a DuckDB oracle that recomputes
    every 64-bit signature value via oracle_sql.py's UHUGEINT twins and
    clusters with a recursive min-label CTE. Unverified-path CC closure
    is edge-shape-invariant (any bucket co-membership unions the
    bucket), so engine and oracle are EXACTLY equal, not just
    empirically so."""
    if not Path(SF_DIR, "documents.parquet").exists():
        pytest.skip("testdata not present")
    got = entry.queries()["minhash_clusters"](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    want = con.execute(entry.oracle_sql()["minhash_clusters"]).df()
    g, w = _norm(got), _norm(want)
    assert list(g.columns) == list(w.columns)
    assert len(g) == len(w) and len(g) > 100
    assert (g.values == w.values).all()
    # the anchor is only meaningful if clustering actually happened
    assert (got["cc_size"] > 1).any()


def test_simhash_signatures_match_duckdb_oracle(spark, entry):
    """SimHash kernel value-for-value (VERDICT r5 #3): bit votes over
    DuckDB-recomputed shingle hashes == udfs.with_simhash."""
    if not Path(SF_DIR, "documents.parquet").exists():
        pytest.skip("testdata not present")
    got = entry.queries()["simhash_signatures"](spark, SF_DIR).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    want = con.execute(entry.oracle_sql()["simhash_signatures"]).df()
    g, w = _norm(got), _norm(want)
    assert list(g.columns) == list(w.columns)
    assert len(g) == len(w) and len(g) > 100
    assert (g.values == w.values).all()
    assert got["simhash"].nunique() > 100  # non-degenerate signatures
