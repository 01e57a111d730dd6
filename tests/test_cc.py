"""Connected components: both paths — driver-side labeling and the
distributed large-star/small-star loop — vs a plain Python union-find
on random graphs, and against each other."""

import random
import time

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from minhash_rs_spark.operators import connected_components as cc_mod
from minhash_rs_spark.operators.connected_components import connected_components

PATHS = ("driver", "loop")


def _cc(monkeypatch, path, df, **kw):
    """{conv_id: cc_id} from connected_components on one path: the test
    graphs sit under the driver bound, and a bound of -1 edges forces
    the loop."""
    with monkeypatch.context() as m:
        if path == "loop":
            m.setattr(cc_mod, "_DRIVER_CC_MAX_EDGES", -1)
        return {r["conv_id"]: r["cc_id"]
                for r in connected_components(df, **kw).collect()}


def _uf_components(n_nodes, edges):
    parent = {f"n{i:04d}": f"n{i:04d}" for i in range(n_nodes)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted([ra, rb])
            parent[hi] = lo
    # normalize: root = min member of component
    comp = {}
    for k in parent:
        comp.setdefault(find(k), []).append(k)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@pytest.mark.parametrize("seed,n_nodes,n_edges", [
    (1, 200, 150), (3, 30, 200),
])
def test_cc_matches_union_find(spark, monkeypatch, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = []
    for _ in range(n_edges):
        a, b = rng.sample(range(n_nodes), 2)
        edges.append((f"n{max(a, b):04d}", f"n{min(a, b):04d}"))
    df = spark.createDataFrame(edges, ["src", "dst"])
    expect = _uf_components(n_nodes, edges)
    touched = {x for e in edges for x in e}
    for path in PATHS:
        got = _cc(monkeypatch, path, df)
        assert set(got) == touched, path
        for node in touched:
            assert got[node] == expect[node], (path, node)


def test_cc_long_chain_converges_logarithmically(spark, monkeypatch):
    """A path graph is the worst case for naive label propagation;
    star-contraction must still converge quickly (O(log n) rounds)."""
    n = 64
    edges = [(f"p{i + 1:04d}", f"p{i:04d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for path in PATHS:
        got = _cc(monkeypatch, path, df, max_iterations=20)
        assert len(got) == n, path
        assert set(got.values()) == {"p0000"}, path


def test_cc_empty_edges(spark, monkeypatch):
    df = spark.createDataFrame([], "src string, dst string")
    for path in PATHS:
        assert _cc(monkeypatch, path, df) == {}, path


def test_cc_long_ids_take_numeric_min(spark, monkeypatch):
    """Long ids label with the numeric minimum: 9 < 10 although "10"
    sorts first as text."""
    df = spark.createDataFrame([(10, 9), (11, 10), (100, 20)],
                               "src long, dst long")
    for path in PATHS:
        assert _cc(monkeypatch, path, df) == {
            9: 9, 10: 9, 11: 9, 20: 20, 100: 20}, path
    assert connected_components(df).schema["cc_id"].dataType == \
        df.schema["src"].dataType


def test_cc_string_ids_take_binary_utf8_min(spark, monkeypatch):
    """String ids label with Spark's binary UTF-8 minimum: "Z" < "a" <
    "é", and U+FFFF < U+1F600 (UTF-16 code units would order these two
    the other way round). Edges arrive unoriented."""
    df = spark.createDataFrame(
        [("a", "é"), ("Z", "a"), ("\U0001F600", "\uffff")],
        "src string, dst string")
    for path in PATHS:
        assert _cc(monkeypatch, path, df) == {
            "Z": "Z", "a": "Z", "é": "Z",
            "\uffff": "\uffff", "\U0001F600": "\uffff"}, path


def test_cc_driver_bound(spark, monkeypatch):
    """The bound is inclusive: exactly `bound` pinned edges take the
    driver path, `bound + 1` take the loop, and the two paths give the
    same rows for the same edges."""
    edges = [("b", "a"), ("c", "b"), ("e", "d"), ("f", "e"), ("f", "c")]
    bound = len(edges) - 1
    taken = []
    real = cc_mod._driver_components

    def spy(e):
        taken.append(e.count())
        return real(e)

    monkeypatch.setattr(cc_mod, "_driver_components", spy)
    monkeypatch.setattr(cc_mod, "_DRIVER_CC_MAX_EDGES", bound)
    at_bound = spark.createDataFrame(edges[:bound], "src string, dst string")
    above = spark.createDataFrame(edges, "src string, dst string")
    assert {r["cc_id"] for r in connected_components(at_bound).collect()} == {
        "a", "d"}
    assert taken == [bound]
    loop_rows = sorted(map(tuple, connected_components(above).collect()))
    assert taken == [bound]
    monkeypatch.setattr(cc_mod, "_DRIVER_CC_MAX_EDGES", bound + 1)
    driver_rows = sorted(map(tuple, connected_components(above).collect()))
    assert taken == [bound, bound + 1]
    assert driver_rows == loop_rows
    assert {cc for _, cc in loop_rows} == {"a"}


def test_cc_driver_shuffled_path_100k(spark):
    """A 100k-node path with shuffled ids — the worst case for label
    propagation — is one component rooted at the min id."""
    n = 100_000
    ids = np.char.mod("v%06d", np.random.default_rng(5).permutation(n))
    df = spark.createDataFrame(
        pa.table({"src": ids[1:], "dst": ids[:-1]}), "src string, dst string")
    t0 = time.perf_counter()
    row = (connected_components(df)
           .agg(F.count(F.lit(1)).alias("n"), F.min("cc_id").alias("lo"),
                F.max("cc_id").alias("hi"))
           .first())
    print(f"shuffled path, {n} nodes: {time.perf_counter() - t0:.2f} s")
    assert (row["n"], row["lo"], row["hi"]) == (n, "v000000", "v000000")
