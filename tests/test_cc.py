"""Connected-components property tests: both CC paths — the driver-local
finish and the large-star/small-star DataFrame loop — must agree with a
trivially-correct union-find on random graphs, and with hand-built cases."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lsh_hdc_spark.operators import cc
from lsh_hdc_spark.operators.cc import assign_clusters, connected_components
from ref_oracle import UnionFind


def _on_each_path(monkeypatch, edges, run):
    """{path: run(edges)} with CC on each side of ``cc.LOCAL_MAX_EDGES``:
    the driver-local finish, the star loop (threshold 0), and the local
    finish with the threshold exactly at the graph's edge count.  Checks
    that the star loop ran iff the path names it; `run` must collect."""
    n_edges = edges.where(F.col("src") != F.col("dst")).count()
    large_star = cc._large_star
    out = {}
    for path, limit in (
        ("local", cc.LOCAL_MAX_EDGES), ("star", 0), ("boundary", n_edges)
    ):
        rounds = []
        with monkeypatch.context() as m:
            m.setattr(cc, "LOCAL_MAX_EDGES", limit)
            m.setattr(cc, "_large_star", lambda e: rounds.append(1) or large_star(e))
            out[path] = run(edges)
        assert bool(rounds) == (path == "star"), path
    return out


def _uf_labels(n_nodes, edges):
    uf = UnionFind()
    for i in range(n_nodes):
        uf.find(i)
    for a, b in edges:
        uf.union(a, b)
    return {i: uf.find(i) for i in range(n_nodes)}


def _cc_labels(spark, monkeypatch, edges, schema="src long, dst long"):
    """{path: {id: cluster_id}} over `edges` on each CC path."""
    return _on_each_path(
        monkeypatch,
        spark.createDataFrame(edges, schema),
        lambda df: {r.id: r.cluster_id for r in connected_components(df).collect()},
    )


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_cc_matches_union_find_random_graphs(spark, monkeypatch, seed):
    rng = np.random.default_rng(seed)
    n, m = 80, 70
    edges = [(int(rng.integers(n)), int(rng.integers(n))) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _uf_labels(n, edges)
    nodes_with_edges = {x for e in edges for x in e}
    for path, got in _cc_labels(spark, monkeypatch, edges).items():
        assert set(got) == nodes_with_edges, path
        for i in nodes_with_edges:
            assert got[i] == want[i], f"{path} node {i}: {got[i]} != {want[i]}"


def test_cc_long_chain(spark, monkeypatch):
    # worst case for naive propagation: a path graph; star-joins converge in O(log n)
    edges = [(i, i + 1) for i in range(60)]
    for path, got in _cc_labels(spark, monkeypatch, edges).items():
        assert set(got.values()) == {0}, path
        assert len(got) == 61, path


def test_cc_two_components_and_duplicate_edges(spark, monkeypatch):
    edges = [(5, 1), (1, 5), (1, 3), (10, 20), (20, 10), (20, 30), (30, 10)]
    for path, got in _cc_labels(spark, monkeypatch, edges).items():
        assert got[1] == got[3] == got[5] == 1, path
        assert got[10] == got[20] == got[30] == 10, path


def test_cc_string_ids(spark, monkeypatch):
    edges = [("b", "a"), ("b", "c"), ("x", "y")]
    got = _cc_labels(spark, monkeypatch, edges, "src string, dst string")
    want = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert got == {"local": want, "star": want, "boundary": want}


def test_assign_clusters_singletons_and_min_support(spark, monkeypatch):
    # ids 2 and 5 are repeated: each copy keeps its row, and cluster_size
    # counts distinct ids on every path
    ids = spark.createDataFrame([(i,) for i in range(6)] + [(2,), (5,)], "doc_id long")
    edges = spark.createDataFrame([(0, 1), (2, 3), (3, 4)], "src long, dst long")

    def run(e):
        out = sorted(tuple(r) for r in assign_clusters(ids, e, "doc_id").collect())
        out3 = {r.doc_id: r.cluster_id
                for r in assign_clusters(ids, e, "doc_id", min_support=3).collect()}
        return out, out3

    for path, (out, out3) in _on_each_path(monkeypatch, edges, run).items():
        assert out == [
            (0, 0, 2), (1, 0, 2),
            (2, 2, 3), (2, 2, 3), (3, 2, 3), (4, 2, 3),
            (5, 5, 1), (5, 5, 1),  # isolated node = singleton of itself
        ], path
        assert out3[2] == 2 and out3[0] is None and out3[5] is None, path


def test_cc_does_not_mutate_session_conf(spark, monkeypatch):
    """The star loop runs in a cloned session with its own SQLConf; the
    caller's conf is untouched."""
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", 0)
    large_star = cc._large_star
    loop_sessions = []
    monkeypatch.setattr(
        cc, "_large_star", lambda e: loop_sessions.append(e.sparkSession) or large_star(e)
    )
    before = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    edges = spark.createDataFrame([(i, i + 1) for i in range(50)], "src long, dst long")
    connected_components(edges).collect()
    after = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    assert before == after
    assert loop_sessions and all(s is not spark for s in loop_sessions)


def test_cc_concurrent_pipelines_one_session(spark, documents, monkeypatch):
    """Two full dedup pipelines on the SAME SparkSession, concurrently, on
    each CC path: the star loop must not leak conf into the peer query (it
    runs in a cloned session with its own SQLConf), and the local finish
    must return its labels in the session that owns the edges."""
    from concurrent.futures import ThreadPoolExecutor

    from lsh_hdc_spark.config import DedupConfig
    from lsh_hdc_spark.plans.pipeline import run_pipeline

    components = cc._components

    def job(min_support):
        labels = run_pipeline(documents, DedupConfig(min_support=min_support))
        return sorted(
            (r.doc_id, r.cluster_id, r.cluster_size) for r in labels.collect()
        )

    results = {}
    for path, limit in (("local", cc.LOCAL_MAX_EDGES), ("star", 0)):
        sessions = []

        def spy(edges, *args):
            labels = components(edges, *args)
            sessions.append((edges.sparkSession, labels.sparkSession))
            return labels

        with monkeypatch.context() as m:
            m.setattr(cc, "LOCAL_MAX_EDGES", limit)
            m.setattr(cc, "_components", spy)
            with ThreadPoolExecutor(max_workers=2) as ex:
                f1 = ex.submit(job, 1)
                f2 = ex.submit(job, 1)
                r1, r2 = f1.result(), f2.result()
        assert r1 == r2, path
        assert len(r1) == 500, path
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert len(sessions) == 2, path
        if path == "local":
            assert all(owner is got for owner, got in sessions)
        results[path] = r1
    assert results["local"] == results["star"]
