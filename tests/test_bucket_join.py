"""The shared bucket join in operators/pairs.py: `_bucket_pairs`,
`_bucket_census` and `_verify_join` against a pure-Python bucket
enumeration on skewed keys (bucket sizes 1, 2, cap and cap+1 always
present), the self-join's plan shape, and that no entry built on them
leaves a plan in the session's cache manager."""

import random
import re
from collections import Counter, defaultdict
from contextlib import contextmanager
from itertools import combinations

import numpy as np
import pytest

from lsh_hdc_spark.config import DedupConfig
from lsh_hdc_spark.functions.sign import signed
from lsh_hdc_spark.operators.pairs import (
    _bucket_census,
    _bucket_pairs,
    _verify_join,
    band_key_rows,
)

CAP = 5


def _skewed_rows(seed):
    """(id, key, c) rows: every key's bucket size drawn from a skewed mix
    that always includes 1, 2, CAP and CAP+1; ids come from a small shared
    pool, so one id pair often shares several buckets.  `c` names its
    (id, key) row, so a carried value shows which row it came from."""
    rng = random.Random(seed)
    sizes = [1, 2, CAP, CAP + 1] + rng.choices(
        [1, 1, 1, 2, 2, 3, CAP, CAP + 1, CAP + 4], k=20
    )
    rng.shuffle(sizes)
    rows = []
    for k, size in enumerate(sizes):
        key = rng.getrandbits(62) if k % 3 else k  # small and hashed keys
        for i in rng.sample(range(30), size):
            rows.append((i, key, f"{i}@{key}"))
    return rows


def _buckets(rows):
    out = defaultdict(list)
    for i, key, _ in rows:
        out[key].append(i)
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bucket_pairs_match_enumeration(spark, seed):
    rows = _skewed_rows(seed)
    df = spark.createDataFrame(rows, "id long, key long, c string")
    got = Counter(
        tuple(r)
        for r in _bucket_pairs(df, "id", "key", CAP, carry=("c",))
        .select("key", "src", "dst", "c_a", "c_b")
        .collect()
    )
    want = Counter()
    for key, ids in _buckets(rows).items():
        if 2 <= len(ids) <= CAP:
            for a, b in combinations(sorted(ids), 2):
                want[(key, a, b, f"{a}@{key}", f"{b}@{key}")] += 1
    sizes = {len(ids) for ids in _buckets(rows).values()}
    assert {1, 2, CAP, CAP + 1} <= sizes
    assert got == want


@pytest.mark.parametrize("seed", [0, 3])
@pytest.mark.parametrize(
    "tiers", [[("cold", CAP)], [("cold", 2), ("hot", CAP)]], ids=["one", "two"]
)
def test_bucket_census_matches_enumeration(spark, seed, tiers):
    rows = _skewed_rows(seed)
    df = spark.createDataFrame(rows, "id long, key long, c string")
    got = {
        r.tier: (r.n_buckets, r.n_rows, r.max_bucket)
        for r in _bucket_census(df, "key", tiers).collect()
    }
    want = defaultdict(list)
    for ids in _buckets(rows).values():
        n = len(ids)
        tier = "singleton" if n < 2 else next(
            (label for label, cap in tiers if n <= cap), "dropped"
        )
        want[tier].append(n)
    assert got == {t: (len(v), sum(v), max(v)) for t, v in want.items()}
    # size CAP is kept by the last tier, CAP+1 is dropped and counted
    assert CAP in want[tiers[-1][0]] and CAP + 1 in want["dropped"]


def test_verify_join_suffixes_both_sides(spark):
    pairs = spark.createDataFrame([(1, 2, 0.5), (2, 3, 0.7)], "src long, dst long, w double")
    side = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, t string, n long"
    )
    got = sorted(
        tuple(r)
        for r in _verify_join(pairs, side, "id")
        .select("src", "dst", "w", "t_a", "n_a", "t_b", "n_b")
        .collect()
    )
    assert got == [(1, 2, 0.5, "a", 10, "b", 20), (2, 3, 0.7, "b", 20, "c", 30)]


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _final_plan(df):
    """The executed plan's tree after an action (AQE's final plan, without
    the initial plan it also prints)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_bucket_pairs_pin_cuts_the_chain_below_the_self_join(spark, documents, aqe):
    """The pinned sized frame is all the self-join reads: no Window or
    Generate runs below it.  With AQE off the pin keeps the key's hash
    partitioning, so no exchange feeds the join; with AQE on, partition
    coalescing drops that partitioning and one exchange of the pinned rows
    feeds both sides (the second reads it as a ReusedExchange)."""
    cfg = DedupConfig()
    with _conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": aqe,
        },
    ):
        rows = band_key_rows(signed(documents, cfg), cfg)
        plan = _final_plan(_bucket_pairs(rows, "doc_id", "band_key", cfg.pair_cap))
    assert "SortMergeJoin" in plan, plan
    assert not re.search(r"\b(Window|Generate)\b", plan), plan
    assert "Scan ExistingRDD" in plan, plan
    shuffles = re.findall(r"^[\s:+\-|]*Exchange hashpartitioning", plan, re.M)
    reused = re.findall(r"^[\s:+\-|]*ReusedExchange", plan, re.M)
    if aqe == "false":
        assert not shuffles and not reused, plan
    else:
        assert len(shuffles) <= 1, plan
        assert len(reused) == len(shuffles), plan


def test_entries_leave_no_cached_plan(spark, documents):
    """The ANN searches and dedup_edges pin their Arrow-pass frames with a
    lazy localCheckpoint; nothing may stay in the session's cache manager
    after a result is consumed (every cached plan is matched against each
    later query)."""
    from lsh_hdc_spark.operators.knn import ann_topk, ann_topk_ivf, cosine_dup_edges
    from lsh_hdc_spark.plans.pipeline import dedup_edges

    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 16))
    rows = [(i, [float(x) for x in base[i // 2] + 0.01 * rng.normal(size=16)])
            for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    for name, run in [
        ("ann_topk", lambda: ann_topk(emb, 3)),
        ("cosine_dup_edges", lambda: cosine_dup_edges(emb, 0.9)),
        ("ann_topk_ivf", lambda: ann_topk_ivf(emb, 3, n_lists=4, iters=2)),
        ("dedup_edges", lambda: dedup_edges(documents, DedupConfig())),
    ]:
        assert run().collect(), name
        assert cache.isEmpty(), name
