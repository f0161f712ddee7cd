"""Similarity search over embedding columns.

Two paths:
 - ``cosine_topk``: exact brute-force top-k — the correctness baseline,
   O(n^2) pairs; only for modest n or as the verify stage.
 - ``ann_topk``: random-hyperplane LSH (SimHash for vectors, Charikar 2002)
   — bucket on band keys of the sign pattern, search within buckets only.
   The scale path: recall < 1 (tunable via bands/rows), cost ~ bucket sizes.

The LSH and IVF searches and ``cosine_dup_edges`` differ only in how rows
are keyed; all three then share one tail (``_ann_edges``) over the shared
bucket self-join and payload fetch in operators/pairs.py.

Numeric kernels (unit-normalization, hyperplane projections, dot products)
run as vectorized numpy inside mapInPandas / pandas_udf — Catalyst
higher-order functions (aggregate/zip_with) evaluate interpreted per
element and are ~10x slower on array math (measured; see functions/sign.py
module docstring for the same finding on shingles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import as_i64, hash_seeds, mix64
from .pairs import _bucket_census, _bucket_pairs, _verify_join


def _dot_udf() -> Column:
    @F.pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series(np.empty(0, dtype=np.float64))
        ma = np.stack(a.to_numpy())
        mb = np.stack(b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return _dot


def _unit_rows(
    df: DataFrame, id_col: str, vec_col: str, extra=None, extra_schema: str = ""
) -> DataFrame:
    """(id, _unit: array<double>[, extra columns]) — L2-normalized vectors,
    numpy-batched.  `extra(u)` maps one batch's unit matrix to a dict of
    further columns, declared by `extra_schema` (", name type, ...")."""
    id_t = df.schema[id_col].dataType.simpleString()

    def _norm(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(m, axis=1, keepdims=True)
            n[n == 0] = 1.0
            u = m / n
            cols = extra(u) if extra else {}
            yield pd.DataFrame({id_col: pdf[id_col], "_unit": list(u), **cols})

    return df.select(id_col, vec_col).mapInPandas(
        _norm, f"{id_col} {id_t}, _unit array<double>{extra_schema}"
    )


def _topk(both: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        both.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _mirror(sims: DataFrame) -> DataFrame:
    """Emit each (a, b, cosine) row also as (b, a, cosine) — via one
    inline explode, NOT a self-union: a Union of the frame with its own
    swap evaluates the upstream plan twice (no common-subexpression reuse
    across DataFrame self-references), which doubled the candidate joins
    and the dot-product UDF in every top-k path (guide §2.4)."""
    return sims.select(
        F.explode(
            F.array(
                F.struct("vec_id", "neighbor_id", "cosine"),
                F.struct(
                    F.col("neighbor_id").alias("vec_id"),
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("cosine"),
                ),
            )
        ).alias("_e")
    ).select("_e.vec_id", "_e.neighbor_id", "_e.cosine")


def cosine_topk_bruteforce(
    df: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, neighbor_id, cosine, rank): exact top-k cosine neighbors per
    vector (self excluded).

    BRUTE FORCE — the theta-join plans as a nested-loop/cartesian product,
    O(n^2/2) similarity evaluations.  This is the VERIFY/ORACLE path only
    (named accordingly so it cannot be mistaken for the product path); at
    scale use ann_topk and verify a recall sample against this."""
    unit = _unit_rows(df, id_col, vec_col)
    a = unit.select(F.col(id_col).alias("vec_id"), F.col("_unit").alias("va"))
    b = unit.select(F.col(id_col).alias("neighbor_id"), F.col("_unit").alias("vb"))
    dot = _dot_udf()
    sims = a.join(b, F.col("vec_id") < F.col("neighbor_id")).select(
        "vec_id", "neighbor_id", dot(F.col("va"), F.col("vb")).alias("cosine")
    )
    return _topk(_mirror(sims), k)


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """Deterministic pseudo-Gaussian hyperplanes from the splitmix64 stream
    (Box-Muller over two uniform streams)."""
    n = dim * n_bits
    s1 = hash_seeds(n, seed)
    s2 = hash_seeds(n, seed ^ 0x5A5A5A5A)
    u1 = (mix64(s1).astype(np.float64) + 1.0) / 2.0**64  # (0,1]
    u2 = mix64(s2).astype(np.float64) / 2.0**64
    g = np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)
    return g.reshape(n_bits, dim)


def _keyed_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, _unit, bkeys): unit vectors + per-band hyperplane-sign band
    keys.  The hyperplane matrix is built lazily inside the UDF from the
    first Arrow batch's vector width — deterministic per (dim, n_bits,
    seed), so every worker derives the identical planes and NO driver-side
    action is needed to probe the dimension."""
    if n_bits % bands != 0:
        raise ValueError("bands must divide n_bits")
    r = n_bits // bands
    bseeds = hash_seeds(bands, seed ^ 0xB17)
    planes = {}  # per vector width, built on the first batch

    def _keys(u):
        dim = u.shape[1]
        if dim not in planes:
            planes[dim] = _hyperplanes(dim, n_bits, seed).T  # (dim, n_bits)
        bits = (u @ planes[dim] >= 0).astype(np.uint64)  # (batch, n_bits)
        keys = np.empty((u.shape[0], bands), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(bands):
                chunk = bits[:, j * r : (j + 1) * r]
                packed = (chunk << np.arange(r, dtype=np.uint64)[None, :]).sum(
                    axis=1, dtype=np.uint64
                )
                keys[:, j] = mix64(packed ^ bseeds[j])
        return {"bkeys": list(as_i64(keys.reshape(-1)).reshape(keys.shape))}

    return _unit_rows(df, id_col, vec_col, _keys, ", bkeys array<long>")


def _key_rows(keyed: DataFrame, id_col: str, keys_col: str) -> DataFrame:
    """(id, key) — one row per bucket key of a keyed-rows frame."""
    return keyed.select(id_col, F.explode(keys_col).alias("key"))


def _ann_edges(keyed: DataFrame, id_col: str, keys_col: str, cap: int) -> DataFrame:
    """(src, dst, cosine) for every distinct id pair sharing a bucket of
    2..cap rows — the tail every search shares: keyed rows ->
    ``pairs._bucket_pairs`` -> ``pairs._verify_join`` -> exact dot.  The
    bucket shuffles move (id, key) rows only; unit vectors join back after
    the distinct candidate set is formed.  The keyed rows (an Arrow pass)
    feed both the keys and the vector fetch, so they are pinned with a
    lazy localCheckpoint, which the context cleaner releases: nothing
    lands in the session's cache manager for the caller to unpersist."""
    keyed = keyed.localCheckpoint(eager=False)
    cand = (
        _bucket_pairs(_key_rows(keyed, id_col, keys_col), id_col, "key", cap)
        .select("src", "dst")
        .distinct()
    )
    units = keyed.select(id_col, "_unit")
    return _verify_join(cand, units, id_col).select(
        "src", "dst", _dot_udf()(F.col("_unit_a"), F.col("_unit_b")).alias("cosine")
    )


def _ann_topk(edges: DataFrame, k: int) -> DataFrame:
    return _topk(
        _mirror(
            edges.select(
                F.col("src").alias("vec_id"), F.col("dst").alias("neighbor_id"), "cosine"
            )
        ),
        k,
    )


def ann_bucket_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    bands: int = 8,
    seed: int = 0xA22,
    bucket_cap: int = 2000,
) -> DataFrame:
    """(tier, n_buckets, n_rows, max_bucket) census of the ANN hash buckets
    — the never-drop-silently policy metric (``pairs._bucket_census``):
    tier 'dropped' counts buckets above bucket_cap (excluded from the
    search), 'cold' the searched ones, 'singleton' the unpaired ones."""
    keyed = _keyed_rows(df, id_col, vec_col, n_bits, bands, seed)
    return _bucket_census(_key_rows(keyed, id_col, "bkeys"), "key", [("cold", bucket_cap)])


def cosine_dup_edges(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    bands: int = 32,
    seed: int = 0xA22,
    bucket_cap: int = 2000,
) -> DataFrame:
    """(src, dst, cosine) edges with cosine >= threshold — embedding-space
    near-duplicate detection in the text pipeline's shape: LSH-bucketed
    candidates (random-hyperplane bands) -> exact-cosine verify.  The
    default 32x2-bit banding misses a cosine-0.45 pair w.p. ~3e-8 (recall
    ~1); production tunes bands/bits per the collision curve and audits
    drops via ann_bucket_stats.  Feed the result to connected_components
    for embedding-dedup clusters."""
    from ..micro import micro_rebound

    # dust-sized corpora run under a right-sized cloned session (micro.py)
    df, _ = micro_rebound(df)
    keyed = _keyed_rows(df, id_col, vec_col, n_bits, bands, seed)
    return _ann_edges(keyed, id_col, "bkeys", bucket_cap).where(
        F.col("cosine") >= threshold
    )


def ann_topk(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    bands: int = 8,
    seed: int = 0xA22,
    bucket_cap: int = 2000,
) -> DataFrame:
    """Approximate top-k cosine neighbors: random-hyperplane signature of
    n_bits split into `bands` band keys (8 bands x 8 bits default: ~94%
    candidate probability at cosine 0.9, fine buckets); candidate pairs
    share >=1 band; exact cosine is computed only within buckets.  Buckets
    above bucket_cap are excluded (hot-bucket guard, same policy as the
    text pipeline) — run ``ann_bucket_stats`` with the same parameters to
    COUNT what that guard excluded; drops must never go unreported.  Unit
    vectors are joined back AFTER the distinct candidate-id set is formed,
    so the band-key shuffles move only (id, key) rows."""
    from ..micro import micro_rebound

    # dust-sized corpora run under a right-sized cloned session (micro.py)
    df, _ = micro_rebound(df)
    keyed = _keyed_rows(df, id_col, vec_col, n_bits, bands, seed)
    return _ann_topk(_ann_edges(keyed, id_col, "bkeys", bucket_cap), k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------
#
# Complements the random-hyperplane path above (Jegou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 — the IVF coarse
# stage, without the PQ residual codes): spherical k-means partitions the
# corpus into n_lists inverted lists; each vector probes its nprobe nearest
# centroids; candidate pairs share a probed list; exact cosine reranks.
# Versus LSH banding, IVF adapts buckets to the data distribution (clustered
# corpora get balanced lists where fixed hyperplanes get hot buckets) at the
# cost of a training pass.


def ivf_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 0xA23,
    iters: int = 5,
) -> np.ndarray:
    """Spherical k-means coarse quantizer: (n_lists, dim) unit centroids.

    Deterministic end to end: init picks the n_lists rows with the smallest
    ``xxhash64(id, seed)`` (tie-break on id), and Lloyd updates are exact
    sums, so every run with the same (data, seed) yields bit-identical
    centroids.  Each iteration is fully distributed — mapInPandas emits
    per-Arrow-batch partial sums (<= n_lists rows each), a groupBy(cid)
    applyInPandas reduces them, and only the final (n_lists, dim) matrix is
    collected.  Driver traffic is O(n_lists * dim) per iteration — a model
    fit, not a data collect; at 10^12 rows the shape is unchanged (this is
    MLlib KMeans' aggregation pattern with Arrow batching)."""
    unit = _unit_rows(df, id_col, vec_col).persist()
    try:
        seed_rows = (
            unit.select(
                "_unit",
                F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
                F.col(id_col).alias("_i"),
            )
            .orderBy("_h", "_i")
            .limit(n_lists)
            .collect()
        )
        if len(seed_rows) < n_lists:
            raise ValueError(
                f"n_lists={n_lists} exceeds corpus size {len(seed_rows)}"
            )
        cent = np.stack([np.asarray(r["_unit"], dtype=np.float64) for r in seed_rows])

        def _partials_gen(c: np.ndarray):
            k_, d_ = c.shape

            def _partials(batches):
                for pdf in batches:
                    if not len(pdf):
                        continue
                    u = np.stack(pdf["_unit"].to_numpy())
                    cid = (u @ c.T).argmax(axis=1)
                    sums = np.zeros((k_, d_), dtype=np.float64)
                    np.add.at(sums, cid, u)
                    cnts = np.bincount(cid, minlength=k_)
                    nz = np.flatnonzero(cnts)
                    yield pd.DataFrame(
                        {
                            "cid": nz.astype(np.int32),
                            "psum": list(sums[nz]),
                            "cnt": cnts[nz].astype(np.int64),
                        }
                    )

            return _partials

        def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
            arr = np.stack(pdf["psum"].to_numpy())
            # float addition is order-sensitive and shuffle arrival order is
            # not deterministic: sum in lexicographic row order so the same
            # partials always reduce to the bit-identical total
            arr = arr[np.lexsort(arr.T[::-1])]
            s = arr.sum(axis=0)
            return pd.DataFrame(
                {
                    "cid": [int(pdf["cid"].iloc[0])],
                    "psum": [s],
                    "cnt": [int(pdf["cnt"].sum())],
                }
            )

        pschema = "cid int, psum array<double>, cnt long"
        for _ in range(iters):
            rows = (
                unit.select("_unit")
                .mapInPandas(_partials_gen(cent), pschema)
                .groupBy("cid")
                .applyInPandas(_reduce, pschema)
                .collect()
            )
            new = cent.copy()  # empty lists keep their old centroid
            for r in rows:
                m = np.asarray(r["psum"], dtype=np.float64) / r["cnt"]
                n = np.linalg.norm(m)
                if n > 0:
                    new[r["cid"]] = m / n  # spherical: renormalize means
            cent = new
        return cent
    finally:
        unit.unpersist()


def _ivf_keyed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    nprobe: int,
    seed: int,
    iters: int,
    centroids: np.ndarray | None,
) -> DataFrame:
    """(id, _unit, cids: array<int>) — unit vectors plus the nprobe nearest
    centroid ids (descending dot, index tie-break), numpy-batched; trains
    the centroids (``ivf_train``) unless `centroids` are given."""
    c = (
        centroids
        if centroids is not None
        else ivf_train(df, id_col, vec_col, n_lists=n_lists, seed=seed, iters=iters)
    )
    p = min(nprobe, c.shape[0])

    def _probe(u):
        # argsort (stable) rather than argpartition: deterministic order
        # with index tie-break, and n_lists is small
        top = np.argsort(-(u @ c.T), axis=1, kind="stable")[:, :p]
        return {"cids": list(top.astype(np.int32))}

    return _unit_rows(df, id_col, vec_col, _probe, ", cids array<int>")


def ivf_list_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 0xA23,
    iters: int = 5,
    list_cap: int = 100_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(tier, n_lists, n_rows, max_list) census of the probed inverted
    lists — the same never-drop-silently policy metric as
    ann_bucket_stats: 'dropped' lists exceed list_cap and are excluded
    from the search, 'cold' are searched, 'singleton' pair nothing.

    To audit exactly the lists a search excluded, pass the SAME training
    parameters as the ann_topk_ivf call (training is deterministic, so
    equal parameters reproduce bit-identical centroids) — or pass the
    search's `centroids` directly to skip retraining."""
    keyed = _ivf_keyed(df, id_col, vec_col, n_lists, nprobe, seed, iters, centroids)
    return _bucket_census(
        _key_rows(keyed, id_col, "cids"), "key", [("cold", list_cap)]
    ).withColumnsRenamed({"n_buckets": "n_lists", "max_bucket": "max_list"})


def ann_topk_ivf(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 0xA23,
    iters: int = 5,
    list_cap: int = 100_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via an IVF coarse quantizer:
    train spherical k-means (``ivf_train``), probe each vector's nprobe
    nearest lists, form candidate pairs within shared lists, rerank with
    exact cosine.  Recall is tuned by (n_lists, nprobe) — nprobe = n_lists
    degrades gracefully to exact — and audited the same two ways as the
    LSH path: ``ivf_list_stats`` with the same training parameters (or
    the same `centroids`) counts what list_cap excluded, and the harness
    validates a measured-recall-1.0 config against the exact-kNN oracle.
    Like ann_topk, unit vectors join back only after the distinct
    candidate-id set — probe shuffles move (id, cid) rows only.  Pass
    `centroids` (from ``ivf_train``) to reuse one training across search,
    census, and repeated queries."""
    keyed = _ivf_keyed(df, id_col, vec_col, n_lists, nprobe, seed, iters, centroids)
    return _ann_topk(_ann_edges(keyed, id_col, "cids", list_cap), k)
