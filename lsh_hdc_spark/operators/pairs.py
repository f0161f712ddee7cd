"""Candidate pair generation + verification (ops 9-11, 25).

Reference semantics: ``lsh_hdc/cluster.py::Cluster.add_item`` inserts each
item into every band-key bucket and unions it with every co-bucketed peer
that passes the sketch filter (SURVEY.md §2.1 ops 9-10); exact-Jaccard
verification is promoted to a mandatory stage by BASELINE.json north_star.

Spark design: the in-memory bucket map becomes ``groupBy(band_key)`` — the
shuffle IS the bucket map.  Pair generation is a band-key self-join (pure
JVM, AQE skew-join eligible) with a three-tier hot-band policy
(BASELINE.json mandates salted repartitioning for hot bands):

 - bucket size <= pair_cap: full within-bucket pairing (self-join).
 - pair_cap < size <= drop_cap: *salted anchor* pairing — members are
   salted into `salt_buckets` sub-buckets, a per-(key, salt) partial min
   picks anchor candidates (two-phase salted aggregation; no single
   partition ever sees the whole hot bucket), the lowest `anchor_fanout`
   anchors per key are kept, and each member pairs with each anchor.
   Connectivity through the bucket is preserved (every member touches the
   same anchors) at O(size * fanout) instead of O(size^2) pairs; edges that
   exist only between two non-anchor members may be missed — acceptable
   because a band bucket this hot carries almost no precision signal.
 - size > drop_cap: the band key is dropped entirely and counted in the
   `hot_bands_dropped` metric (never silently — SURVEY.md §2.3 op 25).

All id comparisons order pairs canonically (src < dst) so output is
deterministic under any partitioning (SURVEY.md §2.5.5).

Every dedup axis has this bucket -> pair -> fetch -> verify shape, so the
steps live here once and the other axes (knn, substring, audio_dedup,
streaming/audio_ingest) call them, changing only the verify predicate —
the LSH similarity join of "Implementing Distributed Similarity Joins
using Locality Sensitive Hashing" (EDBT 2022, PAPERS.md):

 - ``_bucket_pairs``: window-count the bucket key, keep 2 <= size <= cap,
   pin lazily, self-join with src < dst (optionally carrying columns);
 - ``_verify_join``: fetch a per-id side frame onto both pair ends;
 - ``_bucket_census``: (tier, n_buckets, n_rows, max_bucket) per cap tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupConfig


def band_key_rows(signed_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, band_key) — one row per item per band; empty signatures emit
    no rows (explode of an empty/null array)."""
    return signed_df.select(
        F.col(cfg.id_col), F.explode("band_keys").alias("band_key")
    )


def _bucket_census(
    rows: DataFrame, key: str, tiers: list[tuple[str, int]]
) -> DataFrame:
    """(tier, n_buckets, n_rows, max_bucket) over the buckets of `key`.
    A bucket of one row is `singleton`; a larger one takes the first
    (label, cap) of `tiers` whose cap it does not exceed, else `dropped`.
    Every axis's never-drop-silently census (op 25) is this one body."""
    size = F.col("bucket_size")
    tier = F.when(size < 2, F.lit("singleton"))
    for label, cap in tiers:
        tier = tier.when(size <= cap, F.lit(label))
    return (
        rows.groupBy(key)
        .agg(F.count("*").alias("bucket_size"))
        .select(tier.otherwise(F.lit("dropped")).alias("tier"), "bucket_size")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("bucket_size").alias("n_rows"),
            F.max("bucket_size").alias("max_bucket"),
        )
    )


def bucket_stats(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Per-tier bucket census: (tier, n_buckets, n_rows, max_bucket).  Feeds
    the stage metrics table; `dropped` tier > 0 must be surfaced, never
    hidden."""
    return _bucket_census(
        keys, "band_key", [("cold", cfg.pair_cap), ("hot_anchor", cfg.drop_cap)]
    )


def _sized_buckets(rows: DataFrame, key: str, cap: int) -> DataFrame:
    """`rows` whose `key` bucket holds 2..cap rows, with that size as
    `bucket_size`, lazily pinned.

    The size is a window count over the key exchange, so the rows shuffle
    by key once instead of twice (a groupBy plus a join back).  The pin
    matters because a DataFrame self-join re-evaluates its whole subtree
    per side: without it the upstream explode/Arrow pass and the window
    ran once per reference.  With AQE off the pinned scan keeps the key's
    hash partitioning and feeds the self-join with no further exchange;
    with AQE on, partition coalescing drops that partitioning, so one
    exchange of the pinned rows sits below the join and its other side
    reuses it (ReusedExchange).  The pin is a lazy localCheckpoint: under
    AQE its upstream stages run when it is built, and its blocks are
    released by the context cleaner, so no caller unpersists anything."""
    return (
        rows.withColumn("bucket_size", F.count("*").over(Window.partitionBy(key)))
        .where(F.col("bucket_size").between(2, cap))
        .localCheckpoint(eager=False)
    )


def _side(df: DataFrame, id_col: str, name: str, cols, sfx: str, *keep: str):
    """`df` with `id_col` renamed to `name`, each of `cols` suffixed `sfx`,
    and the `keep` columns as they are."""
    return df.select(
        *keep, F.col(id_col).alias(name), *[F.col(c).alias(c + sfx) for c in cols]
    )


def _self_join(sized: DataFrame, id_col: str, key: str, carry=()) -> DataFrame:
    return _side(sized, id_col, "src", carry, "_a", key).join(
        _side(sized, id_col, "dst", carry, "_b", key), key
    ).where(F.col("src") < F.col("dst"))


def _bucket_pairs(
    rows: DataFrame, id_col: str, key: str, cap: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(key, src, dst, <carry>_a..., <carry>_b...): every pair of rows with
    src < dst that share a `key` bucket of 2..cap rows — the one bucket
    self-join behind every axis.  Buckets above `cap` pair nothing; count
    them with ``_bucket_census``.  Each `carry` column rides both sides,
    suffixed `_a` on the src side and `_b` on the dst side.  A pair
    repeats once per bucket its two ids share."""
    return _self_join(_sized_buckets(rows, key, cap), id_col, key, carry)


def _verify_join(pairs: DataFrame, side: DataFrame, id_col: str) -> DataFrame:
    """`pairs` (src, dst, ...) with the per-id `side` frame joined on as
    src and again as dst — the one two-sided payload fetch before every
    axis's verify.  Every other `side` column is suffixed `_a` on the src
    side and `_b` on the dst side."""
    cols = [c for c in side.columns if c != id_col]
    return pairs.join(_side(side, id_col, "src", cols, "_a"), "src").join(
        _side(side, id_col, "dst", cols, "_b"), "dst"
    )


def candidate_pairs(signed_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Distinct candidate (src, dst) pairs with src < dst from shared band
    keys, under the tiered hot-band policy: the bucket self-join of
    ``_bucket_pairs`` over the cold tier, salted anchors over the hot
    tier, both read from one pinned sized frame (``_sized_buckets``)."""
    iid = cfg.id_col
    # measured 2.1x on the 20k-clip label pipeline (construct 5.1-6.4 s ->
    # 2.9-3.0 s) against the unpinned plan, which ran the explode+window
    # chain once per reference
    keys = _sized_buckets(band_key_rows(signed_df, cfg), "band_key", cfg.drop_cap)
    pairs_cold = _self_join(
        keys.where(F.col("bucket_size") <= cfg.pair_cap), iid, "band_key"
    ).select("src", "dst")
    hot = keys.where(F.col("bucket_size") > cfg.pair_cap).drop("bucket_size")

    # --- salted anchor path for hot buckets --------------------------------
    hid = F.xxhash64(F.col(iid))  # deterministic anchor order, skew-free
    salted = hot.select(
        "band_key",
        F.col(iid),
        F.pmod(hid, F.lit(cfg.salt_buckets)).alias("salt"),
        hid.alias("h"),
    )
    partial_min = salted.groupBy("band_key", "salt").agg(
        F.min(F.struct(F.col("h"), F.col(iid).alias("aid"))).alias("m")
    )
    anchors = (
        partial_min.select("band_key", F.col("m.h").alias("h"), F.col("m.aid").alias("aid"))
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("band_key").orderBy("h", "aid")),
        )
        .where(F.col("rk") <= cfg.anchor_fanout)
        .select("band_key", "aid")
    )
    pairs_hot = (
        hot.join(anchors, "band_key")
        .where(F.col(iid) != F.col("aid"))
        .select(
            F.least(F.col(iid), F.col("aid")).alias("src"),
            F.greatest(F.col(iid), F.col("aid")).alias("dst"),
        )
    )

    return pairs_cold.unionByName(pairs_hot).distinct()


def verify_pairs(
    pairs: DataFrame, signed_df: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Exact-Jaccard (and optional sketch-Hamming) verification of candidate
    pairs -> (src, dst, jaccard) edges.

    Jaccard is computed JVM-side on the hashed shingle arrays
    (array_intersect/size — whole-stage codegen); the optional b-bit sketch
    Hamming pre-filter (op 10) is bit_count(xor) <= max_hamming, mirroring
    ``lsh_hdc/__init__.py::hamming``.
    """
    iid = cfg.id_col
    # sketch rides the two fat array joins only when the Hamming pre-filter
    # is actually on — with sketch_bits=0 shuffling it is pure waste
    use_sketch = cfg.sketch_bits > 0
    side_cols = [F.col(iid), F.array_distinct("shingles_h").alias("sh")]
    if use_sketch:
        side_cols.append(F.col("sketch"))
    j = _verify_join(pairs, signed_df.select(*side_cols), iid)
    if use_sketch:
        j = j.where(
            F.bit_count(F.col("sketch_a").bitwiseXOR(F.col("sketch_b")))
            <= cfg.max_hamming
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")).alias(
        "jaccard"
    )
    return (
        j.select("src", "dst", jac)
        .where(F.col("jaccard") >= F.lit(cfg.resolved_jaccard_threshold))
    )
