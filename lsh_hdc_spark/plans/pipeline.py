"""End-to-end near-duplicate clustering pipeline (op 14), and the one
clustering core every batch and streaming entry calls.

Reference semantics: ``lsh_hdc/cluster.py::HDClustering.clusters_from_iter``
wires normalize→shingle→sign→band→bucket→sketch/Jaccard-filter→union-find
from a cfg dict (SURVEY.md §3.1).  Here the same wiring is a declarative
DataFrame plan:

    read -> [JVM codegen] shingle+hash -> [one Arrow UDF] sign/band
         -> explode band keys -> [shuffle] bucket self-join (tiered/salted)
         -> distinct pairs -> join-back shingles -> Jaccard verify
         -> [one edge count] connected components, labelled on the driver
            at or below cc.LOCAL_MAX_EDGES (1M) edges, else by iterative
            star joins
         -> [one join] labels -> rollup

The wiring is written once, in ``_cluster``, over a list of ``Axis``
values.  An axis is what one modality contributes: how a frame is signed,
its signature and key columns, its verified edges within a signed frame
and over stored signatures, and its index-match verify.  ``text_axis`` is
the transcript axis above; ``operators/audio_dedup.py::audio_axis`` is
the sound axis.  ``_cluster`` right-sizes the session once
(``micro_rebound``), signs and pins each axis once, unions the axes' edges
(plus optional extra edges, e.g. substring pairs) into one
``assign_clusters`` call, and returns the labels and the pinned
signatures in the caller's session.  Its callers:

    run_pipeline / run_pipeline_clips   text axis (+ substring edges)
    audio_dedup_clusters                audio axis
    fused_dedup_clusters                text + audio axes
    streaming attach (in-batch pass)    the stream's axes
    streaming seed_*                    as the batch entry, and writes the
                                        returned signatures to the index

``dedup_edges`` and ``audio_dedup_edges`` are its edge half for one axis
(``_axis_edges``: sign, pin, verified edges; no sizing, no CC).  Fusing
modalities is only a longer axis list: the union of their edges feeds the
one CC.

Heavy payload columns (clips.bytes) never enter the plan — only
(id, text) are read (column pruning pushes this into the parquet scan);
the final output re-joins payload by id if the caller asks.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.sign import signed
from ..micro import micro_rebound
from ..operators.cc import _rebind, assign_clusters
from ..operators.pairs import band_key_rows, bucket_stats, candidate_pairs, verify_pairs
from ..operators.substring import substring_pairs


@dataclass(frozen=True)
class Axis:
    """What one modality contributes to the clustering core and to the
    streaming attach/seed/rebuild core."""

    #: signature columns stored in an index's sig_dir, after the id
    sig_cols: tuple[str, ...]
    #: (key-array column in sig_dir, its exploded column in keys_dir)
    keys: tuple[str, str]
    #: frame -> (id, *sig_cols, ...), one row per signable row
    sign: Callable[[DataFrame], DataFrame]
    #: (signed frame, frame) -> verified (src, dst, ...) edges
    batch_edges: Callable[[DataFrame, DataFrame], DataFrame]
    #: stored signatures -> verified (src, dst, ...) edges, for the rebuild
    sig_edges: Callable[[DataFrame], DataFrame]
    #: columns the index match fetches per candidate pair, as one struct
    fetch: tuple[str, ...]
    #: (new struct, indexed struct) -> (score, verified); higher is better
    score: Callable[[Column, Column], tuple[Column, Column]]


TEXT_KEYS = ("band_keys", "band_key")


def text_axis(cfg: DedupConfig) -> Axis:
    """The transcript axis: shingle/MinHash band keys, exact-Jaccard
    verify on the shingles (the batch pipeline's pair path, in-batch and
    on the stored signatures alike)."""

    def edges(sigs: DataFrame, batch: DataFrame | None = None) -> DataFrame:
        return verify_pairs(candidate_pairs(sigs, cfg), sigs, cfg)

    def jaccard(n: Column, i: Column) -> tuple[Column, Column]:
        a = F.array_distinct(n["shingles_h"])
        b = F.array_distinct(i["shingles_h"])
        inter = F.size(F.array_intersect(a, b))
        union = F.size(a) + F.size(b) - inter
        jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
        return jac, jac >= F.lit(cfg.resolved_jaccard_threshold)

    return Axis(
        sig_cols=("shingles_h", "sketch", "band_keys"),
        keys=TEXT_KEYS,
        sign=lambda df: signed(df, cfg),
        batch_edges=edges,
        sig_edges=edges,
        fetch=("shingles_h",),
        score=jaccard,
    )


def _union(frames: list[DataFrame]) -> DataFrame:
    """unionByName over the axes' frames, deduplicated when more than one
    axis contributes (a pair can verify, an id be signed, on both): CC's
    local-finish bound counts edges, so a pair both axes verify must not
    count twice."""
    out = reduce(DataFrame.unionByName, frames)
    return out.distinct() if len(frames) > 1 else out


def _axis_edges(df: DataFrame, ax: Axis) -> tuple[DataFrame, DataFrame]:
    """(pinned signatures, verified edges) of one axis over `df` — the
    edge half of ``_cluster``.  The signatures feed the pair self-join and
    the verify fetches (and, for the streaming callers, the index match and
    append), so they are pinned; the pin is a lazy localCheckpoint, which
    the first action materializes and the context cleaner releases."""
    sigs = ax.sign(df).localCheckpoint(eager=False)
    return sigs, ax.batch_edges(sigs, df)


def _cluster(
    df: DataFrame,
    id_col: str,
    axes: list[Axis],
    min_support: int = 1,
    extra_edges: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """(labels, [pinned signatures per axis]) — labels is (id_col,
    cluster_id, cluster_size) for every row of `df` (``assign_clusters``
    semantics), over the union of every axis's verified edges and
    `extra_edges(df)`.

    Dust-sized inputs run the whole sign -> pairs -> verify -> CC chain
    under a right-sized cloned session (``micro_rebound``): the chain is
    ~10 exchanges of id-sized rows, so at micro scale its wall clock is
    per-task fixed cost times the partition count, not data.  CC
    materializes the edges (and with them every pinned signature) inside
    that session; the labels and signatures are then handed back to the
    caller's session zero-copy (``cc._rebind``), so no caller sees a
    foreign-session frame."""
    caller = df.sparkSession
    df, micro = micro_rebound(df)
    sigs, edges = zip(*(_axis_edges(df, ax) for ax in axes))
    edges = _union([e.select("src", "dst") for e in edges])
    if extra_edges is not None:
        edges = edges.unionByName(extra_edges(df).select("src", "dst"))
    labels = assign_clusters(df, edges, id_col, min_support)
    if micro:
        return _rebind(labels, caller), [_rebind(s, caller) for s in sigs]
    return labels, list(sigs)


def dedup_edges(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Verified near-duplicate edge list (src, dst, jaccard): the text
    axis's edge half of the clustering core (``_axis_edges``).  The signed
    frame feeds the pair and both verify joins through a lazy
    localCheckpoint, which the context cleaner releases."""
    return _axis_edges(df, text_axis(cfg))[1]


def _text_cluster(
    df: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, list[DataFrame]]:
    """run_pipeline's labels, and the core's text signatures (of the rows
    that pass cfg.content_filter)."""
    base = df.filter(F.expr(cfg.content_filter)) if cfg.content_filter else df
    extra = (
        (lambda b: substring_pairs(b, cfg.id_col, cfg.text_col, cfg.substring_min_len))
        if cfg.substring_min_len
        else None
    )
    labels, sigs = _cluster(base, cfg.id_col, [text_axis(cfg)], cfg.min_support, extra)
    if cfg.content_filter:
        # excluded rows are part of the OUTPUT but not of any cluster
        labels = df.select(cfg.id_col).join(labels, cfg.id_col, "left")
    return labels, sigs


def run_pipeline(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id_col, cluster_id, cluster_size) for every input row.

    cluster_id = min id of the near-duplicate component (deterministic,
    partitioning-invariant) and cluster_size = its number of distinct ids,
    so a repeated input id repeats its row without growing its cluster;
    singletons are their own cluster; components below cfg.min_support get
    NULL cluster_id.  When
    cfg.substring_min_len is set, exact-substring-duplicate pairs (op 23)
    are OR-merged into the edge list before clustering.  When
    cfg.content_filter is set (op 15), rows failing the predicate never
    reach signing (the filter is pushed into the scan by Catalyst) and
    come back with NULL cluster_id/cluster_size.  The text axis of the
    clustering core (``_cluster``); the labels belong to `df`'s session.
    """
    return _text_cluster(df, cfg)[0]


#: salt fanout for the two-phase member cap — a degenerate mega-cluster is
#: split across this many parallel pre-cap tasks (size it ~sqrt(largest
#: expected component / member_cap) for a real deployment)
_ROLLUP_SALTS = 64


def cluster_rollup(
    labels: DataFrame, id_col: str, member_cap: int | None = 100
) -> DataFrame:
    """(cluster_id, cluster_size, member_ids) for non-singleton clusters,
    ordered largest-first — the flagship 'report duplicate clusters' query.

    `member_ids` is capped to the `member_cap` smallest ids per cluster by
    default: a degenerate mega-cluster (boilerplate text) would otherwise
    make one aggregation task hold the whole component's id list in memory
    at 100x scale.  The cap is TWO-PHASE (VERDICT r3 item 5): phase one
    keeps the `member_cap` smallest ids per (cluster_id, salt) — the
    row_number window partitions on the salted key, so a mega-cluster's
    sort is spread across _ROLLUP_SALTS parallel spillable tasks instead
    of one serial task; phase two re-caps the <= salts*cap survivors per
    cluster (the global smallest `cap` is a subset of the per-salt smallest
    `cap`s, so the result is exact).  No collect_list buffer ever exceeds
    salts*cap elements.  `cluster_size` always carries the exact count.
    Pass member_cap=None for the complete list (report-sized outputs only —
    e.g. the DuckDB oracle comparison at test scale).
    """
    base = labels.where(F.col("cluster_size") >= 2)
    if member_cap is not None:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(_ROLLUP_SALTS))
        w1 = Window.partitionBy("cluster_id", "_salt").orderBy(id_col)
        base = (
            base.withColumn("_salt", salt)
            .withColumn("_rk", F.row_number().over(w1))
            .where(F.col("_rk") <= member_cap)
            .drop("_rk", "_salt")
        )
    agg = base.groupBy("cluster_id").agg(
        F.first("cluster_size").alias("cluster_size"),
        F.sort_array(F.collect_list(id_col)).alias("member_ids"),
    )
    if member_cap is not None:
        agg = agg.withColumn(
            "member_ids", F.slice("member_ids", 1, member_cap)
        )
    return agg.orderBy(F.desc("cluster_size"), "cluster_id")


#: row-count ceiling under which the labels side of the final clips join is
#: broadcast (~40 B/row in the built hash relation => ~400 MB at the
#: default).  Above it the join falls back to a shuffle join — at 10^12
#: rows the real fix is storing the byte table bucketed by clip_id
#: (Iceberg storage-partitioned join) so the payload side still never
#: shuffles.  Tune per deployment driver/executor memory.
BROADCAST_LABEL_ROWS = 10_000_000


def run_pipeline_clips(
    df: DataFrame,
    cfg: DedupConfig | None = None,
    broadcast_label_rows: int | None = BROADCAST_LABEL_ROWS,
) -> DataFrame:
    """Full clips flow: dedup on (clip_id, transcript) only, then re-join
    cluster labels onto the COMPLETE rows (bytes included) for the final
    output table.  Labels follow ``run_pipeline``'s contract.

    The binary column never enters the dedup plan (pruned at the scan) and
    touches exactly one join at the end.  That join must not shuffle the
    byte side: the labels frame is materialized (it is id/label/size rows —
    tiny relative to the payload table) and BROADCAST when its measured row
    count is under `broadcast_label_rows`, so the payload flows scan ->
    broadcast-hash-join -> sink with no Exchange (guide §8: every shuffle
    but the last moves a lightweight proxy; previously Catalyst had no size
    estimate for the checkpoint-backed labels frame, planned a
    ShuffledHashJoin, and the whole byte column crossed a shuffle).  Beyond
    the threshold (or with broadcast_label_rows=None) the shuffle join
    returns; at 10^12-clip scale store the source bucketed by clip_id
    (Iceberg storage-partitioned join) so only the labels side moves.
    """
    from ..config import CLIPS

    cfg = cfg or CLIPS
    labels = run_pipeline(df.select(cfg.id_col, cfg.text_col), cfg)
    if broadcast_label_rows:
        # one row per input id, already computed once here; lazy checkpoint
        # + count materializes the blocks and sizes them in one pass (the
        # AQE stages execute at the localCheckpoint call either way)
        labels = labels.localCheckpoint(eager=False)
        if labels.count() <= broadcast_label_rows:
            labels = F.broadcast(labels)
    return df.join(labels, cfg.id_col)


def pipeline_stats(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Bucket-tier census for the run (includes hot/dropped band counts)."""
    return bucket_stats(band_key_rows(signed(df, cfg), cfg), cfg)
