"""End-to-end near-duplicate clustering pipeline (op 14).

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

Heavy payload columns (clips.bytes) never enter the plan — only
(id, text) are read (column pruning pushes this into the parquet scan);
the final output re-joins payload by id if the caller asks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..config import DedupConfig
from ..functions.sign import signed
from ..micro import micro_rebound
from ..operators.cc import _rebind, assign_clusters
from ..operators.pairs import band_key_rows, bucket_stats, candidate_pairs, verify_pairs


def _edges_with_persisted(
    df: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """(edges, persisted signed frame) — the caller owns the unpersist;
    the signed frame is read twice by the verify joins, so it must stay
    pinned until the edge frame is materialized."""
    s = signed(df, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = candidate_pairs(s, cfg)
    return verify_pairs(pairs, s, cfg), s


def dedup_edges(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Verified near-duplicate edge list (src, dst, jaccard).  The signed
    frame feeds the pair and both verify joins; a returned lazy frame
    cannot hand back a persisted one for unpersisting, so it is pinned
    with a lazy localCheckpoint, which the context cleaner releases."""
    s = signed(df, cfg).localCheckpoint(eager=False)
    return verify_pairs(candidate_pairs(s, cfg), s, cfg)


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
    come back with NULL cluster_id/cluster_size.
    """
    return _labels_with_state(df, cfg)[0]


def _labels_with_state(df: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, bool]:
    """Core of run_pipeline: (labels, materialized?).

    Dust-sized inputs run the whole sign -> pairs -> verify -> CC -> label
    chain under a right-sized cloned session (micro_rebound): the chain is
    ~10 exchanges of id-sized rows, so at micro scale its wall clock is
    per-task fixed cost times the partition count, not data.  The labels
    are then materialized under that sizing and handed back to the
    caller's session zero-copy (the same checkpoint+_rebind handoff CC
    itself uses); `materialized` tells callers the frame is already
    checkpoint-backed so they can skip their own pin-and-count pass.
    """
    caller = df.sparkSession
    base = df.filter(F.expr(cfg.content_filter)) if cfg.content_filter else df
    base, micro = micro_rebound(base)
    edges, s = _edges_with_persisted(base, cfg)
    edges = edges.select("src", "dst")
    if cfg.substring_min_len:
        from ..operators.substring import substring_pairs

        sub = substring_pairs(
            base, cfg.id_col, cfg.text_col, min_len=cfg.substring_min_len
        ).select("src", "dst")
        edges = edges.unionByName(sub)
    # assign_clusters materializes the edge frame (CC's eager checkpoint),
    # after which the label plan references only checkpoint blocks — the
    # pinned signed frame can be released instead of living for the session
    labels = assign_clusters(base, edges, cfg.id_col, cfg.min_support)
    s.unpersist()
    if micro:
        labels = _rebind(labels.localCheckpoint(eager=True), caller)
    if cfg.content_filter:
        # excluded rows are part of the OUTPUT but not of any cluster
        labels = df.select(cfg.id_col).join(labels, cfg.id_col, "left")
        return labels, False
    return labels, micro


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
    labels, materialized = _labels_with_state(
        df.select(cfg.id_col, cfg.text_col), cfg
    )
    if broadcast_label_rows:
        # one row per input id, already computed once here; lazy checkpoint
        # + count materializes the blocks and sizes them in one pass (the
        # AQE stages execute at the localCheckpoint call either way).  The
        # micro path hands the frame back already checkpoint-backed, so
        # only the count remains.
        if not materialized:
            labels = labels.localCheckpoint(eager=False)
        if labels.count() <= broadcast_label_rows:
            labels = F.broadcast(labels)
    return df.join(labels, cfg.id_col)


def pipeline_stats(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Bucket-tier census for the run (includes hot/dropped band counts)."""
    return bucket_stats(band_key_rows(signed(df, cfg), cfg), cfg)
