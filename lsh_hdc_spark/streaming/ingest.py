"""Structured-Streaming incremental dedup ingest (streaming twin of op 14).

The batch pipeline (plans/pipeline.py) rebuilds clusters from scratch; this
module handles the production steady state instead: a corpus has already
been clustered, and new items arrive continuously.  They attach by
transcript (the text axis), by sound (the audio axis) or by both
(fused.py).  One core here serves all three: it is parametrised over a
list of ``Axis`` values (plans/pipeline.py), each holding what is specific
to its modality (how a batch is signed, its signature and key columns,
its in-batch and stored-signature edges, its match verify).  Each
micro-batch is

    the batch clustering core (plans/pipeline.py::_cluster): sign and pin
      per axis (stateless mapInPandas — streaming-safe), in-batch
      candidate pairs + verify per axis, UNION -> one CC
         (novel dup groups arriving together co-cluster immediately)
      -> per axis: key stream-static join against the pre-exploded KEY
         index (ids only — no arrays cross this shuffle)
      -> distinct (new_id, index_id) candidates -> fetch the verify
         columns ONCE per pair -> the axis's verify and score
      -> per in-batch cluster: adopt the best-matching indexed cluster's
         label, else keep the in-batch label
      -> append labels + the batch's signatures + keys to the index
         (so LATER batches can match THIS batch's items).

Semantics vs a full rebuild: attach is greedy — a new item can merge into
exactly one existing cluster, and two existing clusters are never merged by
a bridging arrival.  When members of one in-batch cluster match different
indexed clusters (on one axis or across axes), the smallest label wins and
the clusters stay apart.  The compaction path is ``rebuild_index`` (and its
audio/fused twins): run the candidate/verify/CC machinery over the
accumulated signature index and swap the corrected labels in (same trade
as any streaming union-find).

Scale design (10^12-row index, SURVEY.md §4):
 - each axis's index is THREE tables, so the heavy things never meet a
   shuffle they don't need:
     keys_dir   (key, id, cluster_id)  — pre-exploded keys, partitioned by
                epoch only, like the other two tables; the stream-static
                join probes THIS table only.  In production this table is
                Iceberg `bucket(N, key)` and the join is storage-partitioned
                (SPJ): the index side never shuffles, only the micro-batch
                side is routed to buckets.  Under plain parquet the keys
                are not split by key hash: a directory prune saved little
                (a 25-row batch's band keys already hash into 44-49 of 64
                prefixes), while every epoch dir holding more than 32
                prefix dirs cost one Spark listing job per read, and each
                sink wrote one file per prefix.
     sig_dir    (id, signature columns, cluster_id) — the arrays, keyed by
                id; joined only against the DISTINCT candidate-id set (the
                verify_pairs/ann_topk pattern from operators/pairs.py), so
                an index row's array is fetched at most once per batch,
                never per key.  Store bucketed by id in production so this
                join is also storage-partitioned.
     labels_dir (id, cluster_id) — the output stream, one per label space
                (a fused index's two axes share it).
 - payload columns (text, audio bytes) never enter any streaming plan;
 - exactly-once: the per-batch step runs inside foreachBatch under a
   checkpointLocation, and all sinks are partitioned by epoch and
   written with dynamic partition overwrite — a retried epoch REPLACES its
   own partitions instead of appending duplicates, making the parquet path
   idempotent end-to-end.  (A transactional format — Iceberg — additionally
   makes the writes one atomic commit; with plain parquet a crash BETWEEN
   the writes of one epoch leaves partials that the retry then overwrites,
   so the window is self-healing but not atomic.)
 - backfill = the same code path under trigger(availableNow=True).

Leases: a stream holds an O_EXCL lease file beside each of its sig_dirs
for its whole lifetime, from before .start() (a failed start releases it);
a rebuild holds the same lease for its whole duration.  So attach-vs-
rebuild and rebuild-vs-rebuild fail fast in either order, and a fused
stream holds both axes' leases, which also fences a single-axis rebuild
run against one of its sub-indexes.

Swap: a rebuild stages every table it replaces as ``<live>.rebuild``,
then writes a marker beside the labels dir listing the staged -> live
pairs, then swaps each pair (live -> .old, staged -> live, delete .old).
Recovery runs at every rebuild and stream start: with the marker present
it finishes every remaining pair, so no crash point leaves new
signatures beside old labels or one axis swapped and the other stale;
with the marker absent it discards staged dirs (staging never finished).
Production: one atomic Iceberg REPLACE commit across the tables.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from dataclasses import dataclass
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import DedupConfig
from ..micro import micro_rebound
from ..operators.cc import assign_clusters
from ..plans.pipeline import TEXT_KEYS, Axis, _cluster, _text_cluster, _union, text_axis

#: epoch used for pre-stream seeding and rebuild output (real stream
#: epochs are >= 0)
SEED_EPOCH = -1


@dataclass(frozen=True)
class StreamIndex:
    """On-disk state of one axis (see module docstring for the three-table
    layout).  All three are plain parquet here, partitioned by epoch only;
    the layout contract is epoch-partitioned dynamic overwrite —
    append-only across epochs, idempotent within one."""

    sig_dir: str
    labels_dir: str
    keys_dir: str

    def exists(self) -> bool:
        """True when keys_dir holds a committed data file.  Checked per
        call from the filesystem, so an index deleted or recreated at the
        same path reads as it is now; a keys dir with no committed file
        (staging dirs are dot-prefixed) reads as absent.  Raises on a keys
        dir still split into ``epoch=*/pfx=*`` prefix dirs (the earlier
        layout), which would otherwise read as absent and match nothing."""
        keys = glob.escape(self.keys_dir)
        if next(glob.iglob(os.path.join(keys, "epoch=*", "pfx=*")), None):
            raise RuntimeError(
                f"{self.keys_dir} holds pfx= key partitions, a layout attach "
                "no longer reads; run rebuild_index, rebuild_audio_index or "
                "rebuild_fused_index (whichever built this index) to rewrite "
                "its keys table by epoch"
            )
        pattern = os.path.join(keys, "epoch=*", "*.parquet")
        return next(glob.iglob(pattern), None) is not None

    def read_keys(
        self, spark: SparkSession, schema: StructType | None = None
    ) -> DataFrame:
        """The keys table; given the `schema` of the columns to read (epoch
        still comes from the path), no schema-inference job runs."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.keys_dir)

    def read_sigs(
        self, spark: SparkSession, schema: StructType | None = None
    ) -> DataFrame:
        """The signatures table; `schema` as for read_keys."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.sig_dir)

    def read_labels(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.labels_dir)


def _write_epoch(df: DataFrame, path: str, epoch: int, parts: list[str]) -> None:
    """Idempotent epoch write: dynamic partition overwrite replaces exactly
    the partitions this epoch produces, so a foreachBatch retry of a failed
    epoch cannot duplicate rows (ADVICE r3: the previous append-mode sinks
    were not idempotent).

    Every index table is partitioned by epoch alone, so an epoch is one
    partition per table and a retry replaces all of it.  The one gap
    (ADVICE r4): a retry that writes NO rows to a table (batch content or
    config changed between attempts) replaces nothing there, leaving the
    failed attempt's rows; foreachBatch replays the identical file list and
    every stage is deterministic, so this does not arise here.  A
    transactional table format (Iceberg REPLACE) removes the gap."""
    (
        df.withColumn("epoch", F.lit(epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(path)
    )


def _write_sig_epoch(
    rows: DataFrame, index: StreamIndex, id_col: str, epoch: int, keys: tuple[str, str]
) -> None:
    """Append one epoch's labeled signatures to sig_dir, and their
    pre-exploded key rows (key, id, cluster_id) to keys_dir."""
    arr, key = keys
    key_rows = rows.select(F.col(id_col), "cluster_id", F.explode(arr).alias(key))
    _write_epoch(rows, index.sig_dir, epoch, ["epoch"])
    _write_epoch(key_rows, index.keys_dir, epoch, ["epoch"])


def write_index_epoch(
    new_rows: DataFrame, index: StreamIndex, id_col: str, epoch: int
) -> None:
    """Append one epoch's labeled signatures to sig_dir + keys_dir
    (idempotently).  `new_rows` must be (id, shingles_h, sketch, band_keys,
    cluster_id)."""
    _write_sig_epoch(new_rows, index, id_col, epoch, TEXT_KEYS)


#: (axis, its sub-index) pairs; every sub-index shares one labels_dir
Parts = list[tuple[Axis, StreamIndex]]


def _seed(
    labels: DataFrame, sigs: list[DataFrame], id_col: str, parts: Parts
) -> DataFrame:
    """Lay down the full index layout for a batch-clustered base corpus
    (epoch = SEED_EPOCH) from its `labels` and the clustering core's
    signatures (one per axis, so nothing is signed twice); returns the
    labels materialized."""
    labels = labels.localCheckpoint(eager=True)
    ids = labels.select(id_col, "cluster_id")
    for (ax, ix), s in zip(parts, sigs):
        rows = s.join(ids, id_col).select(id_col, *ax.sig_cols, "cluster_id")
        _write_sig_epoch(rows, ix, id_col, SEED_EPOCH, ax.keys)
    _write_epoch(ids, parts[0][1].labels_dir, SEED_EPOCH, ["epoch"])
    return labels


def seed_index(
    spark: SparkSession, df: DataFrame, cfg: DedupConfig, index: StreamIndex
) -> DataFrame:
    """Cluster a base corpus with the batch pipeline (run_pipeline's
    labels, from the clustering core) and lay down the full index layout
    (epoch = SEED_EPOCH) from the core's signatures.  Returns the labels.
    With cfg.content_filter set, the excluded rows get label rows (NULL
    cluster_id) but no signature or key rows: they were never signed."""
    labels, sigs = _text_cluster(df, cfg)
    return _seed(labels, sigs, cfg.id_col, [(text_axis(cfg), index)])


def _best_match(
    sigs: DataFrame, index: StreamIndex, ax: Axis, id_col: str
) -> DataFrame:
    """(id, idx_cluster) — each new item's best-matching indexed cluster
    among those the axis verifies; at most one row per new id (highest
    score, ties to the smallest cluster label for determinism).

    Shuffle discipline (VERDICT r3 items 1-2): the key join moves ids
    only; the verify columns are fetched AFTER the distinct candidate set,
    once per (new, indexed) pair — the verify_pairs pattern (pairs.py).
    The match is a plain key join against the whole keys table (production:
    Iceberg bucket(N, key) with a storage-partitioned join).  The keys
    table carries no key-hash prefix dirs to prune: a batch's keys hash
    into most prefixes, so the prune read little less, while its per-epoch
    prefix dirs cost a listing job per epoch on every read and a collect
    of the batch's prefixes.  Both tables are read with a
    schema built from the batch's own signatures (signed by the same axis,
    so the column types match), so neither read runs a schema-inference
    job."""
    spark = sigs.sparkSession
    arr, key = ax.keys
    new_keys = sigs.select(F.col(id_col).alias("_nid"), F.explode(arr).alias(key))
    # the keys table's columns, typed as the batch's (cluster labels are ids)
    keys_schema = sigs.select(
        id_col, F.col(id_col).alias("cluster_id"), F.explode(arr).alias(key)
    ).schema
    idx_keys = index.read_keys(spark, keys_schema).select(
        key, F.col(id_col).alias("_iid"), F.col("cluster_id").alias("_icluster")
    )
    # ids only through the shuffle; (_iid -> _icluster) is functional, so
    # distinct on the pair triple dedups key multiplicity
    cand = (
        new_keys.join(idx_keys, key)
        .select("_nid", "_iid", "_icluster")
        .distinct()
    )
    new_arr = sigs.select(F.col(id_col).alias("_nid"), F.struct(*ax.fetch).alias("_n"))
    fetched = sigs.select(id_col, *ax.fetch).schema
    idx_arr = index.read_sigs(spark, fetched).select(
        F.col(id_col).alias("_iid"), F.struct(*ax.fetch).alias("_i")
    )
    score, ok = ax.score(F.col("_n"), F.col("_i"))
    scored = (
        cand.join(new_arr, "_nid")
        .join(idx_arr, "_iid")
        .where(ok)
        # a cluster is reachable through many members — keep its best
        .groupBy("_nid", "_icluster")
        .agg(F.max(score).alias("_s"))
    )
    w = Window.partitionBy("_nid").orderBy(F.desc("_s"), F.asc("_icluster"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(F.col("_nid").alias(id_col), F.col("_icluster").alias("idx_cluster"))
    )


def _adopt_labels(local: DataFrame, best: DataFrame, id_col: str) -> DataFrame:
    """(id, cluster_id) — adopt per LOCAL cluster: any member match attaches
    the whole local cluster; when members match different index clusters the
    smallest label wins (deterministic; the clusters are NOT merged — greedy
    semantics per the module docstring)."""
    adopt = (
        local.join(best, id_col)
        .groupBy("local_cluster")
        .agg(F.min("idx_cluster").alias("idx_cluster"))
    )
    return local.join(adopt, "local_cluster", "left").select(
        id_col,
        F.coalesce("idx_cluster", "local_cluster").alias("cluster_id"),
    )


def _attach(
    batch: DataFrame, id_col: str, parts: Parts
) -> tuple[DataFrame, list[DataFrame]]:
    """One micro-batch over the given axes: (labels, [new index rows per
    axis]) — labels is (id, cluster_id) for every batch row, each rows
    frame is that axis's signatures with the final labels.  The clustering
    core right-sizes its own sign -> edges -> CC chain and hands its
    frames back, so the index match, the append rows and every returned
    frame belong to the batch's session."""
    # in-batch clustering over every row of the batch (an audio clip that
    # does not decode has no signature row but still gets a label); the
    # core signs and pins each axis once, and its signatures serve the
    # index match and the index append below
    local, sigs = _cluster(batch, id_col, [ax for ax, _ in parts])
    local = local.select(id_col, F.col("cluster_id").alias("local_cluster"))
    matches = [
        _best_match(s, ix, ax, id_col)
        for (ax, ix), s in zip(parts, sigs)
        if ix.exists()
    ]
    if matches:
        labels = _adopt_labels(local, reduce(DataFrame.unionByName, matches), id_col)
    else:
        labels = local.select(id_col, F.col("local_cluster").alias("cluster_id"))

    # labels feed both the label sink and the index append — pin once
    labels = labels.localCheckpoint(eager=True)
    rows = [
        s.join(labels, id_col).select(id_col, *ax.sig_cols, "cluster_id")
        for (ax, _), s in zip(parts, sigs)
    ]
    return labels, rows


def attach_batch(
    batch: DataFrame, cfg: DedupConfig, index: StreamIndex
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of incremental dedup: returns (labels, new_index_rows)
    where labels is (id, cluster_id) for every batch row and new_index_rows
    is the batch's signature rows (with final labels) to append to the
    index.  Pure batch-DataFrame logic so it is unit-testable outside a
    stream and reusable from foreachBatch."""
    labels, (rows,) = _attach(batch, cfg.id_col, [(text_axis(cfg), index)])
    return labels, rows


def _attach_epoch(batch: DataFrame, epoch_id: int, id_col: str, parts: Parts) -> None:
    """The foreachBatch body: attach, then the labels sink and each axis's
    index sinks for this epoch."""
    labels, rows = _attach(batch, id_col, parts)
    _write_epoch(labels, parts[0][1].labels_dir, epoch_id, ["epoch"])
    for (ax, ix), r in zip(parts, rows):
        _write_sig_epoch(r, ix, id_col, epoch_id, ax.keys)


def _lock_path(index: StreamIndex) -> str:
    """Active-stream lease file next to sig_dir.  A crashed holder leaves
    the lease behind — the file records the holder's pid so an operator can
    confirm it is stale and remove it (production: an Iceberg table
    property / a ZK lease with TTL)."""
    return index.sig_dir + ".stream_lock"


def _acquire_leases(indexes, holder: str = "attach stream") -> list[str]:
    """Create the lease file for each index (exclusive — O_EXCL); returns
    the lock paths.  An already-held lease raises instead of being
    overwritten: silently stealing it would let this holder's exit delete
    the OTHER holder's fence (the corruption class the lease exists to
    prevent).  Partial acquisitions roll back.  Callers release in a
    finally that also covers a failed .start() — a leaked lease blocks
    every later rebuild with a live-pid holder that the recovery
    procedure would misread."""
    locks: list[str] = []
    try:
        for ix in indexes:
            lock = _lock_path(ix)
            os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
            try:
                with open(lock, "x") as fh:
                    fh.write(f"{os.getpid()} {holder}")
            except FileExistsError:
                with open(lock) as fh:
                    held = fh.read().strip()
                raise RuntimeError(
                    f"{holder}: active-stream lease {lock} already held "
                    f"(pid {held}); stop that stream or rebuild first "
                    "(remove the file only if the holder is confirmed dead)"
                ) from None
            locks.append(lock)
    except BaseException:
        _release_leases(locks)
        raise
    return locks


def _release_leases(locks: list[str]) -> None:
    for lock in locks:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


class _StreamHandle:
    """A started attach query and the leases it holds."""

    def __init__(self, query, locks: list[str]):
        self.query = query
        self._locks = locks

    def stop(self) -> None:
        """Stop the query if it is still running (raising a failure that
        raced with the stop), then release the leases."""
        try:
            if self.query.isActive:
                self.query.stop()
                self.query.awaitTermination()
        finally:
            _release_leases(self._locks)


def _start_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    checkpoint_dir: str,
    id_col: str,
    parts: Parts,
    trigger: dict,
) -> _StreamHandle:
    """Start the foreachBatch attach query over a parquet file stream,
    holding every sub-index's lease from before .start() — INCLUDING the
    window where .start() itself raises (bad source path, checkpoint
    schema conflict), which must release them."""
    indexes = [ix for _, ix in parts]
    per_batch = partial(_attach_epoch, id_col=id_col, parts=parts)
    locks = _acquire_leases(indexes)
    try:
        _verify_index_health(indexes)
        q = (
            spark.readStream.schema(schema)
            .parquet(source_dir)
            .writeStream.foreachBatch(per_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )
    except BaseException:
        _release_leases(locks)
        raise
    return _StreamHandle(q, locks)


def _run_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    checkpoint_dir: str,
    id_col: str,
    parts: Parts,
    available_now: bool,
) -> None:
    """Run the attach stream and block until the trigger drains (or, for
    the processingTime trigger, until the query stops)."""
    trigger = (
        {"availableNow": True} if available_now else {"processingTime": "1 seconds"}
    )
    h = _start_stream(spark, source_dir, schema, checkpoint_dir, id_col, parts, trigger)
    try:
        h.query.awaitTermination()
    finally:
        h.stop()


def run_attach_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    cfg: DedupConfig,
    index: StreamIndex,
    checkpoint_dir: str,
    available_now: bool = True,
) -> None:
    """Run the incremental ingest over a parquet file stream and block until
    the trigger drains.  `checkpoint_dir` makes the stream resumable: a
    restart skips every file already committed, and a retried epoch
    overwrites its own partitions (idempotent — see _write_epoch).
    availableNow=True is the backfill/batch-drain mode; pass False for a
    continuously-running micro-batch job."""
    _run_stream(
        spark, source_dir, schema, checkpoint_dir, cfg.id_col,
        [(text_axis(cfg), index)], available_now,
    )


def start_attach_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    cfg: DedupConfig,
    index: StreamIndex,
    checkpoint_dir: str,
    processing_time: str = "1 seconds",
):
    """Non-blocking variant of run_attach_stream for the continuous
    (processingTime) trigger: starts the query and returns a handle with
    .query and .stop().  The caller owns the lifecycle; the stream lease
    is released on .stop().  Used by the long-running-trigger smoke test
    (VERDICT r4 item 6) and mirrors how a production driver would hold the
    query."""
    return _start_stream(
        spark, source_dir, schema, checkpoint_dir, cfg.id_col,
        [(text_axis(cfg), index)], {"processingTime": processing_time},
    )


def _verify_index_health(indexes) -> None:
    """Complete or discard any interrupted rebuild swap, then fail loudly
    on a half-present index (ADVICE r5): an attach stream must never adopt
    cluster labels that no longer exist in the labels table.  The labels
    table is deliberately NOT part of the presence check: it is
    legitimately absent on a fresh index and shared across fused
    sub-indexes.  A keys table in the earlier prefix-dir layout raises
    (StreamIndex.exists) until a rebuild rewrites it."""
    for ix in indexes:
        _recover_swap(ix)
        ix.exists()  # raises on a keys table in the earlier prefix layout
        present = {
            d: os.path.exists(d) for d in (ix.sig_dir, ix.keys_dir)
        }
        if any(present.values()) and not all(present.values()):
            raise RuntimeError(
                "attach: index tables partially present even after swap "
                f"recovery: {present}; refusing to attach to a mixed index"
            )


def _rebuild(spark: SparkSession, id_col: str, parts: Parts) -> None:
    """Re-cluster the accumulated signatures of every axis over the union
    of their stored-signature edges and swap the corrected labels into all
    tables, holding every sub-index's lease throughout."""
    indexes = [ix for _, ix in parts]
    locks = _acquire_leases(indexes, "rebuild")
    try:
        for ix in indexes:
            _recover_swap(ix)
        # right-size to the accumulated index's estimated size (micro.py;
        # the first axis's table is the widest); the rebuild only writes,
        # so nothing is rebound back
        (ax0, ix0), rest = parts[0], parts[1:]
        first, _ = micro_rebound(ix0.read_sigs(spark).select(id_col, *ax0.sig_cols))
        spark = first.sparkSession
        sigs = [first.localCheckpoint(eager=True)] + [
            ix.read_sigs(spark).select(id_col, *ax.sig_cols).localCheckpoint(eager=True)
            for ax, ix in rest
        ]
        edges = _union(
            [ax.sig_edges(s).select("src", "dst") for (ax, _), s in zip(parts, sigs)]
        )
        # the CC vertex set is the UNION of the sig tables' ids: an id
        # signed on only one axis (undecodable audio keeps it out of the
        # audio table) must still be a vertex, or its edges on the other
        # axis would be discarded and a bridging merge lost
        vertices = _union([s.select(id_col) for s in sigs])
        relabeled = assign_clusters(vertices, edges, id_col).select(
            id_col, "cluster_id"
        )
        # label-table invariant: a labeled id with no signature row (a
        # clip whose bytes never decoded, a lost sig epoch) keeps its old
        # label verbatim instead of silently vanishing from the swapped-in
        # table.  (An index may have sig/key epochs but no labels table
        # yet — nothing to carry then.)
        labels_dir = ix0.labels_dir
        if os.path.exists(labels_dir):
            unsigned = ix0.read_labels(spark).join(
                vertices, id_col, "left_anti"
            ).select(id_col, "cluster_id")
            relabeled = relabeled.unionByName(unsigned)
        labels = relabeled.localCheckpoint(eager=True)

        pairs = []
        for (ax, ix), s in zip(parts, sigs):
            rows = s.join(labels, id_col).select(id_col, *ax.sig_cols, "cluster_id")
            rows = rows.localCheckpoint(eager=True)
            staged = StreamIndex(
                *(d + ".rebuild" for d in (ix.sig_dir, labels_dir, ix.keys_dir))
            )
            _write_sig_epoch(rows, staged, id_col, SEED_EPOCH, ax.keys)
            pairs += [(staged.sig_dir, ix.sig_dir), (staged.keys_dir, ix.keys_dir)]
        _write_epoch(labels, staged.labels_dir, SEED_EPOCH, ["epoch"])
        pairs.append((staged.labels_dir, labels_dir))
        # staging is complete: publish the pair list atomically, then swap
        marker = _swap_marker(labels_dir)
        with open(marker + ".tmp", "w") as fh:
            json.dump(pairs, fh)
        os.rename(marker + ".tmp", marker)
        _finish_swap(marker)
    finally:
        _release_leases(locks)


def rebuild_index(spark: SparkSession, cfg: DedupConfig, index: StreamIndex) -> None:
    """Offline compaction: re-cluster the ENTIRE accumulated signature index
    with the batch candidate/verify/CC machinery and swap corrected labels
    in — this is the documented fix for greedy-attach drift (a bridging
    arrival that should have MERGED two existing clusters; greedy attach
    never merges, rebuild does).

    Runs on the signatures alone (shingles_h/sketch/band_keys are the whole
    pipeline input after signing), so the raw corpus is not re-read.  The
    swap is crash-safe (module docstring): re-running rebuild after ANY
    crash point converges.  Must run while the stream is stopped —
    enforced: the rebuild HOLDS the active-stream lease for its whole
    duration (raises RuntimeError if it is already held), so an attach
    stream cannot start mid-rebuild and a second rebuild cannot
    interleave."""
    _rebuild(spark, cfg.id_col, [(text_axis(cfg), index)])


def _swap_marker(labels_dir: str) -> str:
    """The staging-complete marker of a rebuild swap, beside the labels
    dir every sub-index of one label space shares."""
    return labels_dir + ".swap"


def _finish_swap(marker: str) -> None:
    """Swap every staged -> live pair the marker lists that is not swapped
    yet (live -> .old, staged -> live, delete .old), then drop the marker.
    Idempotent: re-running after a crash anywhere in here converges."""
    with open(marker) as fh:
        pairs = json.load(fh)
    for staged, live in pairs:
        old = live + ".old"
        if os.path.exists(staged):
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
            os.rename(staged, live)
        shutil.rmtree(old, ignore_errors=True)
    os.remove(marker)


def _recover_swap(index: StreamIndex) -> None:
    """Complete or discard an interrupted rebuild swap: with the marker
    present, staging finished — swap every remaining pair; without it,
    staging never finished — discard the staged dirs.  Idempotent; no-op
    on a healthy index."""
    marker = _swap_marker(index.labels_dir)
    if os.path.exists(marker):
        _finish_swap(marker)
    for live in (index.sig_dir, index.labels_dir, index.keys_dir):
        shutil.rmtree(live + ".rebuild", ignore_errors=True)
