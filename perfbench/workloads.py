"""The benchmark's workloads.

Each workload builds its inputs and references from the seed in
``setup``, and exposes one timed op (``op``: the call into the program's
entry function through the sink's commit), an untimed output check
(``check``) and a traced op (``traced_op``) composed from the layers'
public functions, each layer's output materialized once before the next
layer consumes it.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from __spark_entry__ import oracle_sql
from lsh_hdc_spark.config import CLIPS
from lsh_hdc_spark.functions.sign import signed
from lsh_hdc_spark.micro import micro_rebound
from lsh_hdc_spark.operators.audio_dedup import (
    BUCKET_CAP,
    audio_candidate_pairs,
    audio_signatures,
    audio_verify_pairs,
)
from lsh_hdc_spark.operators.cc import _rebind, assign_clusters
from lsh_hdc_spark.operators.knn import ann_topk
from lsh_hdc_spark.operators.pairs import candidate_pairs, verify_pairs
from lsh_hdc_spark.operators.substring import substring_pairs, winnow_fingerprints
from lsh_hdc_spark.plans.pipeline import run_pipeline_clips
from lsh_hdc_spark.sources.clips import true_family
from lsh_hdc_spark.streaming.audio_ingest import MIN_SNR_DB
from lsh_hdc_spark.streaming.fused import (
    FusedStreamIndex,
    attach_fused_batch,
    seed_fused_index,
    write_fused_epoch,
)

# the labels sink of run_fused_attach_stream's per-batch body
from lsh_hdc_spark.streaming.ingest import _write_epoch

from . import inputs
from .checks import PairCounts, check_ann, labelled_once, pair_counts, pair_counts_against
from .trace import Spans, dir_stats, parquet_rows

_MB = 1 << 20
ANN_K = 5
SUBSTRING_MIN_LEN = 32


class CheckFailed(Exception):
    """An op's output disagrees with the reference."""


def _fail_if(why: str | None) -> None:
    if why:
        raise CheckFailed(why)


def _materialize(df):
    """Pin a layer's output and compute it once; returns (frame, rows)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def _write(df, path: str) -> None:
    df.write.mode("overwrite").option("parquet.enable.dictionary", "false").parquet(path)


def _family(clip_id: str, n: int) -> int | None:
    fam = true_family(inputs.clip_index(clip_id), n)
    return fam if fam >= 0 else None


class ClipsBatch:
    """The batch flows: ``run_pipeline_clips`` over a synthesized clips
    table with WAV payload (labels joined back onto the full rows, written
    as parquet), plus ``substring_pairs`` over a documents table and
    ``ann_topk`` over an embeddings table."""

    name = "clips_batch"
    #: (clips, documents, embeddings) rows; 2,000 clips rather than the
    #: 20k of the repository's clips bench, so that a run (JVM start, one
    #: cold warm-up op, one measured op) stays near 55 s on 4 vCPUs
    SIZES = {"full": (2000, 800, 800), "tiny": (200, 120, 120)}
    #: layers whose Spark counters make up one traced op
    OP_LAYERS = ("sign", "pairs", "cc", "payload", "substring", "knn")
    #: discarded ops: the first op runs cold (class loading, codegen, JIT,
    #: Python workers) at ~2x a warm one
    WARMUP_OPS = 1
    #: measure for --seconds instead of a fixed op count
    FIXED_OPS = None

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.n_clips, self.n_docs, self.n_vecs = self.SIZES[size]
        self.rows_per_op = self.n_clips + self.n_docs + self.n_vecs
        self.dirs = {
            k: os.path.join(work, k)
            for k in ("clips", "docs", "embs", "out_clips", "out_substr", "out_ann")
        }

    # -- set-up -----------------------------------------------------------
    def setup(self, mark) -> None:
        """Inputs and the references every op is checked against; `mark`
        records the end of each set-up phase."""
        d = self.dirs
        clips = inputs.clips_table(self.n_clips, self.seed)
        # one file per default-parallelism slot, as synth_clips writes it
        inputs.write_parquet(
            clips, d["clips"], self.spark.sparkContext.defaultParallelism
        )
        inputs.write_documents(d["docs"], self.n_docs, self.seed)
        self.vecs, self.planted = inputs.make_embeddings(self.n_vecs, self.seed)
        inputs.write_embeddings(d["embs"], self.vecs)
        mark("inputs")
        self.clip_ids = set(clips["clip_id"].to_pylist())
        self.payload_bytes = pc.sum(pc.binary_length(clips["bytes"])).as_py()
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d['docs']}/*.parquet')"
            )
            self.substr_ref = set(con.execute(oracle_sql()["substring_pairs"]).fetchall())
        finally:
            con.close()
        mark("references")

    # -- untraced op ------------------------------------------------------
    def op(self, i: int) -> None:
        d, spark = self.dirs, self.spark
        # the sink of the repository's clips bench (8 writer tasks)
        clips = spark.read.parquet(d["clips"])
        _write(run_pipeline_clips(clips, CLIPS).coalesce(8), d["out_clips"])
        docs = spark.read.parquet(d["docs"])
        _write(
            substring_pairs(docs, "doc_id", "text", min_len=SUBSTRING_MIN_LEN),
            d["out_substr"],
        )
        _write(ann_topk(spark.read.parquet(d["embs"]), k=ANN_K), d["out_ann"])

    def check(self, i: int) -> tuple[PairCounts, dict]:
        d = self.dirs
        out = pq.read_table(d["out_clips"], columns=["clip_id", "cluster_id", "bytes"])
        ids = out["clip_id"].to_pylist()
        _fail_if(labelled_once(ids, self.clip_ids))
        if pc.sum(pc.binary_length(out["bytes"])).as_py() != self.payload_bytes:
            raise CheckFailed("payload bytes changed")
        pairs = pair_counts(
            [_family(c, self.n_clips) for c in ids], out["cluster_id"].to_pylist()
        )
        sub = pq.read_table(d["out_substr"], columns=["src", "dst"])
        got = set(zip(sub["src"].to_pylist(), sub["dst"].to_pylist()))
        if got != self.substr_ref:
            raise CheckFailed(
                f"substring pairs: {len(got - self.substr_ref)} extra, "
                f"{len(self.substr_ref - got)} missing"
            )
        ann = pq.read_table(d["out_ann"], columns=["vec_id", "neighbor_id", "cosine"])
        _fail_if(
            check_ann(
                list(zip(*(ann[c].to_pylist() for c in ann.column_names))),
                self.vecs,
                self.planted,
                ANN_K,
            )
        )
        return pairs, {}

    # -- traced op --------------------------------------------------------
    def traced_op(self, i: int, sp: Spans) -> dict[str, float]:
        d, spark, cfg = self.dirs, self.spark, CLIPS
        iid = cfg.id_col
        clips = spark.read.parquet(d["clips"])
        # the layers run at the partitioning run_pipeline_clips picks
        base, rebound = micro_rebound(clips.select(iid, cfg.text_col))
        with sp.layer("sign"):
            s, n_signed = _materialize(signed(base, cfg))
        with sp.layer("pairs"):
            cand, n_cand = _materialize(candidate_pairs(s, cfg))
            edges, n_ver = _materialize(verify_pairs(cand, s, cfg).select("src", "dst"))
        with sp.layer("cc"):
            labels, _ = _materialize(assign_clusters(base, edges, iid, cfg.min_support))
            if rebound:
                labels = _rebind(labels.localCheckpoint(eager=True), spark)
        with sp.layer("payload"):
            # run_pipeline_clips' tail: broadcast labels onto the full rows
            _write(clips.join(F.broadcast(labels), iid).coalesce(8), d["out_clips"])
        for df in (s, cand, edges, labels):
            df.unpersist()
        docs = spark.read.parquet(d["docs"])
        with sp.layer("substring.winnow"):
            w, _ = _materialize(
                winnow_fingerprints(
                    docs, "doc_id", "text", min_len=SUBSTRING_MIN_LEN, windows=True
                )
            )
        w.unpersist()
        with sp.layer("substring"):
            _write(
                substring_pairs(docs, "doc_id", "text", min_len=SUBSTRING_MIN_LEN),
                d["out_substr"],
            )
        with sp.layer("knn"):
            _write(ann_topk(spark.read.parquet(d["embs"]), k=ANN_K), d["out_ann"])
        return {
            "functions.sign.rows": n_signed,
            "operators.pairs.candidates": n_cand,
            "operators.pairs.verified": n_ver,
            "operators.cc.edges": n_ver,
            "plans.pipeline.out_mb": dir_stats(d["out_clips"])[1] / _MB,
            "operators.substring.pairs": parquet_rows(d["out_substr"]),
            "operators.knn.rows": parquet_rows(d["out_ann"]),
            "micro.rebound": int(rebound),
        }


class FusedStream:
    """Cross-modal streaming attach: an index seeded with
    ``seed_fused_index``, then a fixed sequence of micro-batches, each one
    op = ``attach_fused_batch`` + the labels sink + ``write_fused_epoch``
    (the body of ``run_fused_attach_stream``).  The index is never
    compacted or reset, so per-epoch growth shows in the op times."""

    name = "fused_stream"
    #: (synthesized clips, rows per batch, batches in the fixed sequence:
    #: warm-up, measured, traced)
    SIZES = {"full": (180, 25, 3), "tiny": (80, 10, 3)}
    OP_LAYERS = ("attach", "sink")
    #: discarded attach batches: the first attach after the seed pass runs
    #: ~25% over the next ones (15.8, 12.5, 11.2, 12.4, 12.6 s on 4 vCPUs);
    #: from the second on, walls track the index's growth
    WARMUP_OPS = 1
    #: measured batches per run: a fixed count, so every run sees the
    #: index at the same epochs
    FIXED_OPS = 1

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.n, self.batch_rows, self.n_batches = self.SIZES[size]
        self.rows_per_op = self.batch_rows
        self.work = work
        self.index_dir = os.path.join(work, "index")

    def _batch_dir(self, k: int) -> str:
        return os.path.join(self.work, f"batch{k}")

    # -- set-up -----------------------------------------------------------
    def setup(self, mark) -> None:
        """Seed corpus and batch files, then a fresh index seeded from the
        corpus; `mark` records the end of each set-up phase."""
        base, batches = inputs.stream_split(
            self.n, self.seed, self.batch_rows, self.n_batches
        )
        seed_dir = os.path.join(self.work, "seed")
        table = inputs.clips_table(self.n, self.seed)
        for path, rows in [(seed_dir, base)] + [
            (self._batch_dir(k), b) for k, b in enumerate(batches)
        ]:
            inputs.write_parquet(table.take(pa.array(rows)), path)
        self.batch_ids = [{f"clip{i:08d}" for i in b} for b in batches]
        mark("inputs")

        self.index = FusedStreamIndex.at(self.index_dir)
        labels = seed_fused_index(
            self.spark, self.spark.read.parquet(seed_dir), CLIPS, self.index
        ).collect()
        self.seen_truth = [_family(r["clip_id"], self.n) for r in labels]
        self.seen_pred = [r["cluster_id"] for r in labels]
        self.epochs = 1
        mark("seed_index")

    # -- untraced op ------------------------------------------------------
    def _attach(self, k: int, sp: Spans | None = None):
        batch = self.spark.read.parquet(self._batch_dir(k))
        with sp.layer("attach") if sp else nullcontext():
            labels, text_rows, audio_rows = attach_fused_batch(batch, CLIPS, self.index)
        with sp.layer("sink") if sp else nullcontext():
            _write_epoch(labels, self.index.labels_dir, k, ["epoch"])
            write_fused_epoch(text_rows, audio_rows, self.index, CLIPS.id_col, k)
        self.epochs += 1

    def op(self, k: int) -> None:
        self._attach(k)

    def check(self, k: int) -> tuple[PairCounts, dict]:
        out = pq.read_table(
            os.path.join(self.index.labels_dir, f"epoch={k}"),
            columns=["clip_id", "cluster_id"],
        )
        ids = out["clip_id"].to_pylist()
        _fail_if(labelled_once(ids, self.batch_ids[k]))
        truth = [_family(c, self.n) for c in ids]
        pred = out["cluster_id"].to_pylist()
        pairs = pair_counts_against(truth, pred, self.seen_truth, self.seen_pred)
        self.seen_truth += truth
        self.seen_pred += pred
        files, _ = dir_stats(self.index_dir)
        return pairs, {"index_files": files, "epochs": self.epochs}

    # -- traced op --------------------------------------------------------
    def traced_op(self, k: int, sp: Spans) -> dict[str, float]:
        """Sub-layer probes on the batch (outside the op), then the op
        itself with the attach and sink spans."""
        cfg = CLIPS
        iid = cfg.id_col
        batch = self.spark.read.parquet(self._batch_dir(k))
        with sp.layer("sign"):
            s = signed(batch, cfg).localCheckpoint(eager=True)
            n_signed = s.count()
        # the sub-layers run at the partitioning attach_fused_batch picks
        s, rebound = micro_rebound(s)
        if rebound:
            batch = _rebind(batch, s.sparkSession)
        with sp.layer("pairs"):
            cand, n_cand = _materialize(candidate_pairs(s, cfg))
            t_edges, n_ver = _materialize(verify_pairs(cand, s, cfg).select("src", "dst"))
        with sp.layer("audio.sign"):
            a_sig, _ = _materialize(audio_signatures(batch, iid))
        with sp.layer("audio.pairs"):
            fps = a_sig.select(iid, F.explode("keys").alias("key"))
            a_cand, n_acand = _materialize(audio_candidate_pairs(fps, iid, BUCKET_CAP))
        with sp.layer("audio.verify"):
            a_edges, n_aver = _materialize(
                audio_verify_pairs(batch, a_cand, iid, MIN_SNR_DB).select("src", "dst")
            )
        with sp.layer("cc"):
            edges, n_edges = _materialize(t_edges.unionByName(a_edges).distinct())
            local, _ = _materialize(assign_clusters(batch.select(iid), edges, iid))
        for df in (cand, t_edges, a_sig, a_cand, a_edges, edges, local):
            df.unpersist()
        self._attach(k, sp)
        files, _ = dir_stats(self.index_dir)
        index_rows = sum(
            parquet_rows(os.path.join(self.index_dir, t))
            for t in ("text_sig", "audio_sig")
        )
        w = sp.walls
        probed = (
            w["sign"] + w["pairs"] + w["audio.sign"] + w["audio.pairs"]
            + w["audio.verify"] + w["cc"]
        )
        return {
            "functions.sign.rows": n_signed,
            "operators.pairs.candidates": n_cand,
            "operators.pairs.verified": n_ver,
            "operators.cc.edges": n_edges,
            "operators.audio_dedup.candidates": n_acand,
            "operators.audio_dedup.verified": n_aver,
            "streaming.match_self_s": w["attach"] - probed,
            "streaming.index_rows": index_rows,
            "streaming.index_files": files,
            "streaming.files_per_epoch": files / self.epochs,
            "micro.rebound": int(rebound),
        }


WORKLOADS = {w.name: w for w in (ClipsBatch, FusedStream)}
