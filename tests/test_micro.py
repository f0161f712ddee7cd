"""Scale-adaptive micro-session sizing (lsh_hdc_spark/micro.py).

The pytest session fixture runs at shuffle_partitions=8, where
micro_rebound is a no-op — so these tests build a high-partition-count
session explicitly to force the micro path, then assert (1) the sizing
mechanism and (2) that every operator that adopts it returns EXACTLY the
same rows under the micro session as under the small-conf session (results
must be partitioning-invariant)."""

import pytest
from pyspark.sql import functions as F

from lsh_hdc_spark import DedupConfig
from lsh_hdc_spark.micro import MICRO_MIN_PARTITIONS, micro_rebound

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def wide(spark):
    """A session whose conf partition count is deployment-sized, so dust
    inputs trigger the micro path."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "64")
    return s


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


def test_micro_rebound_mechanism(spark, wide):
    docs = wide.read.parquet(f"{SF}/documents.parquet")
    out, micro = micro_rebound(docs)
    assert micro is True
    assert out.sparkSession is not wide
    assert (
        int(out.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        == MICRO_MIN_PARTITIONS
    )
    # ANSI posture inherited
    assert out.sparkSession.conf.get("spark.sql.ansi.enabled") == wide.conf.get(
        "spark.sql.ansi.enabled"
    )
    # rebound frame is the same data
    assert out.count() == docs.count()

    # at-conf inputs are untouched: the pytest session already sits at the
    # derived floor, so the same frame does not re-clone
    docs_small = spark.read.parquet(f"{SF}/documents.parquet")
    out2, micro2 = micro_rebound(docs_small)
    assert micro2 is False and out2 is docs_small


def test_run_pipeline_rows_invariant_under_micro(spark, wide):
    from lsh_hdc_spark.plans.pipeline import run_pipeline

    cfg = DedupConfig()
    small = run_pipeline(spark.read.parquet(f"{SF}/documents.parquet"), cfg)
    big = run_pipeline(wide.read.parquet(f"{SF}/documents.parquet"), cfg)
    # the micro path hands back a caller-session materialized frame
    assert big.sparkSession is wide
    assert _rows(small) == _rows(big)


def test_run_pipeline_clips_rows_invariant_under_micro(spark, wide):
    from lsh_hdc_spark.config import CLIPS
    from lsh_hdc_spark.plans.pipeline import run_pipeline_clips
    from lsh_hdc_spark.sources.clips import synth_clips

    small = run_pipeline_clips(
        synth_clips(spark, 300, seed=7).select("clip_id", "transcript", "bytes"),
        CLIPS,
    ).select("clip_id", "cluster_id", "cluster_size")
    big = run_pipeline_clips(
        synth_clips(wide, 300, seed=7).select("clip_id", "transcript", "bytes"),
        CLIPS,
    ).select("clip_id", "cluster_id", "cluster_size")
    assert _rows(small) == _rows(big)


def test_substring_pairs_rows_invariant_under_micro(spark, wide):
    from lsh_hdc_spark.operators.substring import substring_pairs

    small = substring_pairs(
        spark.read.parquet(f"{SF}/documents.parquet"), "doc_id", "text", min_len=32
    )
    big = substring_pairs(
        wide.read.parquet(f"{SF}/documents.parquet"), "doc_id", "text", min_len=32
    )
    assert _rows(small) == _rows(big)


def test_exact_jaccard_and_audio_rows_invariant_under_micro(spark, wide):
    from lsh_hdc_spark.operators.audio_dedup import audio_dedup_clusters
    from lsh_hdc_spark.operators.ngram_jaccard import exact_jaccard_pairs
    from lsh_hdc_spark.sources.clips import synth_clips

    cfg = DedupConfig()
    small = exact_jaccard_pairs(
        spark.read.parquet(f"{SF}/documents.parquet"), cfg, threshold=0.4
    ).withColumn("jaccard", F.round("jaccard", 9))
    big = exact_jaccard_pairs(
        wide.read.parquet(f"{SF}/documents.parquet"), cfg, threshold=0.4
    ).withColumn("jaccard", F.round("jaccard", 9))
    assert _rows(small) == _rows(big)

    cs = synth_clips(spark, 300, seed=7)
    cw = synth_clips(wide, 300, seed=7)
    assert _rows(audio_dedup_clusters(cs)) == _rows(audio_dedup_clusters(cw))


def test_streaming_attach_rebuild_invariant_under_micro(
    spark, wide, tmp_path, monkeypatch
):
    """attach_batch + rebuild_index produce identical labels under a wide
    (micro-active) session and the pytest (micro-inactive) session; the
    micro path hands caller-session frames, the driver-built CC labels
    among them, back to the epoch sinks.  Batches are parquet-backed, as a
    file stream's are: a createDataFrame batch has no finite size estimate
    and would never take the micro branch."""
    from lsh_hdc_spark.plans import pipeline
    from lsh_hdc_spark.streaming import (
        StreamIndex,
        attach_batch,
        rebuild_index,
        write_index_epoch,
    )

    rebound = []

    def spy(df):
        out, micro = micro_rebound(df)
        rebound.append((df.sparkSession, micro))
        return out, micro

    # attach sizes its in-batch pass through the clustering core
    monkeypatch.setattr(pipeline, "micro_rebound", spy)

    cfg = DedupConfig()
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "completely unrelated text about distributed stream processing"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5, "another unrelated sentence mentioning tensor compiler runtimes"),
    ]
    schema = "doc_id long, text string"
    out = {}
    for tag, sess in (("small", spark), ("wide", wide)):
        base = tmp_path / tag
        index = StreamIndex(
            str(base / "sig"), str(base / "labels"), str(base / "keys")
        )
        labels_all = []
        for k in range(2):
            path = str(base / f"batch{k}")
            spark.createDataFrame(
                [r for i, r in enumerate(rows) if i % 2 == k], schema
            ).write.parquet(path)
            rebound.clear()
            labels, new_rows = attach_batch(sess.read.parquet(path), cfg, index)
            assert rebound == [(sess, sess is wide)]
            # outputs must belong to the CALLER's session (sink contract)
            assert labels.sparkSession is sess
            assert new_rows.sparkSession is sess
            write_index_epoch(new_rows, index, cfg.id_col, epoch=k)
            labels_all.extend(
                (r.doc_id, r.cluster_id) for r in labels.collect()
            )
        out[tag, "attach"] = sorted(labels_all)
        rebuild_index(sess, cfg, index)
        out[tag, "rebuild"] = sorted(
            (r.doc_id, r.cluster_id)
            for r in sess.read.parquet(index.labels_dir).collect()
        )
    assert out["small", "attach"] == out["wide", "attach"]
    assert out["small", "rebuild"] == out["wide", "rebuild"]


def test_ann_paths_rows_invariant_under_micro(spark, wide):
    from lsh_hdc_spark.operators.knn import ann_topk, cosine_dup_edges

    embs_s = spark.read.parquet(f"{SF}/embeddings.parquet")
    embs_w = wide.read.parquet(f"{SF}/embeddings.parquet")
    assert _rows(ann_topk(embs_s, k=3)) == _rows(ann_topk(embs_w, k=3))
    assert _rows(
        cosine_dup_edges(embs_s, 0.9).withColumn("cosine", F.round("cosine", 9))
    ) == _rows(
        cosine_dup_edges(embs_w, 0.9).withColumn("cosine", F.round("cosine", 9))
    )


def test_cloned_sessions_keep_caller_runtime_conf(wide, monkeypatch):
    """Both session clones — micro_rebound's and the CC star loop's —
    carry the caller's runtime SQL conf, not only its builder-time conf
    (a bare newSession() reverts spark.conf.set values)."""
    from lsh_hdc_spark.operators import cc

    conf = {
        "spark.sql.session.timeZone": "America/Los_Angeles",
        "spark.sql.caseSensitive": "true",
    }
    seen = []
    converged = cc._is_converged

    def spy(e):
        seen.append({k: e.sparkSession.conf.get(k) for k in conf})
        return converged(e)

    monkeypatch.setattr(cc, "_is_converged", spy)
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", 0)  # force the star loop
    old = {k: wide.conf.get(k) for k in conf}
    for k, v in conf.items():
        wide.conf.set(k, v)
    try:
        out, micro = micro_rebound(wide.read.parquet(f"{SF}/documents.parquet"))
        assert micro is True
        assert {k: out.sparkSession.conf.get(k) for k in conf} == conf

        edges = wide.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
        got = sorted(tuple(r) for r in cc.connected_components(edges).collect())
        assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
        assert seen and all(s == conf for s in seen)
    finally:
        for k, v in old.items():
            wide.conf.set(k, v)


def test_clustering_entries_return_caller_session_frames(wide, tmp_path, monkeypatch):
    """run_pipeline, audio_dedup_clusters and fused_dedup_clusters hand
    their labels back to the caller's session when the micro branch runs.
    The input is parquet-backed: a createDataFrame/synth_clips frame has no
    finite size estimate, so micro would never fire."""
    from lsh_hdc_spark.config import CLIPS
    from lsh_hdc_spark.operators.audio_dedup import (
        audio_dedup_clusters,
        fused_dedup_clusters,
    )
    from lsh_hdc_spark.plans import pipeline
    from lsh_hdc_spark.sources.clips import synth_clips

    path = str(tmp_path / "clips")
    synth_clips(wide, 40, seed=5).write.parquet(path)
    rebound = []

    def spy(df):
        out, micro = micro_rebound(df)
        rebound.append(micro)
        return out, micro

    monkeypatch.setattr(pipeline, "micro_rebound", spy)
    entries = {
        "run_pipeline": lambda c: pipeline.run_pipeline(c, CLIPS),
        "audio_dedup_clusters": audio_dedup_clusters,
        "fused_dedup_clusters": fused_dedup_clusters,
    }
    for name, entry in entries.items():
        rebound.clear()
        out = entry(wide.read.parquet(path))
        assert out.sparkSession is wide, name
        assert rebound == [True], name
        assert out.count() == 40, name
