"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the workload seed, so two runs with the
same seed hand the program byte-identical inputs, and every run rebuilds
its inputs from scratch (no input is cached between runs).

- clips: the rows of the program's own synthesizer (``synth_clips`` maps
  ``sources.clips._synth_row`` over the row indices; here it runs
  in-process, without a Spark job), so the ground truth is
  ``sources.clips.true_family``.
- documents: the shape of the ``documents`` test table (one parquet file,
  30-word vocabulary, 10-100 words per text, 5% of the rows a copy of an
  earlier row plus the token ``dup``).
- embeddings: 64-d unit float vectors, random except for planted
  near-duplicate pairs (cosine >= 0.99) that a working ANN must return.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_DUP_SHARE = 0.05
VEC_DIM = 64
VEC_PLANTED_SHARE = 0.1
VEC_PLANT_NOISE = 0.01


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def write_documents(path: str, n: int, seed: int) -> None:
    """documents(doc_id bigint, text string) as ONE parquet file."""
    rng = _rng(seed, 1)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DOC_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(DOC_VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(DOC_VOCAB[w] for w in words))
    table = pa.table(
        {"doc_id": pa.array(np.arange(n, dtype=np.int64)), "text": pa.array(texts)}
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def make_embeddings(n: int, seed: int) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """(unit float32 matrix [n, VEC_DIM], planted near-duplicate pairs)."""
    rng = _rng(seed, 2)
    x = rng.standard_normal((n, VEC_DIM))
    n_pairs = int(n * VEC_PLANTED_SHARE) // 2
    ids = rng.permutation(n)[: 2 * n_pairs].reshape(n_pairs, 2)
    x[ids[:, 1]] = x[ids[:, 0]] + VEC_PLANT_NOISE * np.linalg.norm(
        x[ids[:, 0]], axis=1, keepdims=True
    ) * rng.standard_normal((n_pairs, VEC_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pairs = [(int(min(a, b)), int(max(a, b))) for a, b in ids]
    return x.astype(np.float32), pairs


def write_embeddings(path: str, vecs: np.ndarray) -> None:
    """embeddings(vec_id bigint, embedding array<float>) as ONE parquet file."""
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, VEC_DIM, dtype=np.int32))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)


def clips_table(n: int, seed: int) -> pa.Table:
    """The rows ``synth_clips(spark, n, seed=seed)`` yields (WAV payload),
    row i being clip i."""
    from lsh_hdc_spark.sources.clips import DUP_FRACTION, FAMILY_SIZE, _synth_row

    n_family_rows = (int(n * DUP_FRACTION) // FAMILY_SIZE) * FAMILY_SIZE
    cols = list(zip(*(_synth_row(i, n_family_rows, seed) for i in range(n))))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, CLIPS_SCHEMA)],
        schema=CLIPS_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str, files: int = 1) -> None:
    """`table` as `files` parquet files of consecutive rows (the layout a
    Spark write of ``spark.range(n)`` over `files` partitions leaves), with
    no dictionary encoding, as the repository's bench writes the clips."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for k in range(files):
        pq.write_table(
            table.slice(bounds[k], bounds[k + 1] - bounds[k]),
            os.path.join(path, f"part-{k:05d}.parquet"),
            use_dictionary=False,
        )


def clip_index(clip_id: str) -> int:
    """Row index the synthesizer encoded in a clip id (``clip%08d``)."""
    return int(clip_id[4:])


def stream_split(
    n: int, seed: int, batch_rows: int, n_batches: int
) -> tuple[list[int], list[list[int]]]:
    """Split synthesized clip indices into a seed corpus and a fixed batch
    sequence.  The first half of every family plus half of the singletons
    seed the index.  Every batch has the same shape: the late half of a
    fixed number of already-indexed families (each such pair is an
    in-batch duplicate too) and novel singletons, in the table's
    duplicate share; which families and singletons is shuffled by the seed."""
    from lsh_hdc_spark.sources.clips import DUP_FRACTION, FAMILY_SIZE, true_family

    early, late, single = [], {}, []
    for i in range(n):
        fam = true_family(i, n)
        if fam < 0:
            single.append(i)
        elif i % FAMILY_SIZE < FAMILY_SIZE // 2:
            early.append(i)
        else:
            late.setdefault(fam, []).append(i)
    rng = _rng(seed, 3)
    half = len(single) // 2
    base = sorted(early + single[:half])
    families = [late[f] for f in rng.permutation(sorted(late))]
    novel = [int(i) for i in rng.permutation(single[half:])]
    per_batch = int(batch_rows * DUP_FRACTION) // (FAMILY_SIZE - FAMILY_SIZE // 2)
    n_novel = batch_rows - per_batch * (FAMILY_SIZE - FAMILY_SIZE // 2)
    batches = []
    for k in range(n_batches):
        fams = families[k * per_batch : (k + 1) * per_batch]
        rows = [i for f in fams for i in f] + novel[k * n_novel : (k + 1) * n_novel]
        if len(fams) != per_batch or len(rows) != batch_rows:
            raise ValueError(f"{n} clips cannot fill {n_batches} x {batch_rows}")
        batches.append(sorted(rows))
    return base, batches
