"""Scale-adaptive initial shuffle sizing for dust-sized inputs.

The session-wide ``spark.sql.shuffle.partitions`` is sized for the
deployment (cores locally, executors x cores on a cluster).  For an input
that is a tiny fraction of that deployment's capacity, every exchange in a
multi-stage plan still schedules the full partition count per AQE stage
materialization, so wall time is dominated by per-task fixed cost — and on
hosts whose guest kernel serializes write()/page-alloc syscalls
(BENCH/BASELINE.md appendix) the exposure scales with task count: measured
on the 20k-clip label pipeline, 64 initial partitions ran 7.2-27.7 s under
co-tenant pressure while 8 ran 3.0-11.0 s, winning every randomized
interleaved round (guide §2.2: fewer, larger partitions; §1.2: fix the
distributed algorithm's shape before config).

``micro_rebound`` derives the partition count from the input's Catalyst
size estimate (``optimizedPlan().stats().sizeInBytes`` — no job, available
before execution) at ``MICRO_BYTES_PER_PARTITION`` per partition, clamped
to the session's configured count.  Inputs at deployment scale therefore
keep the session conf unchanged — this is the same measured-size
discipline ``operators/cc.py::connected_components`` applies to its star
loop (there from the exact edge count; here from the only size signal that
exists before the first action).  Small inputs run under a cloned session
on the same SparkContext via the zero-copy ``_rebind`` handoff.  The
clone (``session.clone_session``) carries the caller's runtime SQL conf —
time zone, case sensitivity, ANSI, AQE — and differs only in its shuffle
partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .operators.cc import _rebind
from .session import clone_session

#: estimated input bytes charged per initial shuffle partition.  Catalyst's
#: estimate is file-size-based (compressed parquet scaled by projected
#: width), so this is deliberately far below the guide's 100 MB-1 GB
#: in-flight target: it only has to separate "dust" from "deployment-sized"
#: — the clamp keeps any input past ~(conf x this) on the session conf.
MICRO_BYTES_PER_PARTITION = 32 << 20
#: parallelism floor for the derived count (CPU-dense stages — exact
#: Jaccard, window kernels — still fan out; AQE may coalesce further)
MICRO_MIN_PARTITIONS = 8


def micro_rebound(df: DataFrame) -> tuple[DataFrame, bool]:
    """Return (frame, True) rebound into a right-sized cloned session when
    the input's size estimate warrants fewer initial shuffle partitions
    than the session conf, else (df, False) untouched.

    Callers that return lazy frames may hand the rebound session's frame
    straight back (results are partitioning-invariant); callers that must
    compose with caller-session frames ``_rebind`` them back: work already
    materialized (pins, CC's counted edges) is kept, and whatever is still
    lazy re-plans under the caller's conf.
    """
    spark = df.sparkSession
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # no estimate (exotic plan) -> keep the session as-is
        return df, False
    parts = max(MICRO_MIN_PARTITIONS, -(-est // MICRO_BYTES_PER_PARTITION))
    if parts >= conf_parts:
        return df, False
    sess = clone_session(spark, {"spark.sql.shuffle.partitions": str(parts)})
    return _rebind(df, sess), True
