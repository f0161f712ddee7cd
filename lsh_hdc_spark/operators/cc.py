"""Connected components: a driver-local finish for graphs that fit the
driver, alternating large-star / small-star joins for graphs that do not.

Reference semantics: ``lsh_hdc/cluster.py::Cluster.get_clusters`` harvests a
union-find forest (pymaptools UnionFind) built over all verified candidate
pairs — clusters are the connected components of the edge graph
(SURVEY.md §2.1 op 12).

``connected_components`` counts its edges exactly (one lazy
``localCheckpoint`` + ``count`` job) and picks the path from that count:

* at or below ``LOCAL_MAX_EDGES`` the edges are collected through Arrow,
  numbered in Arrow and labelled on the driver by numpy min-label hooking
  with pointer jumping, and each component's size comes out of the same
  pass.  The labels return as a frame built from Arrow in the edges'
  session, hinted for broadcast.  Verified near-dup edges are a tiny
  fraction of the corpus, so this is the common case, and there the loop
  below is all per-job fixed cost: on 4 vCPUs (local[4]), CC plus label
  assignment over 1,802 edges took 11 Spark jobs, 17 stages and 1.67 s
  with the star loop, and 7 jobs, 7 stages and 0.51 s with the local
  finish.
* above it the alternating large-star/small-star algorithm of Kiveris et
  al., "Connected Components in MapReduce and Beyond" (SoCC 2014), runs as
  iterative DataFrame self-joins, so components at 10^12-node scale never
  have to fit one machine.  Converges in O(log n) rounds; each round is two
  groupBy/join stages; lineage is truncated per round with
  ``localCheckpoint`` so the plan does not grow (SURVEY.md §4.2).  One
  window over the converged star forest sizes the components.

Both paths label cluster_id = min(id) of the component and cluster_size =
its number of distinct nodes, so ``assign_clusters`` is one left join
either way.  cluster_id = min(id) is order-insensitive and
partition-count-invariant (SURVEY.md §2.5.4-5): reference cluster *sets*
are compared, never id values.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import clone_session

#: unique suffixes for the global-temp-view handoff between sessions (safe
#: under concurrent connected_components calls on one SparkSession)
_VIEW_SEQ = itertools.count()

#: edge count at or below which components are finished on the driver.
#: Set by driver memory, not speed.  assign_clusters over string-id graphs
#: (4-node chained components), 4 vCPUs (local[4]), one run each: with
#: 14-byte ids the local finish took 4.2 / 8.2 / 30.4 s at 10^5 / 10^6 /
#: 5x10^6 edges and the star loop 11.3 / 36.9 / 129.8 s, so the local
#: finish wins at every measured size.  Under Spark's default 1g driver
#: heap the local finish passed at 10^6 edges with 14- and 36-byte ids,
#: but its label broadcast ran out of memory at 2x10^6 edges of 36-byte
#: ids and at 3x10^6 of 14-byte ids; the star loop passed at 5x10^6.  The
#: product runs on sessions it does not own, so the bound is the largest
#: size that passed on the default heap.  The driver's Python peak grows by
#: 0.2-0.3 KB per edge (+0.22 / +0.32 GB at 10^6 edges of 14 / 36-byte ids).
LOCAL_MAX_EDGES = 1_000_000


def _min_roots(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Root of every node 0..n-1 under the edges (u[i], v[i]), where the
    root is the smallest node of the component.

    Min-label hooking with full pointer jumping: each round hooks the larger
    of an edge's two roots onto the smaller, then points every node straight
    at its tree root.  parent[x] <= x holds throughout, so the trees stay
    acyclic and a component's minimum is its only root once no edge spans
    two roots.  Every round removes at least one root; an edge whose ends
    share a root keeps sharing it, so only spanning edges go to the next
    round.
    """
    parent = np.arange(n)
    while True:
        ru, rv = parent[u], parent[v]
        spanning = ru != rv
        if not spanning.any():
            return parent
        u, v, ru, rv = u[spanning], v[spanning], ru[spanning], rv[spanning]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def _local_components(e: DataFrame) -> DataFrame:
    """(id, cluster_id, cluster_size) over the materialized edge frame `e`,
    computed on the driver and returned as an Arrow-built frame in `e`'s
    session, hinted for broadcast.

    Nodes are numbered inside Arrow (sorted unique ids, then ``index_in``),
    so only int arrays reach numpy and string ids never become Python
    objects.  The numbering follows id order, so the smallest node number
    of a component is its smallest id, for long and string ids alike
    (Arrow and Spark both order strings by UTF-8 bytes)."""
    t = e.toArrow()
    ends = pa.chunked_array(
        t.column("src").chunks + t.column("dst").chunks, t.schema.field("src").type
    )
    ids = pc.unique(ends)
    ids = ids.take(pc.array_sort_indices(ids))
    dense = pc.index_in(ends, value_set=ids).to_numpy()
    m = t.num_rows
    root = _min_roots(dense[:m], dense[m:], len(ids))
    size = np.bincount(root, minlength=len(ids))
    labels = pa.table(
        {
            "id": ids,
            "cluster_id": ids.take(pa.array(root)),
            "cluster_size": pa.array(size[root], type=pa.int64()),
        }
    )
    return F.broadcast(e.sparkSession.createDataFrame(labels))


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    # no distinct here: small_star dedups at the end of the round, saving a
    # shuffle per iteration; duplicate edges are harmless in between
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("src"),
            F.least(F.col("mn"), F.col("u")).alias("dst"),
        )
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient each edge towards the larger endpoint; connect each node's
    smaller neighbors (and the node itself) to the minimum of them."""
    d = e.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("mn"))
    nbr_edges = (
        d.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("mn").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    self_edges = mins.select(F.col("u").alias("src"), F.col("mn").alias("dst"))
    return nbr_edges.unionByName(self_edges).distinct()


def _is_converged(e: DataFrame) -> bool:
    """Direct convergence test: the loop is done iff `e` is a star forest —
    every src has exactly one outgoing edge and no dst ever appears as a
    src.

    Soundness: post-``_small_star`` every edge satisfies src > dst, so in a
    star forest each root is smaller than all its members, and the
    component minimum cannot be a src (its dst would be smaller still) —
    roots ARE the component minima, which is exactly the algorithm's fixed
    point (every edge = (member, component-min)).  Conversely the fixed
    point trivially passes the test.

    Why not fingerprint-equality between rounds (the previous scheme): that
    detects the fixed point only by running one EXTRA full round (3+
    shuffles over the edge frame) to observe "no change".  This test reads
    the already-materialized round output once — one groupBy over id-only
    rows — so convergence costs a cheap job instead of a redundant round.
    Measured on 1.2M clips (1.26M edges): the loop converges in 1 round +
    1 check instead of 2 rounds + 2 fingerprints.
    """
    nodes = e.select(F.col("src").alias("n"), F.lit(1).alias("s")).unionByName(
        e.select(F.col("dst").alias("n"), F.lit(0).alias("s"))
    )
    # a node violates the star property iff it is a multi-src (sum > 1) or
    # appears as both src and dst (sum >= 1 and count > sum)
    row = (
        nodes.groupBy("n")
        .agg(F.sum("s").alias("ns"), F.count("*").alias("nt"))
        .where((F.col("ns") > 1) | ((F.col("ns") >= 1) & (F.col("nt") > F.col("ns"))))
        .limit(1)
        .count()
    )
    return row == 0


#: target edge rows per shuffle partition inside the CC loop — each round is
#: 2+ shuffles over a frame that is TINY relative to the corpus (verified
#: near-dup pairs), so running them at the session-wide partition count makes
#: task-scheduling overhead dominate (measured: local[32] at 128 partitions
#: was ~2x SLOWER than local[8] at 32 on identical input).
_CC_ROWS_PER_PARTITION = 250_000


def _rebind(df: DataFrame, target: SparkSession) -> DataFrame:
    """Hand a MATERIALIZED (localCheckpoint'ed) frame to another session of
    the same SparkContext, zero-copy.

    The global-temp-view round-trip re-resolves the frame's logical plan —
    a LogicalRDD over already-materialized blocks, so no recompute and no
    Python serialization — under the target session.  ``SparkSession.table``
    analyzes eagerly (Dataset.ofRows), so the view can be dropped before the
    returned frame is ever executed (verified on 4.1.2).
    """
    name = f"__cc_handoff_{os.getpid()}_{next(_VIEW_SEQ)}"
    df.createOrReplaceGlobalTempView(name)
    try:
        return target.table(f"global_temp.{name}")
    finally:
        df.sparkSession.catalog.dropGlobalTempView(name)


def _star_components(e: DataFrame, n_edges: int, max_iter: int) -> DataFrame:
    """(id, cluster_id, cluster_size) by the large-star/small-star loop
    over the materialized edge frame `e` of `n_edges` rows, handed back to
    `e`'s session."""
    spark = e.sparkSession
    loop_parts = max(
        2,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            -(-n_edges // _CC_ROWS_PER_PARTITION),
        ),
    )
    loop = clone_session(
        spark,
        {
            "spark.sql.shuffle.partitions": str(loop_parts),
            "spark.sql.adaptive.enabled": "false",
        },
    )
    pinned = [e]
    e = _rebind(e, loop)
    for _ in range(max_iter):
        # LAZY localCheckpoint: truncates the logical plan immediately
        # (each round references the prior plan ~5x, so without
        # truncation analysis cost grows exponentially) but materializes
        # on the convergence-check action below — ONE round job plus
        # one cheap id-only check job per round
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        pinned.append(e)
        converged = _is_converged(e)
        # release everything but the newest round's blocks
        while len(pinned) > 1:
            pinned.pop(0).unpersist()
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # converged star graphs: every edge is (member, root), root = component
    # min, and each member has exactly one edge.  One window over the root
    # sizes each component and picks one member to emit the root's own row
    # too, so the labels cost ONE right-sized shuffle.  They are
    # materialized under the loop session's conf, then handed back to the
    # caller's session; downstream plans compose with caller-session frames
    root = Window.partitionBy("dst")
    sized = e.select(
        "src",
        "dst",
        F.min("src").over(root).alias("first"),
        (F.count("*").over(root) + 1).alias("cluster_size"),
    )
    out = sized.select(
        F.explode(
            F.when(F.col("src") == F.col("first"), F.array("src", "dst"))
            .otherwise(F.array("src"))
        ).alias("id"),
        F.col("dst").alias("cluster_id"),
        "cluster_size",
    ).localCheckpoint(eager=True)
    # labels are materialized — the loop's edge blocks can go now
    while pinned:
        pinned.pop().unpersist()
    return _rebind(out, spark)


def _components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """(id, cluster_id, cluster_size) for every node appearing in `edges`;
    cluster_size counts the component's distinct nodes."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    # materialize the (small) edge frame once: cuts the upstream plan out
    # of every later read AND gives the exact size that picks the path.
    # LAZY checkpoint + count: the count action materializes the blocks,
    # so sizing costs one job instead of an eager-materialize job followed
    # by a count job.
    e = e.localCheckpoint(eager=False)
    n_edges = e.count()
    if n_edges == 0:
        # no edges -> no labeled nodes; common for micro-batches with no
        # intra-batch duplicates and for dup-free corpora.  Derived from the
        # caller's plan via limit(0) (folds to an empty LocalRelation), NOT
        # from the unpersisted checkpoint frame.
        e.unpersist()
        return edges.select(
            F.col("src").alias("id"),
            F.col("dst").alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
        ).limit(0)
    if n_edges <= LOCAL_MAX_EDGES:
        out = _local_components(e)
        e.unpersist()
        return out
    return _star_components(e, n_edges, max_iter)


def connected_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """(id, cluster_id) for every node appearing in `edges`; cluster_id is
    the component's minimum node id.

    `edges` needs columns (src, dst) of one orderable atomic type;
    direction and duplication are irrelevant.  Nodes with no edges are not
    emitted — callers coalesce missing labels to the node's own id.

    The edge frame is materialized and counted once (lazy localCheckpoint +
    count), so the upstream plan (sign -> pairs -> verify) runs exactly
    once, and the count picks the path:

    * up to ``LOCAL_MAX_EDGES`` edges, the frame is collected through Arrow
      and labelled on the driver (``_local_components``); the labels come
      back as an Arrow-built frame in the edges' session.  Two jobs (count,
      collect) replace the loop's per-round jobs, whose fixed cost is the
      whole wall clock at small sizes; the bound keeps the collected
      edges, the numpy working set and the broadcast labels within a
      default 1g driver heap.
    * above it, the large-star/small-star loop runs in a CLONED SparkSession
      (same SparkContext, a copy of the caller's runtime SQLConf —
      ``session.clone_session``) whose shuffle-partition count is
      sized to the measured edge count (see _CC_ROWS_PER_PARTITION) and
      whose AQE is off (each AQE shuffle-stage materialization is an extra
      serial driver job — O(log n) rounds x 2+ shuffles of pure overhead on
      an already-right-sized plan).  The caller's session conf is NEVER
      touched, so concurrent queries on the same session keep their
      settings.  `max_iter` bounds the rounds.
    """
    return _components(edges, max_iter).select("id", "cluster_id")


def assign_clusters(
    ids: DataFrame, edges: DataFrame, id_col: str, min_support: int = 1
) -> DataFrame:
    """(id_col, cluster_id, cluster_size) for every input id.

    cluster_size is the number of distinct nodes in the id's component of
    the edge graph, on either CC path: a repeated id in `ids` repeats its
    row without growing its cluster.  Unlabeled ids become singleton
    clusters of themselves.  Clusters with
    fewer than `min_support` members get cluster_id NULL (noise suppression,
    op 13) — matching the reference's min_support cfg semantics.
    """
    labels = _components(edges).withColumnRenamed("id", id_col)
    out = (
        ids.select(id_col)
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
        )
    )
    if min_support > 1:
        out = out.withColumn(
            "cluster_id",
            F.when(F.col("cluster_size") >= min_support, F.col("cluster_id")),
        )
    return out.select(id_col, "cluster_id", "cluster_size")
