"""Clustering stage: large-star/small-star connected components.

The transitive-closure capability the reference realizes with
single-process BFS/DFS graph expansion
(`utils/entity_expander.py:80-103`), re-expressed as the
alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — pure
DataFrame self-joins/aggregations, O(log n) rounds, each round
``localCheckpoint``-ed to truncate lineage (SURVEY.md G4).

Node ids are strings; min() is lexicographic, which is a total order
— all the algorithm needs.

Convergence detection: (row_count, bit_xor of row hashes) fingerprint
of the (deduplicated) edge set, compared between rounds — one cheap
aggregate job, no driver-side edge materialization.

Size-adaptive epilogue: the observed row count (free, from the same
fingerprint observation) decides when the remaining rounds are pure
driver-latency — below ``DRIVER_FINISH_MAX_EDGES`` a single
vectorized local contraction replaces them (see ``_driver_contract``
for the scale argument).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chameleon_entity_linking_spark.plans.session import scratch_dir

# numbers the contraction spills inside the session scratch dir
_SPILL_SEQ = itertools.count()

# Ceiling for the driver-side contraction epilogue (see
# connected_components): 10M edges ~= 500MB of ids on the driver —
# the same order as what a large broadcast join already ships through
# the driver, and a ~3s vectorized contraction. The *effective* bound
# is derived per session from the driver JVM's max heap (see
# ``_driver_contract_bound``): a caller on Spark's stock 1g driver
# gets ~400k edges, not 10M — external callers never inherit a bound
# this repo's 24g driver default was sized for.
DRIVER_FINISH_MAX_EDGES = 10_000_000
# edges admitted per MB of driver heap: 10M edges for a 24g driver
# (~500MB of ids ~= 2% of heap) -> ~410 edges/MB (so the repo's 24g
# default reaches the full ceiling; a 1g driver gets ~420k)
_EDGES_PER_DRIVER_MB = 410
# Above this edge count, one distributed small-star round runs before
# the driver contraction. ER edge sets are clique-heavy (a duplicate
# group of size g arrives as up to C(g,2) scored edges); small-star
# collapses each clique to a star in one pass, so the driver then
# collects ~one edge per node instead of the full quadratic set.
# Measured at the 3.5M-doc bench corpus: the contraction epilogue was
# a 15s width-invariant driver pause (arrow factorize + numpy UF over
# ~6.7M string-id edges); the pre-pass replaces most of it with a
# distributed shuffle that scales with executors. Below the threshold
# the pre-pass job costs more than the driver seconds it saves.
_CONTRACT_PREPASS_MIN_EDGES = 1_500_000
# Round cap of the distributed large/small-star loop: an edge set still
# changing after this many rounds raises instead of looping on.
_MAX_STAR_ROUNDS = 25


def _driver_contract_bound(spark) -> int:
    """Driver-memory-aware contraction bound: min(ceiling, ~410 edges
    per MB of the driver JVM's actual max heap,
    ``Runtime.maxMemory()``) — whatever set the heap (-Xmx, a conf,
    a launcher default), this is the heap the contraction's collect
    lands in."""
    runtime = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    mb = runtime.maxMemory() / (1024 * 1024)
    return min(DRIVER_FINISH_MAX_EDGES, int(mb * _EDGES_PER_DRIVER_MB))


def _dedup(e: DataFrame) -> DataFrame:
    return e.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}).

    Pure row stream: the per-node minimum is a groupBy-min joined back
    to the edges — no node ever materializes its whole neighbor set
    (a star root's neighborhood is proportional to component size, so
    a collect_set here would be a single-task OOM on a 10^8-member
    component). Output may carry duplicates; the caller dedups once
    per round.
    """
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low; for each node u: connect every
    smaller-or-equal neighbor (and u) to the minimum.

    Same row-stream discipline as ``_large_star``: m = min over the
    directed neighbors (all < u, so min(nbrs ∪ {u}) == min(nbrs)),
    joined back to the edge stream — O(1) memory per row, any
    component size. Emits (v, m) for every neighbor v != m plus
    (u, m); duplicates are allowed (deduped once per round).
    """
    directed = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        directed.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    # u itself: u > every directed dst >= m, so u != m always
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return nbr_edges.unionByName(self_edges)


def _checkpoint_with_fingerprint(e: DataFrame) -> tuple[DataFrame, tuple]:
    """localCheckpoint ``e`` and return its (row_count, bit_xor-hash)
    fingerprint, computed as OBSERVED metrics inside the checkpoint
    job itself — zero extra jobs per round (the classic per-round
    fingerprint scan doubles the driver-loop job count; at O(log n)
    rounds that fixed latency dominates small inputs).

    bit_xor over distinct rows: order-insensitive, overflow-free.
    """
    obs = Observation()
    e = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).localCheckpoint()
    got = obs.get
    return e, (int(got["n"]), int(got["h"]))


def _driver_contract(
    e: DataFrame, known_edges: int | None = None
) -> DataFrame:
    """Driver-side contraction epilogue: min-label propagation with
    pointer jumping over the (bounded) collected edge set — fully
    vectorized numpy, O(E) memory, O(E log V) work.

    This is NOT a hot-path collect: it only runs when the OBSERVED
    deduplicated edge count (measured for free inside the checkpoint
    job) is below ``DRIVER_FINISH_MAX_EDGES``. At that size the
    alternative is 3-6 more near-empty distributed rounds whose cost
    is pure driver/scheduler latency — the same reason Spark finishes
    a global top-k with a driver merge (TakeOrderedAndProject) instead
    of a single-partition shuffle. At 10^12-doc scale the frontier is
    ~10^12 edges and this path cannot trigger until the star forest
    has already collapsed below the bound.

    When ``known_edges`` exceeds ``_CONTRACT_PREPASS_MIN_EDGES``, one
    distributed small-star round (+dedup) runs first: ER edge sets
    are clique-heavy, and the pre-pass collapses cliques to stars so
    the driver-side factorize/union-find sees ~one edge per node
    instead of the quadratic set. Small-star preserves connected
    components (the algorithm's standard invariant), so the output is
    identical; only where the work runs changes — from a
    width-invariant driver pause into a shuffle that scales with the
    cluster.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if (
        known_edges is not None
        and known_edges > _CONTRACT_PREPASS_MIN_EDGES
    ):
        e = _dedup(_small_star(e))
    spark = e.sparkSession
    id_type = e.schema["src"].dataType
    out_schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("cluster_id", id_type),
        ]
    )
    # Arrow end-to-end: toPandas would materialize millions of Python
    # string objects on the driver (measured ~4s at 1.2M edges); the
    # arrow unique/index_in factorization is all C-speed
    tbl = e.toArrow()
    m = tbl.num_rows
    if m == 0:
        return spark.createDataFrame([], out_schema)
    allv = pa.concat_arrays(
        [
            tbl.column("src").combine_chunks(),
            tbl.column("dst").combine_chunks(),
        ]
    )
    ids = allv.unique()
    # sorted unique ids: label index order == id order, so a
    # component's min label maps back to its min doc_id
    ids = ids.take(pc.sort_indices(ids))
    codes = pc.index_in(allv, value_set=ids).to_numpy(zero_copy_only=False)
    src, dst = codes[:m], codes[m:]
    labels = np.arange(len(ids), dtype=np.int64)
    while True:
        before = labels.copy()
        # relax every edge toward the smaller endpoint label
        mn = np.minimum(labels[src], labels[dst])
        np.minimum.at(labels, src, mn)
        np.minimum.at(labels, dst, mn)
        # full path compression (pointer jumping to fixpoint)
        while True:
            nxt = labels[labels]
            if np.array_equal(nxt, labels):
                break
            labels = nxt
        if np.array_equal(labels, before):
            break
    out = pa.table(
        {"doc_id": ids, "cluster_id": ids.take(pa.array(labels))}
    )
    # hand the result back as a parquet spill in the session scratch
    # dir (plans.session.scratch_dir): createDataFrame pins the rows
    # on the driver and re-ships them through Py4J on EVERY downstream
    # action (~1.8s at 450k rows vs ~0.3s for write+read, measured).
    # Under a local master executors share the driver's filesystem, so
    # pyarrow writes the spill directly; on a real cluster the result
    # is shipped ONCE (createDataFrame -> parquet write to the
    # shared-storage ``spark.chameleon.cc.spillDir``) and read back
    # distributed. With no scratch dir, plain createDataFrame
    # (correct, re-ships per action).
    base = scratch_dir(spark)
    if base is None:
        return spark.createDataFrame(out, out_schema)
    path = f"{base.rstrip('/')}/contract_{next(_SPILL_SEQ)}.parquet"
    if spark.conf.get("spark.master", "").startswith("local"):
        import pyarrow.parquet as pq

        pq.write_table(out, path)
    else:
        spark.createDataFrame(out, out_schema).write.mode("overwrite").parquet(
            path
        )
    return spark.read.schema(out_schema).parquet(path)


def connected_components(
    edges: DataFrame,
    driver_finish_max_edges: int | None = None,
    canonical_count: int | None = None,
) -> DataFrame:
    """edges(doc_a, doc_b) -> assignments(doc_id, cluster_id).

    cluster_id is the component's minimum doc_id. Only nodes that
    appear in an edge are returned; callers attach singletons via a
    left join + coalesce (see pipeline.assign_clusters).

    Size-adaptive: alternating large-star/small-star rounds while the
    observed edge set exceeds the contraction bound; below it, one
    vectorized driver contraction replaces the remaining rounds
    (identical output — both compute min-id components). The bound
    defaults to ``min(DRIVER_FINISH_MAX_EDGES, ~400 edges per MB of
    the driver JVM's max heap)`` — the epilogue collects edge ids onto
    the driver, so driver heap is the real constraint (a stock 1g driver
    gets ~400k edges, this repo's 24g default the full 10M). Pass
    ``driver_finish_max_edges=0`` to force the fully distributed
    path, or an explicit edge count to override the derivation.

    ``canonical_count``: pass the edge table's known TOTAL row count
    when the edges are already canonical (doc_a < doc_b, unique) —
    true for every committed edges snapshot; use the manifest's
    ``total_rows`` (an append snapshot's ``row_count`` is the delta
    only, and an undersized count here would collect an oversized
    edge table onto the driver). The initial dedup + standalone fingerprint/checkpoint
    job is then skipped entirely: a below-bound edge set goes straight
    to the driver contraction, an above-bound one straight into round
    1 (one to two fewer fixed-latency jobs per run — the width-
    invariant seconds that cap small-corpus scaling efficiency).
    """
    e = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    if driver_finish_max_edges is None:
        driver_finish_max_edges = _driver_contract_bound(edges.sparkSession)
    if canonical_count is not None:
        if canonical_count <= driver_finish_max_edges:
            return _driver_contract(e, known_edges=canonical_count)
        # a (count, None) sentinel can never equal a real round
        # fingerprint, so convergence detection is unaffected
        prev_fp: tuple = (canonical_count, None)
    else:
        e, prev_fp = _checkpoint_with_fingerprint(_dedup(e))
        if prev_fp[0] <= driver_finish_max_edges:
            return _driver_contract(e, known_edges=prev_fp[0])
    for _ in range(_MAX_STAR_ROUNDS):
        # one dedup per round (fingerprint comparison needs a set, and
        # it bounds growth); the stars themselves tolerate duplicates
        e, fp = _checkpoint_with_fingerprint(
            _dedup(_small_star(_large_star(e)))
        )
        if fp == prev_fp:
            break
        if fp[0] <= driver_finish_max_edges:
            # no known_edges: this round already ended in small-star +
            # dedup, so the clique-collapsing pre-pass would be a
            # redundant second pass over an already-starred edge set
            return _driver_contract(e)
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_STAR_ROUNDS} rounds"
        )
    # converged edge set is a star forest: src (member) -> dst (root)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    members = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("cluster_id")
    )
    return members.select(F.col("src").alias("doc_id"), "cluster_id")


def assign_clusters(all_docs: DataFrame, components: DataFrame) -> DataFrame:
    """Attach cluster ids to every doc; edge-less docs are singletons."""
    return (
        all_docs.select("doc_id")
        .join(components, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
