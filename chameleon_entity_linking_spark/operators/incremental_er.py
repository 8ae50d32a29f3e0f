"""Cross-run incremental entity resolution: new batch vs committed corpus.

The production shape of a continuously-refreshed training corpus: a
new document batch arrives after a full ER run has been committed,
and only the DELTA work should run — block the incoming batch's keys
against the committed key table, score only pairs with at least one
new endpoint, and merge the resulting edges into the existing
clusters by re-clustering only the AFFECTED components. The
capability analogue in the reference is its resumable ``--start_index``
extraction cursor (`utils/entity_extractor.py:12,51`) — batches
resume where the last run stopped — lifted here to the whole
blocking -> scoring -> clustering pipeline.

Semantics (made explicit so the DuckDB oracle can replicate them):

* Key membership counts are FULL-corpus counts (committed + new
  members), so the cap/ceiling classification a key receives is the
  one it would have in a fresh run over the union corpus.
* Only keys touched by the new batch participate (a semi-join
  restriction — keys with no new member cannot produce a new pair).
* Only pairs with >= 1 new endpoint are expanded/scored;
  committed-vs-committed pairs were already scored by the committed
  run and their edges are reused as-is.
* Edges accumulate monotonically: merged edge set = committed edges
  UNION new edges. (A key that was under the cap in the committed
  run but drifts over it with new members keeps its committed edges
  — incremental resolution never unlinks.)
* Clusters: connected components over (committed cluster star edges
  of AFFECTED clusters) UNION (new edges). Unaffected clusters are
  untouched — at 10^12 docs the re-clustered subgraph is
  proportional to the delta, not the corpus.

Scale shape: the committed key table is read (not recomputed), hit
with one hash semi-join on the new batch's keys, and only the
restricted slice flows into the grouped expansion — the same
count-classified, salted, filter-before-collect discipline as the
batch path (block.expand_key_pairs). The dominant cost is
O(|new keys| + |touched committed keys| + |new pairs|).

Two steps, split at the commit boundary: ``incremental_edges`` builds
the delta's lazy edge plan (blocking + scoring), and
``merge_clusters`` folds edges into the committed clusters.
Pipeline.incremental commits the edges between the two, so the merge
reads committed parquet rows and the delta plan (with its pandas-UDF
stages) runs once — the merge's probes and connected components'
eager checkpoint would each re-run an uncommitted plan.
``incremental_er_update`` chains both for callers that commit
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.operators.block import (
    BlockConfig,
    blocking_keys,
    expand_key_pairs,
)
from chameleon_entity_linking_spark.operators.cluster import (
    connected_components,
)
from chameleon_entity_linking_spark.operators.score import (
    ScoreConfig,
    edges_above_threshold,
    score_pairs,
    sign_sketch,
    sketch_prefilter,
)


def incremental_candidate_pairs(
    new_norm: DataFrame,
    committed_keys: DataFrame,
    cfg: BlockConfig,
    doc_norm_all: DataFrame,
    score_cfg: ScoreConfig | None = None,
    persisted_out: list | None = None,
    new_keys: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs between a new batch and the committed corpus.

    ``committed_keys``: the committed run's (doc_id, key, fam)
    blocking-key table (commit it with the run, or rebuild it from the
    committed doc_norm — keys are deterministic per doc). Returns
    canonical deduplicated pairs where at least one endpoint is a new doc
    (new-new and new-committed; committed-committed pairs are the
    committed run's business).

    ``doc_norm_all``: committed + new doc_norm rows. Its sign sketch
    rides the key table exactly like the batch path; with
    ``score_cfg.sketch_fused`` the sketch prefilter fuses into the
    expansion and the pairs carry ``s_cos``, otherwise the output is
    (doc_a, doc_b).

    The new-doc-id membership probes broadcast: the delta batch is
    small relative to the corpus by design. ``new_keys`` optionally
    supplies a precomputed (e.g. committed) key table for the new
    batch; by default keys are derived here.
    """
    spark = new_norm.sparkSession
    if new_keys is None:
        new_keys = blocking_keys(new_norm, cfg).persist()
        if persisted_out is not None:
            persisted_out.append(new_keys)
    # keys with no new member cannot form a new pair: one semi-join
    # restricts the committed key table to the touched slice before
    # any expansion work. (At scale this is the step that makes the
    # update O(delta): the committed key table is only probed, never
    # re-expanded.)
    touched = new_keys.select("key").distinct()
    relevant = committed_keys.join(touched, "key", "left_semi")
    keys = relevant.unionByName(new_keys.select(*relevant.columns))
    raw, _metrics = expand_key_pairs(
        keys, cfg, persisted_out, sketch=sign_sketch(doc_norm_all)
    )
    # keep only pairs with >= 1 new endpoint. The new-doc id set is
    # the batch — small relative to the corpus — so both membership
    # probes broadcast.
    new_ids = new_norm.select("doc_id").distinct()
    na = F.broadcast(
        new_ids.select(F.col("doc_id").alias("doc_a"), F.lit(True).alias("new_a"))
    )
    nb = F.broadcast(
        new_ids.select(F.col("doc_id").alias("doc_b"), F.lit(True).alias("new_b"))
    )
    raw = (
        raw.join(na, "doc_a", "left")
        .join(nb, "doc_b", "left")
        .where(F.coalesce("new_a", F.lit(False)) | F.coalesce("new_b", F.lit(False)))
        .drop("new_a", "new_b")
    )
    if score_cfg is not None and score_cfg.sketch_fused:
        raw = sketch_prefilter(raw, doc_norm_all, score_cfg)
    else:
        raw = raw.select("doc_a", "doc_b")
    return raw.dropDuplicates(["doc_a", "doc_b"])


def merge_clusters(
    committed_assignments: DataFrame,
    new_edges: DataFrame,
    all_docs: DataFrame,
) -> DataFrame:
    """Merge new edges into committed clusters, re-clustering only the
    affected components.

    ``committed_assignments``: (doc_id, cluster_id) of the committed
    run. ``new_edges``: (doc_a, doc_b[, score]) scored above
    threshold. ``all_docs``: every doc (committed + new) — rows
    untouched by any edge come out as singletons/unchanged.

    A committed cluster is AFFECTED iff a new edge touches one of its
    members; its star edges (member -> cluster_id) re-enter connected
    components together with the new edges, so transitivity across
    old and new edges is preserved — two committed clusters bridged
    by a new doc merge into one, with the usual min-id label. Every
    other committed cluster keeps its id without any recomputation
    (the re-clustered subgraph is proportional to the delta).

    The new-edge-endpoint and affected-cluster probe sets broadcast:
    both are O(delta) by construction.
    """
    ends = (
        new_edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(new_edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    affected = (
        committed_assignments.join(F.broadcast(ends), "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    star = (
        committed_assignments.join(
            F.broadcast(affected), "cluster_id", "left_semi"
        )
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select(
            F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b")
        )
    )
    cc = connected_components(
        star.unionByName(new_edges.select("doc_a", "doc_b"))
    )
    old = committed_assignments.select(
        "doc_id", F.col("cluster_id").alias("old_cid")
    )
    return (
        all_docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .join(old, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "old_cid", "doc_id").alias("cluster_id"),
        )
    )


def incremental_edges(
    new_docs: DataFrame,
    committed_norm: DataFrame,
    committed_keys: DataFrame,
    block_cfg: BlockConfig,
    score_cfg: ScoreConfig,
    new_norm: DataFrame | None = None,
    new_keys: DataFrame | None = None,
    persisted_out: list | None = None,
) -> DataFrame:
    """The delta's block + score step: the lazy plan of its new edges.

    ``new_docs`` are input-hint-shaped (doc_id, spans); ``committed_norm``
    and ``committed_keys`` come from the prior run's catalog tables.
    ``new_norm``/``new_keys`` optionally supply already-materialized
    features/keys for the batch (the pipeline commits both, so the
    next increment starts from committed tables). Returns the
    (doc_a, doc_b, score) edges above threshold with >= 1 new
    endpoint. The plan runs the delta's pandas-UDF stages, so a caller
    that commits it should hand ``merge_clusters`` the committed rows
    (Pipeline.incremental), not this plan.

    ``persisted_out``: the step ``.persist()``s intermediates (key
    counts, grouped buckets, an internally-derived ``new_norm``) that
    must stay cached until the caller MATERIALIZES the edges. Pass a
    list and unpersist its entries afterwards — otherwise each
    incremental run leaks cached blocks into executor storage for the
    session's lifetime (the same contract as
    ``block.candidate_pairs``'s ``persisted_out``).
    """
    from chameleon_entity_linking_spark.operators.normalize import normalize

    persisted: list = persisted_out if persisted_out is not None else []
    if new_norm is None:
        new_norm = normalize(new_docs).persist()
        persisted.append(new_norm)
    doc_norm_all = committed_norm.unionByName(new_norm)
    pairs = incremental_candidate_pairs(
        new_norm,
        committed_keys,
        block_cfg,
        doc_norm_all,
        score_cfg=score_cfg,
        persisted_out=persisted,
        new_keys=new_keys,
    )
    return edges_above_threshold(
        score_pairs(pairs, doc_norm_all, score_cfg), score_cfg
    )


def incremental_er_update(
    new_docs: DataFrame,
    committed_norm: DataFrame,
    committed_keys: DataFrame,
    committed_assignments: DataFrame,
    block_cfg: BlockConfig,
    score_cfg: ScoreConfig,
    new_norm: DataFrame | None = None,
    new_keys: DataFrame | None = None,
    persisted_out: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One incremental ER step: returns (new_edges, merged_assignments).

    The one-call form for callers that commit nothing:
    ``incremental_edges`` then ``merge_clusters`` over its lazy edge
    plan, so materializing both outputs runs the delta's block + score
    plan more than once. A caller that commits the edges should call
    the two steps itself and merge the committed rows, as
    Pipeline.incremental (plans/pipeline.py) does. Arguments and the
    ``persisted_out`` contract are ``incremental_edges``'; keep the
    cached intermediates until both outputs are materialized.
    """
    new_edges = incremental_edges(
        new_docs,
        committed_norm,
        committed_keys,
        block_cfg,
        score_cfg,
        new_norm=new_norm,
        new_keys=new_keys,
        persisted_out=persisted_out,
    )
    all_docs = committed_assignments.select("doc_id").unionByName(
        new_docs.select("doc_id")
    )
    merged = merge_clusters(committed_assignments, new_edges, all_docs)
    return new_edges, merged
