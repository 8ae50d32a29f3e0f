"""Pipeline orchestration: stage DAG with checkpoint/resume.

Mirrors the reference's file-separated stage chain (entities TSV ->
run files -> pruned runs -> merged runs; SURVEY.md §3) with one
difference: every boundary is an atomic catalog commit carrying
lineage (input snapshot ids + config fingerprint) and metrics, so a
re-run *resumes from the last committed checkpoint* (the
``--start_index`` analogue, `utils/entity_extractor.py:12,:51` —
north rule T1).

Stages:
  ingest     synthesize (or accept) the interleaved documents table
             (``run(documents=...)`` resolves a given corpus)
  normalize  span features (map-only)
  block      candidate pairs (salted multi-key self-join)
  score      pairwise scoring -> edges (two hash joins + map)
  cluster    large-star/small-star CC -> cluster assignments
  evaluate   pairwise F1 vs labels (if labels were ingested with
             the current documents)

A stage is skipped iff its table is committed with a lineage
fingerprint equal to the current (config, input-snapshot) pair —
deterministic stages + atomic commits make resume idempotent.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.operators.block import (
    BlockConfig,
    blocking_keys,
    candidate_pairs,
)
from chameleon_entity_linking_spark.operators.cluster import (
    assign_clusters,
    connected_components,
)
from chameleon_entity_linking_spark.operators.evaluate import pairwise_f1
from chameleon_entity_linking_spark.operators.incremental_er import (
    incremental_edges,
    merge_clusters,
)
from chameleon_entity_linking_spark.operators.normalize import normalize
from chameleon_entity_linking_spark.operators.score import (
    ScoreConfig,
    edges_above_threshold,
    score_pairs,
)
from chameleon_entity_linking_spark.sources.catalog import ParquetCatalog
from chameleon_entity_linking_spark.sources.synth import SynthConfig, synth_tables


def _fp(obj: Any) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _key_fp(block_cfg: BlockConfig, norm_fp: str) -> str:
    return _fp({"keys": block_cfg.key_fingerprint(), "in": norm_fp})


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        synth_cfg: SynthConfig | None = None,
        block_cfg: BlockConfig | None = None,
        score_cfg: ScoreConfig | None = None,
    ):
        self.spark = spark
        self.catalog = ParquetCatalog(warehouse)
        self.synth_cfg = synth_cfg or SynthConfig()
        self.block_cfg = block_cfg or BlockConfig()
        self.score_cfg = score_cfg or ScoreConfig()
        self.timings: dict[str, float] = {}

    # -- resume machinery ---------------------------------------------------
    def _done(self, table: str, fingerprint: str) -> bool:
        snap = (
            self.catalog.current_snapshot(table)
            if self.catalog.exists(table)
            else None
        )
        return snap is not None and snap.lineage.get("fingerprint") == fingerprint

    def _run_stage(
        self,
        name: str,
        table: str,
        fingerprint: str,
        build,
        metrics: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        if self._done(table, fingerprint):
            self.timings[name] = 0.0
            return self.catalog.read(self.spark, table)
        t0 = time.time()
        df = build()
        self.catalog.write(
            table,
            df,
            lineage={"stage": name, "fingerprint": fingerprint},
            metrics=metrics or {},
            partition_by=partition_by,
        )
        self.timings[name] = time.time() - t0
        return self.catalog.read(self.spark, table)

    # -- stages ---------------------------------------------------------
    def ingest(self, documents: DataFrame | None = None) -> DataFrame:
        if documents is not None:
            # a DataFrame has no cheap identity: a fresh fingerprint
            # commits it as a new snapshot on every call
            return self._run_stage(
                "ingest", "documents", uuid.uuid4().hex, lambda: documents
            )
        fp = _fp({"synth": vars(self.synth_cfg)})
        tables = synth_tables(self.spark, self.synth_cfg)
        docs = self._run_stage(
            "ingest", "documents", fp, lambda: tables["documents"]
        )
        self._run_stage("ingest_labels", "labels", fp, lambda: tables["labels"])
        self._run_stage(
            "ingest_expected",
            "expected_clusters",
            fp,
            lambda: tables["expected_clusters"],
        )
        return docs

    def run(
        self, evaluate: bool = True, documents: DataFrame | None = None
    ) -> dict:
        """Resolve the corpus into committed ``clusters``.

        ``documents``: input-hint-shaped (doc_id, spans) rows to
        resolve. None synthesizes the corpus from ``synth_cfg`` (with
        its labels) and resumes every stage already committed for it.
        A given DataFrame is committed as a new ``documents`` snapshot
        on every call, because a DataFrame has no cheap identity; the
        downstream stages key on that snapshot, so they all rerun.

        ``evaluate`` scores the clusters against ``labels`` only when
        those labels were ingested with the current documents (same
        lineage fingerprint) — never a given corpus against labels a
        synth run left in the warehouse.
        """
        docs = self.ingest(documents)
        doc_snap = self.catalog.current_snapshot("documents")

        # bump the version term whenever normalize's output schema or
        # semantics change — stale checkpoints must not resume-skip
        # v4: vectorized splitmix64 encoder (xxhash64 token features)
        # v5: emb_sig sign-sketch column (scoring phase-0 prefilter)
        norm_fp = _fp({"normalize": 5, "in": doc_snap.snapshot_id})
        doc_norm = self._run_stage(
            "normalize", "doc_norm", norm_fp, lambda: normalize(docs)
        )

        # blocking keys are a first-class committed snapshot: the
        # incremental path (Pipeline.incremental) PROBES this table
        # instead of re-deriving keys for the committed corpus, and a
        # cap/ceiling retune resumes from it (see
        # BlockConfig.key_fingerprint)
        keys_fp = _key_fp(self.block_cfg, norm_fp)
        keys_df = self._run_stage(
            "block_keys",
            "blocking_keys",
            keys_fp,
            lambda: blocking_keys(doc_norm, self.block_cfg),
        )

        block_fp = _fp(
            {
                "block": self.block_cfg.fingerprint(),
                # the sketch prefilter is fused into pair generation,
                # so ALL its knobs are part of the pairs-table
                # identity — omitting one (the hamming cut was missed
                # until round 5) makes a retune resume-skip onto a
                # stale pairs snapshot whose dropped pairs can never
                # be recovered downstream
                "sketch": [
                    self.score_cfg.cascade,
                    self.score_cfg.prefilter_min_cheap,
                    self.score_cfg.prefilter_max_hamming,
                ],
                "in": keys_fp,
            }
        )

        persisted: list = []

        def build_pairs():
            pairs, key_metrics = candidate_pairs(
                doc_norm,
                self.block_cfg,
                score_cfg=self.score_cfg,
                persisted_out=persisted,
                keys=keys_df,
            )
            self.catalog.write(
                "block_key_metrics",
                key_metrics.groupBy("fam", "class").agg(
                    F.count("*").alias("n_keys"),
                    F.sum("n_docs").alias("n_doc_keys"),
                ),
                lineage={"stage": "block", "fingerprint": block_fp},
            )
            return pairs

        try:
            pairs = self._run_stage("block", "pairs", block_fp, build_pairs)
        finally:  # committed or failed: free the expansion's caches
            for df in persisted:
                df.unpersist()

        score_fp = _fp({"score": self.score_cfg.fingerprint(), "in": block_fp})
        scored = self._run_stage(
            "score",
            "scores",
            score_fp,
            lambda: score_pairs(pairs, doc_norm, self.score_cfg),
        )
        edges = self._run_stage(
            "edges",
            "edges",
            _fp({"edges": self.score_cfg.threshold, "in": score_fp}),
            lambda: edges_above_threshold(scored, self.score_cfg),
        )

        cluster_fp = _fp({"cluster": 1, "in": score_fp})
        # committed edges are canonical + counted (manifest footer
        # counts) -> CC skips its standalone dedup/fingerprint job.
        # total_rows, NOT row_count: an appended edges snapshot's
        # row_count is the delta only, and an undersized count here
        # could route a huge edge table into the driver contraction
        n_edges = self.catalog.current_snapshot("edges").total_rows
        assignments = self._run_stage(
            "cluster",
            "clusters",
            cluster_fp,
            lambda: assign_clusters(
                docs, connected_components(edges, canonical_count=n_edges)
            ),
        )

        result: dict = {
            "n_docs": doc_snap.row_count,
            "n_pairs": self.catalog.current_snapshot("pairs").row_count,
            "n_edges": self.catalog.current_snapshot("edges").row_count,
            "n_clusters_rows": self.catalog.current_snapshot(
                "clusters"
            ).row_count,
            "timings": dict(self.timings),
        }
        if evaluate and self._done("labels", doc_snap.lineage["fingerprint"]):
            labels = self.catalog.read(self.spark, "labels")
            result["metrics"] = pairwise_f1(labels, assignments)
            self.catalog.write(
                "metrics",
                self.spark.createDataFrame(
                    [
                        {
                            "stage": "evaluate",
                            "metric": k,
                            "value": float(v),
                        }
                        for k, v in result["metrics"].items()
                    ]
                ),
                lineage={"stage": "evaluate", "fingerprint": cluster_fp},
            )
        return result

    def incremental(
        self, new_docs: DataFrame, batch_id: str | None = None
    ) -> dict:
        """Resolve a NEW document batch against the committed corpus —
        the O(delta) refresh path (operators/incremental_er.py).

        Reads the committed ``doc_norm``, ``blocking_keys`` and
        ``clusters`` snapshots (a full batch ``run()`` must have
        committed them); derives features + keys for the new batch
        ONLY — the committed key table is probed via semi-join, never
        re-derived — then commits, in this order:

          documents, doc_norm, blocking_keys   APPEND (the new batch)
          edges                                APPEND (new edges only)
          clusters                             overwrite (merged)

        The ``edges`` append is where the delta's block + score plan
        runs, once: ``merge_clusters`` then reads only the rows that
        append wrote (``catalog.read_written``), never the uncommitted
        edge plan.

        After the commit the catalog is in the same state a fresh full
        run over the union corpus would leave for a subsequent
        increment: the next batch probes keys covering every committed
        doc, old and new.

        ``batch_id`` (recommended in production): the replay guard.
        The five commits are not one transaction; with a batch id
        recorded in their lineage, a retry of a FULLY-committed batch
        is a no-op ({"skipped": True}), and a retry after a
        mid-sequence crash raises instead of double-appending the
        batch into documents/doc_norm/blocking_keys/edges. A crash in
        the merge (after the ``edges`` commit) leaves all four appends
        committed and ``clusters`` at its pre-batch snapshot: roll the
        partially-touched tables back to their pre-batch snapshots
        (``catalog.rollback``) and retry. Without a batch id no guard
        runs (the streaming path's checkpoint-keyed guard is the
        equivalent there).
        """
        for table in ("doc_norm", "blocking_keys", "clusters"):
            if not self.catalog.exists(table):
                raise RuntimeError(
                    f"incremental() needs a committed '{table}' snapshot — "
                    "run() the batch pipeline first"
                )
        inc_tables = (
            "documents",
            "doc_norm",
            "blocking_keys",
            "edges",
            "clusters",
        )
        if batch_id is not None:
            touched = {
                t: any(
                    s.get("lineage", {}).get("batch_id") == batch_id
                    for s in self.catalog.history(t)
                )
                for t in inc_tables
            }
            if all(touched.values()):
                return {"skipped": True, "batch_id": batch_id}
            if any(touched.values()):
                partial = sorted(t for t, hit in touched.items() if hit)
                raise RuntimeError(
                    f"batch {batch_id!r} is PARTIALLY committed "
                    f"(tables {partial}) — a retry would double-append; "
                    "catalog.rollback each touched table to its "
                    "pre-batch snapshot, then retry"
                )
        t0 = time.time()
        committed_norm = self.catalog.read(self.spark, "doc_norm")
        committed_keys = self.catalog.read(self.spark, "blocking_keys")
        committed_assign = self.catalog.read(self.spark, "clusters").select(
            "doc_id", "cluster_id"
        )
        new_norm = normalize(new_docs).persist()
        new_keys = blocking_keys(new_norm, self.block_cfg).persist()
        # plus the expansion-internal caches (see incremental_edges'
        # persisted_out); freed whether or not the commits succeed
        persisted: list = [new_norm, new_keys]
        inc_fp = _fp(
            {
                "incremental": True,
                "keys": _key_fp(self.block_cfg, ""),
                "score": self.score_cfg.fingerprint(),
            }
        )
        lineage = {"stage": "incremental", "fingerprint": inc_fp}
        if batch_id is not None:
            lineage["batch_id"] = batch_id
        try:
            new_edges = incremental_edges(
                new_docs,
                committed_norm,
                committed_keys,
                self.block_cfg,
                self.score_cfg,
                new_norm=new_norm,
                new_keys=new_keys,
                persisted_out=persisted,
            )
            self.catalog.write(
                "documents", new_docs, mode="append", lineage=lineage
            )
            self.catalog.write(
                "doc_norm", new_norm, mode="append", lineage=lineage
            )
            self.catalog.write(
                "blocking_keys", new_keys, mode="append", lineage=lineage
            )
            edge_snap = self.catalog.write(
                "edges", new_edges, mode="append", lineage=lineage
            )
            # the merge reads the committed edge rows, not the edge
            # plan: the delta's block + score plan ran once, above
            merged = merge_clusters(
                committed_assign,
                self.catalog.read_written(
                    self.spark, "edges", edge_snap.snapshot_id
                ),
                committed_assign.select("doc_id").unionByName(
                    new_docs.select("doc_id")
                ),
            )
            cluster_snap = self.catalog.write(
                "clusters", merged, lineage=lineage
            )
        finally:
            for df in persisted:
                df.unpersist()
        self.timings["incremental"] = time.time() - t0
        return {
            "n_new_docs": self.catalog.current_snapshot("documents").row_count,
            "n_new_edges": edge_snap.row_count,
            "n_clusters_rows": cluster_snap.row_count,
            "timings": dict(self.timings),
        }
