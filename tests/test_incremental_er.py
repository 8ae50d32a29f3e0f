"""Cross-run incremental ER: new batch vs committed corpus.

Covers operators/incremental_er.py — the delta-only candidate path,
affected-component-only cluster merge, and the catalog-integrated
two-batch flow (the pipeline-level analogue of the reference's
resumable --start_index cursor, utils/entity_extractor.py:12,51).
"""

from __future__ import annotations

import pytest
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
from chameleon_entity_linking_spark.operators.incremental_er import (
    incremental_er_update,
    merge_clusters,
)
from chameleon_entity_linking_spark.operators.normalize import normalize
from chameleon_entity_linking_spark.operators.score import (
    ScoreConfig,
    edges_above_threshold,
    score_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            (
                doc_id,
                [("text", text, "", 0)]
                + ([("image", "", media, 1)] if media else []),
            )
            for doc_id, text, media in rows
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


BLOCK_CFG = BlockConfig()
SCORE_CFG = ScoreConfig(threshold=0.8, prefilter_min_cheap=None)

BATCH1 = [
    ("a1", "alpha beta gamma delta", ""),
    ("a2", "alpha beta gamma delte", ""),  # near-dup of a1
    ("b1", "epsilon zeta eta theta", ""),
    ("c1", "", "m1"),  # media-only doc (judged purely on media)
]
BATCH2 = [
    ("a3", "alpha beta gamma delta", ""),  # joins a1/a2's cluster
    ("b2", "epsilon zeta eta thete", ""),  # joins b1's cluster
    ("d1", "nothing like anything else", ""),  # singleton
    ("c2", "", "m1"),  # media-only: joins c1 on exact media overlap
]


def _full_run(spark, rows):
    docs = _docs(spark, rows)
    norm = normalize(docs)
    pairs, _ = candidate_pairs(norm, BLOCK_CFG, score_cfg=SCORE_CFG)
    edges = edges_above_threshold(
        score_pairs(pairs, norm, SCORE_CFG), SCORE_CFG
    )
    return assign_clusters(docs, connected_components(edges))


def _incremental_run(spark):
    docs1 = _docs(spark, BATCH1)
    norm1 = normalize(docs1)
    pairs1, _ = candidate_pairs(norm1, BLOCK_CFG, score_cfg=SCORE_CFG)
    edges1 = edges_above_threshold(
        score_pairs(pairs1, norm1, SCORE_CFG), SCORE_CFG
    )
    assign1 = assign_clusters(docs1, connected_components(edges1))
    new_edges, merged = incremental_er_update(
        _docs(spark, BATCH2),
        norm1,
        blocking_keys(norm1, BLOCK_CFG),
        assign1,
        BLOCK_CFG,
        SCORE_CFG,
    )
    return new_edges, merged


class TestIncrementalER:
    def test_matches_full_rerun(self, spark):
        """On a fixture whose keys stay under every cap in both
        phases, the incremental merge must equal a from-scratch run
        over the union corpus — same components, same min-id labels."""
        _, merged = _incremental_run(spark)
        full = _full_run(spark, BATCH1 + BATCH2)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_batch2_docs_join_batch1_clusters(self, spark):
        _, merged = _incremental_run(spark)
        got = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
        # a3 joins the a1-a2 cluster; b2 joins b1; c2 media-joins c1
        assert got["a3"] == got["a1"] == got["a2"]
        assert got["b2"] == got["b1"]
        assert got["c2"] == got["c1"]
        # d1 stays a singleton
        assert got["d1"] == "d1"

    def test_new_edges_have_new_endpoint(self, spark):
        new_edges, _ = _incremental_run(spark)
        batch2 = {d for d, _, _ in BATCH2}
        for r in new_edges.collect():
            assert r["doc_a"] in batch2 or r["doc_b"] in batch2

    def test_unaffected_clusters_keep_ids(self, spark):
        """A committed cluster untouched by any new edge keeps its id
        without re-clustering (merge path reads it from the committed
        assignment, not from a CC recomputation)."""
        docs1 = _docs(spark, BATCH1)
        assign1 = _full_run(spark, BATCH1)
        # a batch with no links to batch 1 at all
        lone = _docs(spark, [("z9", "zzz yyy xxx www", "")])
        new_edges, merged = incremental_er_update(
            lone,
            normalize(docs1),
            blocking_keys(normalize(docs1), BLOCK_CFG),
            assign1,
            BLOCK_CFG,
            SCORE_CFG,
        )
        assert new_edges.count() == 0
        before = {r["doc_id"]: r["cluster_id"] for r in assign1.collect()}
        after = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
        for d, cid in before.items():
            assert after[d] == cid
        assert after["z9"] == "z9"

    def test_merge_bridges_two_committed_clusters(self, spark):
        """A new doc linking members of two distinct committed
        clusters merges them under the global min id."""
        assignments = spark.createDataFrame(
            [("a", "a"), ("b", "a"), ("x", "x"), ("y", "x"), ("q", "q")],
            "doc_id string, cluster_id string",
        )
        new_edges = spark.createDataFrame(
            [("b", "n1"), ("n1", "x")], "doc_a string, doc_b string"
        )
        all_docs = assignments.select("doc_id").unionByName(
            spark.createDataFrame([("n1",)], "doc_id string")
        )
        merged = merge_clusters(assignments, new_edges, all_docs)
        got = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
        assert (
            got["a"] == got["b"] == got["x"] == got["y"] == got["n1"] == "a"
        )
        assert got["q"] == "q"  # unaffected

    def test_catalog_integrated_flow(self, spark, tmp_path):
        """Two batches through a warehouse: commit run 1's tables,
        run the incremental step from the catalog, commit the merge —
        edges append, assignments overwrite, lineage carries stage."""
        from chameleon_entity_linking_spark.sources.catalog import (
            ParquetCatalog,
        )

        catalog = ParquetCatalog(str(tmp_path / "wh"))
        docs1 = _docs(spark, BATCH1)
        norm1 = normalize(docs1)
        pairs1, _ = candidate_pairs(norm1, BLOCK_CFG, score_cfg=SCORE_CFG)
        edges1 = edges_above_threshold(
            score_pairs(pairs1, norm1, SCORE_CFG), SCORE_CFG
        )
        assign1 = assign_clusters(docs1, connected_components(edges1))
        catalog.write("doc_norm", norm1, lineage={"stage": "normalize"})
        catalog.write(
            "block_keys",
            blocking_keys(norm1, BLOCK_CFG),
            lineage={"stage": "block"},
        )
        catalog.write("edges", edges1, lineage={"stage": "score"})
        catalog.write("clusters", assign1, lineage={"stage": "cluster"})

        new_edges, merged = incremental_er_update(
            _docs(spark, BATCH2),
            catalog.read(spark, "doc_norm"),
            catalog.read(spark, "block_keys"),
            catalog.read(spark, "clusters"),
            BLOCK_CFG,
            SCORE_CFG,
        )
        catalog.write(
            "edges",
            new_edges,
            mode="append",
            lineage={"stage": "incremental_score"},
        )
        catalog.write(
            "clusters", merged, lineage={"stage": "incremental_cluster"}
        )
        # the merged edge table is the union of both runs' edges
        total = catalog.read(spark, "edges")
        assert total.count() == edges1.count() + new_edges.count()
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in catalog.read(spark, "clusters").collect()
        }
        assert got["a3"] == got["a1"]
        assert catalog.current_snapshot("clusters").lineage["stage"] == (
            "incremental_cluster"
        )


class TestIncrementalDrift:
    """Key-count drift across the commit boundary — the documented
    semantics at the cap/ceiling edges, driven through the FULL
    incremental path (media keys give exact control over counts)."""

    # cap 2, max_salts 2 -> skew bound 4; ceiling = min(4, 4) = 4
    CFG = BlockConfig(hot_key_cap=2, max_salts=2, max_key_docs=4)
    # media-only docs: match is judged purely on media jaccard, so two
    # docs sharing their single media ref score 1.0
    SC = ScoreConfig(threshold=0.8, prefilter_min_cheap=None)

    def _commit(self, spark, rows):
        docs = _docs(spark, rows)
        norm = normalize(docs)
        pairs, _ = candidate_pairs(norm, self.CFG, score_cfg=self.SC)
        edges = edges_above_threshold(
            score_pairs(pairs, norm, self.SC), self.SC
        )
        assign = assign_clusters(docs, connected_components(edges))
        return docs, norm, assign

    def test_key_drifts_over_cap_into_salted_path(self, spark):
        """Committed key at 2 members (normal class); a new member
        takes the FULL count to 3 > hot_key_cap -> the salted triangle
        path, which must still link the new doc to both committed
        members (full-corpus counts decide the classification)."""
        batch1 = [("y1", "", "mY"), ("y2", "", "mY")]
        docs1, norm1, assign1 = self._commit(spark, batch1)
        _, merged = incremental_er_update(
            _docs(spark, [("y3", "", "mY")]),
            norm1,
            blocking_keys(norm1, self.CFG),
            assign1,
            self.CFG,
            self.SC,
        )
        got = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
        assert got["y3"] == got["y1"] == got["y2"] == "y1"

    def test_key_drifts_over_ceiling_never_unlinks(self, spark):
        """Committed key at 4 members (== ceiling: expanded, one
        committed cluster); two new members push the full count to
        6 > ceiling -> the key is stopword-grade NOW, so it emits no
        NEW pairs (the new docs stay singletons) — but the committed
        cluster persists untouched: incremental resolution never
        unlinks."""
        batch1 = [(f"x{i}", "", "mX") for i in range(1, 5)]
        docs1, norm1, assign1 = self._commit(spark, batch1)
        committed = {r["doc_id"]: r["cluster_id"] for r in assign1.collect()}
        assert len({committed[f"x{i}"] for i in range(1, 5)}) == 1
        new_edges, merged = incremental_er_update(
            _docs(spark, [("x5", "", "mX"), ("x6", "", "mX")]),
            norm1,
            blocking_keys(norm1, self.CFG),
            assign1,
            self.CFG,
            self.SC,
        )
        assert new_edges.count() == 0  # over-ceiling key emits nothing
        got = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
        for i in range(1, 5):  # committed cluster intact
            assert got[f"x{i}"] == committed[f"x{i}"]
        assert got["x5"] == "x5" and got["x6"] == "x6"  # new: singletons

    def test_new_doc_bridges_two_committed_clusters_full_path(self, spark):
        """A new doc sharing media with members of TWO distinct
        committed clusters merges them through the full incremental
        path (blocking -> scoring -> affected-component re-cluster),
        under the global min id — not just in merge_clusters
        isolation."""
        batch1 = [
            ("p1", "", "mP"),
            ("p2", "", "mP"),
            ("q1", "", "mQ"),
            ("q2", "", "mQ"),
        ]
        docs1, norm1, assign1 = self._commit(spark, batch1)
        committed = {r["doc_id"]: r["cluster_id"] for r in assign1.collect()}
        assert committed["p1"] == committed["p2"] != committed["q1"]
        # n1 carries BOTH media refs -> media jaccard 0.5 vs each
        # cluster... so score with a threshold the bridge can clear
        bridge_sc = ScoreConfig(threshold=0.45, prefilter_min_cheap=None)
        n1 = spark.createDataFrame(
            [
                (
                    "n1",
                    [
                        ("image", "", "mP", 0),
                        ("image", "", "mQ", 1),
                    ],
                )
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        _, merged = incremental_er_update(
            n1,
            norm1,
            blocking_keys(norm1, self.CFG),
            assign1,
            self.CFG,
            bridge_sc,
        )
        got = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
        # one component under the global min id ("n1" < "p1" < "q1")
        assert (
            got["p1"] == got["p2"] == got["q1"] == got["q2"] == got["n1"]
            == "n1"
        )


class TestPipelineIncremental:
    """Pipeline.incremental: the committed blocking_keys snapshot is
    CONSUMED (probed), never re-derived — plus the catalog ends in the
    state a fresh full run would leave for the next increment."""

    def test_incremental_consumes_committed_keys(
        self, spark, tmp_path, monkeypatch
    ):
        from chameleon_entity_linking_spark.plans import pipeline as pl
        from chameleon_entity_linking_spark.sources.synth import SynthConfig

        p = pl.Pipeline(
            spark, str(tmp_path / "wh"), synth_cfg=SynthConfig(n_entities=40, seed=7)
        )
        p.run(evaluate=False)
        # the batch run committed keys as a first-class snapshot
        keys_snap = p.catalog.current_snapshot("blocking_keys")
        assert keys_snap is not None and keys_snap.row_count > 0
        assert keys_snap.lineage["stage"] == "block_keys"
        committed_keys_rows = keys_snap.row_count
        n_docs_before = p.catalog.read(spark, "documents").count()

        # new batch: an exact copy of one committed doc under a new id
        src = p.catalog.read(spark, "documents").orderBy("doc_id").first()
        new_docs = spark.createDataFrame(
            [("znew_0", src["spans"])],
            p.catalog.read(spark, "documents").schema,
        )

        # count key derivations during the incremental step: exactly
        # ONE blocking_keys call, over the NEW batch only — the
        # committed corpus's keys come from the catalog snapshot
        calls = []
        real = pl.blocking_keys

        def spy(norm, cfg):
            calls.append(norm)
            return real(norm, cfg)

        monkeypatch.setattr(pl, "blocking_keys", spy)
        res = p.incremental(new_docs)
        assert len(calls) == 1
        assert calls[0].count() == 1  # the 1-doc delta, not the corpus

        # the new doc joined its source's cluster
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in p.catalog.read(spark, "clusters").collect()
        }
        assert got["znew_0"] == got[src["doc_id"]]
        # catalog state is increment-ready: documents/doc_norm/keys all
        # appended, so the NEXT batch probes keys covering this one
        assert p.catalog.read(spark, "documents").count() == n_docs_before + 1
        assert p.catalog.read(spark, "doc_norm").count() == n_docs_before + 1
        assert (
            p.catalog.read(spark, "blocking_keys").count()
            > committed_keys_rows
        )
        assert p.catalog.current_snapshot("blocking_keys").mode == "append"
        assert res["n_new_docs"] == 1

    def test_incremental_requires_committed_run(self, spark, tmp_path):
        from chameleon_entity_linking_spark.plans.pipeline import Pipeline

        p = Pipeline(spark, str(tmp_path / "wh_empty"))
        with pytest.raises(RuntimeError, match="committed"):
            p.incremental(_docs(spark, [("x", "a b c", "")]))


class TestAnnMultiProbe:
    def test_boundary_vector_recovered_at_nprobe2(self, spark):
        """A query's true nearest neighbor sits just across its own
        cell's boundary: single-probe IVF misses it (the recall
        cliff), nprobe=2 recovers it with exact rescoring."""
        from chameleon_entity_linking_spark.plans.driver_queries import (
            _ann_ivf_search,
        )

        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),  # centroid c0
                (1, [0.0, 1.0]),  # centroid c1
                (10, [0.72, 0.69]),  # query: cell c0
                (11, [0.69, 0.72]),  # its true NN: cell c1 (boundary!)
                (12, [1.0, -0.1]),  # filler member of c0
            ],
            "vec_id long, embedding array<double>",
        )
        one = {
            (r["qid"], r["rank"]): r["mid"]
            for r in _ann_ivf_search(emb, nprobe=1, topk=1).collect()
        }
        two = {
            (r["qid"], r["rank"]): r["mid"]
            for r in _ann_ivf_search(emb, nprobe=2, topk=1).collect()
        }
        assert one[(10, 1)] == 12  # nearest-cell-only: boundary NN missed
        assert two[(10, 1)] == 11  # multi-probe: exact NN found


class TestDriverContractBound:
    def test_bound_scales_with_driver_memory(self, spark):
        from chameleon_entity_linking_spark.operators.cluster import (
            DRIVER_FINISH_MAX_EDGES,
            _driver_contract_bound,
        )

        bound = _driver_contract_bound(spark)
        assert 0 < bound <= DRIVER_FINISH_MAX_EDGES
        # this repo's sessions run a 24g driver -> the full ceiling
        if spark.conf.get("spark.driver.memory", "1g") == "24g":
            assert bound == DRIVER_FINISH_MAX_EDGES

    def test_jvm_memory_string_parsing(self):
        """Spark reads a suffix-less spark.driver.memory as MiB (not
        bytes) and accepts one- or two-letter k/m/g/t[b] suffixes —
        the bound derivation must agree, or a '4096' (4 GiB) driver
        silently gets a ~1-edge bound (ADVICE r4)."""
        from chameleon_entity_linking_spark.plans.session import (
            _parse_jvm_mem_mb,
        )

        assert _parse_jvm_mem_mb("4096") == 4096.0  # plain = MiB
        assert _parse_jvm_mem_mb("24g") == 24 * 1024.0
        assert _parse_jvm_mem_mb("24gb") == 24 * 1024.0
        assert _parse_jvm_mem_mb("512m") == 512.0
        assert _parse_jvm_mem_mb("512MB") == 512.0
        assert _parse_jvm_mem_mb("1t") == 1024.0 * 1024
        assert _parse_jvm_mem_mb("2048k") == 2.0
        with pytest.raises(ValueError):
            _parse_jvm_mem_mb("not-a-size")


class TestStreamIdGuard:
    def test_fresh_checkpoint_replays_instead_of_skipping(
        self, spark, tmp_path
    ):
        """Reusing a warehouse with a NEW stream checkpoint restarts
        batch ids at 0 — the guard must fall back to replay (append),
        not silently skip the new stream's commits (ADVICE r3)."""
        import pyspark.sql.functions as SF

        from chameleon_entity_linking_spark.sources.catalog import (
            ParquetCatalog,
        )
        from chameleon_entity_linking_spark.sources.synth import (
            SynthConfig,
            synth_tables,
        )
        from chameleon_entity_linking_spark.streaming.incremental import (
            start_incremental_normalize,
        )

        docs = synth_tables(spark, SynthConfig(n_entities=30, seed=11))[
            "documents"
        ]
        in_dir = str(tmp_path / "in")
        docs.limit(40).write.parquet(in_dir)
        wh = str(tmp_path / "wh")

        q1 = start_incremental_normalize(
            spark, in_dir, wh, str(tmp_path / "ckpt1")
        )
        q1.awaitTermination()
        catalog = ParquetCatalog(wh)
        n1 = catalog.current_snapshot("doc_norm_stream").row_count
        assert n1 > 0

        # same warehouse, FRESH checkpoint: batch ids restart at 0;
        # with the old batch_id-only guard this silently skipped
        q2 = start_incremental_normalize(
            spark, in_dir, wh, str(tmp_path / "ckpt2")
        )
        q2.awaitTermination()
        snap = catalog.current_snapshot("doc_norm_stream")
        assert snap.lineage["stream_id"].endswith("ckpt2")
        # replayed as a new append snapshot, not skipped (snapshot
        # row_count is per-commit; the table total doubles)
        assert catalog.read(spark, "doc_norm_stream").count() == 2 * n1
        # and re-running the SAME checkpoint stays idempotent
        q3 = start_incremental_normalize(
            spark, in_dir, wh, str(tmp_path / "ckpt2")
        )
        q3.awaitTermination()
        assert catalog.read(spark, "doc_norm_stream").count() == 2 * n1


class TestBatchReplayGuard:
    """Pipeline.incremental(batch_id=...): five commits are not one
    transaction — a full replay must be a no-op, a partial replay must
    fail loud (not double-append), and catalog.rollback is the repair
    path."""

    def _committed_pipeline(self, spark, tmp_path):
        from chameleon_entity_linking_spark.plans.pipeline import Pipeline
        from chameleon_entity_linking_spark.sources.synth import SynthConfig

        p = Pipeline(
            spark,
            str(tmp_path / "wh"),
            synth_cfg=SynthConfig(n_entities=30, seed=7),
        )
        p.run(evaluate=False)
        src = p.catalog.read(spark, "documents").orderBy("doc_id").first()
        new_docs = spark.createDataFrame(
            [("znew_0", src["spans"])],
            p.catalog.read(spark, "documents").schema,
        )
        return p, new_docs

    def test_full_replay_is_noop(self, spark, tmp_path):
        p, new_docs = self._committed_pipeline(spark, tmp_path)
        p.incremental(new_docs, batch_id="b1")
        docs_after = p.catalog.read(spark, "documents").count()
        out = p.incremental(new_docs, batch_id="b1")
        assert out == {"skipped": True, "batch_id": "b1"}
        assert p.catalog.read(spark, "documents").count() == docs_after

    def test_partial_replay_raises_and_rollback_repairs(
        self, spark, tmp_path
    ):
        p, new_docs = self._committed_pipeline(spark, tmp_path)
        pre = {
            t: p.catalog.current_snapshot(t).snapshot_id
            for t in ("documents", "doc_norm", "blocking_keys")
        }
        # simulate a mid-sequence crash: the batch landed in documents
        # (+norm/keys) but never reached edges/clusters
        lineage = {"stage": "incremental", "batch_id": "b2"}
        for t in ("documents", "doc_norm", "blocking_keys"):
            p.catalog.write(
                t,
                p.catalog.read(spark, t).limit(1),
                mode="append",
                lineage=lineage,
            )
        with pytest.raises(RuntimeError, match="PARTIALLY committed"):
            p.incremental(new_docs, batch_id="b2")
        # repair: roll the touched tables back, then retry cleanly
        for t, sid in pre.items():
            p.catalog.rollback(t, sid)
        out = p.incremental(new_docs, batch_id="b2")
        assert "skipped" not in out
        assert p.catalog.current_snapshot("documents").lineage[
            "batch_id"
        ] == "b2"

    def test_rollback_restores_previous_snapshot(self, spark, tmp_path):
        from chameleon_entity_linking_spark.sources.catalog import (
            ParquetCatalog,
        )

        cat = ParquetCatalog(str(tmp_path / "wh2"))
        cat.write("t", spark.range(10))
        cat.write("t", spark.range(4), mode="append")
        assert cat.read(spark, "t").count() == 14
        assert cat.read_written(spark, "t", 1).count() == 4  # the delta
        snap = cat.rollback("t", 0)
        assert snap.snapshot_id == 0
        assert cat.read(spark, "t").count() == 10
        with pytest.raises(ValueError):
            cat.rollback("t", 5)


class TestPipelineDocumentsInput:
    """Pipeline.run(documents=...) resolves a corpus synth did not
    produce, and the Pipeline.incremental docstring's equivalence
    claim holds on it."""

    def _pipe(self, spark, wh, **kw):
        from chameleon_entity_linking_spark.plans.pipeline import Pipeline

        return Pipeline(
            spark, wh, block_cfg=BLOCK_CFG, score_cfg=SCORE_CFG, **kw
        )

    def test_run_then_incremental_equals_run_over_union(self, spark, tmp_path):
        inc = self._pipe(spark, str(tmp_path / "inc"))
        inc.run(evaluate=False, documents=_docs(spark, BATCH1))
        inc.incremental(_docs(spark, BATCH2))
        full = self._pipe(spark, str(tmp_path / "full"))
        res = full.run(evaluate=False, documents=_docs(spark, BATCH1 + BATCH2))
        assert res["n_docs"] == len(BATCH1) + len(BATCH2)

        def rows(p):
            return sorted(map(tuple, p.catalog.read(spark, "clusters").collect()))

        assert rows(inc) == rows(full)

    def test_given_documents_not_scored_against_synth_labels(
        self, spark, tmp_path
    ):
        from chameleon_entity_linking_spark.sources.synth import SynthConfig

        p = self._pipe(
            spark, str(tmp_path / "wh"), synth_cfg=SynthConfig(n_entities=30, seed=3)
        )
        assert "metrics" in p.run()
        out = p.run(documents=_docs(spark, BATCH1))
        assert "metrics" not in out
        assert out["n_docs"] == len(BATCH1)


class TestIncrementalCommitOrder:
    """Pipeline.incremental commits the delta's edges before the
    cluster merge: the merge reads the committed rows, so the delta's
    block + score plan runs once, and a merge failure leaves four
    appends committed and ``clusters`` untouched."""

    APPENDS = ("documents", "doc_norm", "blocking_keys", "edges")

    @staticmethod
    def _committed(spark, wh):
        from chameleon_entity_linking_spark.plans.pipeline import Pipeline

        p = Pipeline(spark, wh, block_cfg=BLOCK_CFG, score_cfg=SCORE_CFG)
        p.run(evaluate=False, documents=_docs(spark, BATCH1))
        return p

    @staticmethod
    def _clusters(spark, p):
        return {
            r["doc_id"]: r["cluster_id"]
            for r in p.catalog.read(spark, "clusters").collect()
        }

    def test_merge_reads_committed_edges_only(
        self, spark, tmp_path, monkeypatch
    ):
        from chameleon_entity_linking_spark.plans import pipeline as pl

        p = self._committed(spark, str(tmp_path / "wh"))
        seen = []
        real = pl.merge_clusters

        def spy(assignments, new_edges, all_docs):
            seen.append(new_edges)
            return real(assignments, new_edges, all_docs)

        monkeypatch.setattr(pl, "merge_clusters", spy)
        res = p.incremental(_docs(spark, BATCH2))
        assert res["n_new_edges"] > 0
        (new_edges,) = seen
        snap = p.catalog.current_snapshot("edges")
        qe = new_edges._jdf.queryExecution()
        leaves = qe.optimizedPlan().collectLeaves()
        assert leaves.size() > 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            assert leaf.getClass().getSimpleName() == "LogicalRelation"
            assert leaf.relation().fileFormat().toString() == "Parquet"
            roots = leaf.relation().location().rootPaths()
            assert [roots.apply(j).toString() for j in range(roots.size())] == [
                "file:" + str(tmp_path / "wh" / "edges" / f"snap-{snap.snapshot_id}")
            ]
        for plan in (qe.optimizedPlan(), qe.executedPlan()):
            assert "ArrowEvalPython" not in plan.toString()

    def test_merge_failure_leaves_four_appends(
        self, spark, tmp_path, monkeypatch
    ):
        from chameleon_entity_linking_spark.plans import pipeline as pl

        p = self._committed(spark, str(tmp_path / "wh"))
        pre = {
            t: p.catalog.current_snapshot(t).snapshot_id
            for t in self.APPENDS + ("clusters",)
        }
        real = pl.merge_clusters
        calls = []

        def fail_once(*args):
            calls.append(1)
            if len(calls) == 1:
                raise OSError("injected merge failure")
            return real(*args)

        monkeypatch.setattr(pl, "merge_clusters", fail_once)
        spark.catalog.clearCache()
        with pytest.raises(OSError, match="injected"):
            p.incremental(_docs(spark, BATCH2), batch_id="b1")
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert p.catalog.current_snapshot("clusters").snapshot_id == pre["clusters"]
        with pytest.raises(RuntimeError, match="PARTIALLY committed") as err:
            p.incremental(_docs(spark, BATCH2), batch_id="b1")
        assert f"tables {sorted(self.APPENDS)}" in str(err.value)
        for t in self.APPENDS:
            p.catalog.rollback(t, pre[t])
        p.incremental(_docs(spark, BATCH2), batch_id="b1")

        clean = self._committed(spark, str(tmp_path / "clean"))
        clean.incremental(_docs(spark, BATCH2), batch_id="b1")
        assert self._clusters(spark, p) == self._clusters(spark, clean)

    def test_delta_without_edges(self, spark, tmp_path):
        p = self._committed(spark, str(tmp_path / "wh"))
        before = self._clusters(spark, p)
        res = p.incremental(
            _docs(spark, [("d1", "nothing like anything else", "")])
        )
        assert res["n_new_edges"] == 0
        after = self._clusters(spark, p)
        assert after == {**before, "d1": "d1"}
