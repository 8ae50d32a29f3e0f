"""End-to-end pipeline: golden F1 gate, span invariant, resume
(SURVEY.md §5.3-5.5)."""

import pytest
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.operators.normalize import normalize
from chameleon_entity_linking_spark.plans.pipeline import Pipeline
from chameleon_entity_linking_spark.sources.synth import SynthConfig


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    p = Pipeline(spark, wh, synth_cfg=SynthConfig(n_entities=150, seed=42))
    p.result = p.run()
    return p


class TestEndToEnd:
    def test_f1_gate(self, pipeline):
        m = pipeline.result["metrics"]
        assert m["f1"] >= 0.99, m

    def test_every_doc_assigned_exactly_once(self, spark, pipeline):
        docs = pipeline.catalog.read(spark, "documents")
        clusters = pipeline.catalog.read(spark, "clusters")
        assert clusters.count() == docs.count()
        assert clusters.select("doc_id").distinct().count() == docs.count()

    def test_clusters_match_expected(self, spark, pipeline):
        # cluster-id choice is min doc_id in both truth and prediction,
        # so at F1≈1 the assignment should agree almost everywhere
        expected = pipeline.catalog.read(spark, "expected_clusters")
        got = pipeline.catalog.read(spark, "clusters")
        agree = expected.join(got, ["doc_id", "cluster_id"]).count()
        assert agree / expected.count() >= 0.98

    def test_span_sequence_invariant(self, spark, pipeline):
        """(kind, text, media_ref, order) survives normalize byte-for-byte
        (input_hint per-row invariant)."""
        docs = pipeline.catalog.read(spark, "documents")
        norm = pipeline.catalog.read(spark, "doc_norm")
        a = docs.select("doc_id", F.to_json("spans").alias("j"))
        b = norm.select("doc_id", F.to_json("spans").alias("j"))
        mismatched = a.join(b, "doc_id").where(a["j"] != b["j"])
        assert mismatched.count() == 0
        assert norm.count() == docs.count()

    def test_pair_metrics_committed(self, spark, pipeline):
        km = pipeline.catalog.read(spark, "block_key_metrics")
        classes = {r["class"] for r in km.collect()}
        assert "normal" in classes

    def test_lineage_recorded(self, pipeline):
        snap = pipeline.catalog.current_snapshot("clusters")
        assert snap.lineage["stage"] == "cluster"
        assert "fingerprint" in snap.lineage


class TestResume:
    def test_rerun_is_noop_and_identical(self, spark, pipeline):
        before = {
            t: pipeline.catalog.current_snapshot(t).snapshot_id
            for t in ("documents", "doc_norm", "pairs", "scores", "clusters")
        }
        clusters_before = sorted(
            map(tuple, pipeline.catalog.read(spark, "clusters").collect())
        )
        res2 = pipeline.run()
        after = {
            t: pipeline.catalog.current_snapshot(t).snapshot_id
            for t in before
        }
        assert before == after  # nothing recomputed, nothing recommitted
        assert res2["timings"]["block"] == 0.0
        clusters_after = sorted(
            map(tuple, pipeline.catalog.read(spark, "clusters").collect())
        )
        assert clusters_before == clusters_after

    def test_resume_after_partial_failure(self, spark, tmp_path):
        """Kill after stage k (simulated by dropping downstream tables):
        rerun recomputes only what is missing, final state identical."""
        wh = str(tmp_path / "wh")
        cfg = SynthConfig(n_entities=60, seed=3)
        p1 = Pipeline(spark, wh, synth_cfg=cfg)
        r1 = p1.run()
        golden = sorted(
            map(tuple, p1.catalog.read(spark, "clusters").collect())
        )
        # simulate a crash between score and cluster
        p1.catalog.drop("clusters")
        p1.catalog.drop("edges")
        p2 = Pipeline(spark, wh, synth_cfg=cfg)
        r2 = p2.run()
        assert r2["timings"]["normalize"] == 0.0  # resumed, not recomputed
        assert r2["timings"]["score"] == 0.0
        assert r2["timings"]["cluster"] > 0.0
        got = sorted(map(tuple, p2.catalog.read(spark, "clusters").collect()))
        assert got == golden
        assert r2["metrics"]["f1"] == pytest.approx(r1["metrics"]["f1"])

    def test_config_change_invalidates_downstream(self, spark, tmp_path):
        from chameleon_entity_linking_spark.operators.score import ScoreConfig

        wh = str(tmp_path / "wh")
        cfg = SynthConfig(n_entities=40, seed=5)
        p1 = Pipeline(spark, wh, synth_cfg=cfg)
        p1.run(evaluate=False)
        p2 = Pipeline(
            spark, wh, synth_cfg=cfg, score_cfg=ScoreConfig(threshold=0.9)
        )
        p2.run(evaluate=False)
        assert p2.timings["normalize"] == 0.0  # upstream reused
        assert p2.timings["block"] == 0.0
        assert p2.timings["score"] > 0.0  # downstream recomputed


class TestNormalizeUnit:
    def test_tokens_and_media(self, spark):
        docs = spark.createDataFrame(
            [
                (
                    "d1",
                    [
                        {"kind": "text", "text": "Hello, WORLD! 42", "media_ref": "", "offset": 0},
                        {"kind": "image", "text": "", "media_ref": "mZZ", "offset": 1},
                        {"kind": "text", "text": "world again", "media_ref": "", "offset": 2},
                    ],
                )
            ],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        row = normalize(docs).collect()[0]
        assert row.name_text == "hello, world! 42"
        assert row.tokens == ["42", "again", "hello", "world"]
        assert row.media_refs == ["mZZ"]
        assert len(row.embedding) == 64
        assert abs(sum(v * v for v in row.embedding) - 1.0) < 1e-5

    def test_empty_and_media_only_docs(self, spark):
        docs = spark.createDataFrame(
            [
                ("d1", []),
                ("d2", [{"kind": "video", "text": "", "media_ref": "mV", "offset": 0}]),
            ],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        rows = {r.doc_id: r for r in normalize(docs).collect()}
        assert rows["d1"].name_text == "" and rows["d1"].tokens == []
        assert rows["d2"].media_refs == ["mV"]
        assert sum(v * v for v in rows["d1"].embedding) == 0.0


class TestPrefilterRetuneInvalidatesPairs:
    def test_hamming_retune_recomputes_block_stage(
        self, spark, tmp_path
    ):
        """Every fused-prefilter knob is part of the pairs-table
        identity: retuning prefilter_max_hamming must invalidate the
        committed pairs snapshot, not resume-skip onto stale pairs."""
        from chameleon_entity_linking_spark.operators.score import (
            ScoreConfig,
        )

        wh = str(tmp_path / "wh")
        p1 = Pipeline(
            spark,
            wh,
            synth_cfg=SynthConfig(n_entities=40, seed=3),
            score_cfg=ScoreConfig(prefilter_max_hamming=21),
        )
        p1.run(evaluate=False)
        sid_before = p1.catalog.current_snapshot("pairs").snapshot_id
        p2 = Pipeline(
            spark,
            wh,
            synth_cfg=SynthConfig(n_entities=40, seed=3),
            score_cfg=ScoreConfig(prefilter_max_hamming=None),
        )
        p2.run(evaluate=False)
        assert (
            p2.catalog.current_snapshot("pairs").snapshot_id != sid_before
        ), "hamming retune must rebuild the pairs snapshot"


class TestKeyFingerprint:
    def test_cap_retune_reuses_keys_lsh_retune_rebuilds_them(
        self, spark, tmp_path
    ):
        """The committed key table's identity is
        BlockConfig.key_fingerprint(): an expansion knob (hot_key_cap)
        resumes from the committed keys and rebuilds only the pairs; a
        key-shaping knob (lsh_bands) rebuilds the keys."""
        from chameleon_entity_linking_spark.operators.block import BlockConfig

        wh = str(tmp_path / "wh")
        cfg = SynthConfig(n_entities=40, seed=7)
        Pipeline(spark, wh, synth_cfg=cfg).run(evaluate=False)
        p2 = Pipeline(
            spark, wh, synth_cfg=cfg, block_cfg=BlockConfig(hot_key_cap=32)
        )
        p2.run(evaluate=False)
        assert p2.timings["block_keys"] == 0.0  # keys resumed
        assert p2.timings["block"] > 0.0  # pairs recomputed
        p3 = Pipeline(
            spark, wh, synth_cfg=cfg, block_cfg=BlockConfig(lsh_bands=8)
        )
        p3.run(evaluate=False)
        assert p3.timings["block_keys"] > 0.0  # keys rebuilt


class TestCommitFailureFreesCaches:
    """A failed commit must not leave the stage's caches pinned in the
    session: the pairs stage and the incremental step unpersist in a
    ``finally``."""

    @staticmethod
    def _fail_on(monkeypatch, table, mode):
        from chameleon_entity_linking_spark.sources.catalog import ParquetCatalog

        real = ParquetCatalog.write

        def write(self, name, df, **kw):
            if name == table and kw.get("mode", "overwrite") == mode:
                raise OSError(f"injected {mode} failure on {table}")
            return real(self, name, df, **kw)

        monkeypatch.setattr(ParquetCatalog, "write", write)

    @staticmethod
    def _cache_empty(spark):
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_pairs_commit_failure(self, spark, tmp_path, monkeypatch):
        spark.catalog.clearCache()
        self._fail_on(monkeypatch, "pairs", "overwrite")
        p = Pipeline(spark, str(tmp_path / "wh"), synth_cfg=SynthConfig(n_entities=30, seed=5))
        with pytest.raises(OSError, match="injected"):
            p.run(evaluate=False)
        assert self._cache_empty(spark)

    def test_incremental_edges_append_failure(self, spark, tmp_path, monkeypatch):
        p = Pipeline(spark, str(tmp_path / "wh"), synth_cfg=SynthConfig(n_entities=30, seed=5))
        p.run(evaluate=False)
        new_docs = p.catalog.read(spark, "documents").limit(5).withColumn(
            "doc_id", F.concat("doc_id", F.lit("_new"))
        )
        spark.catalog.clearCache()
        self._fail_on(monkeypatch, "edges", "append")
        with pytest.raises(OSError, match="injected"):
            p.incremental(new_docs)
        assert self._cache_empty(spark)
