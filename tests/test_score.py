"""Scoring-stage unit tests: component scores + weighted mix."""

import pytest
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.functions.strsim import levenshtein
from chameleon_entity_linking_spark.operators.normalize import normalize
from chameleon_entity_linking_spark.operators.score import (
    MAX_NAME_CHARS,
    ScoreConfig,
    edges_above_threshold,
    score_pairs,
)


def _norm(spark, rows):
    data = [
        (
            doc_id,
            [{"kind": "text", "text": text, "media_ref": "", "offset": 0}]
            + [
                {"kind": "image", "text": "", "media_ref": m, "offset": i + 1}
                for i, m in enumerate(media)
            ],
        )
        for doc_id, text, media in rows
    ]
    return normalize(
        spark.createDataFrame(
            data,
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
    )


class TestScorePairs:
    def test_identical_docs_score_one(self, spark):
        norm = _norm(
            spark,
            [("d1", "acme corp builds rockets", ["mA"]),
             ("d2", "acme corp builds rockets", ["mA"])],
        )
        pairs = spark.createDataFrame(
            [("d1", "d2")], "doc_a string, doc_b string"
        )
        row = score_pairs(pairs, norm, ScoreConfig()).collect()[0]
        assert row.s_jw == pytest.approx(1.0)
        assert row.s_lev == pytest.approx(1.0)
        assert row.s_tok == pytest.approx(1.0)
        assert row.s_cos == pytest.approx(1.0, abs=0.02)  # int8 cosine
        assert row.s_media == pytest.approx(1.0)
        assert row.score == pytest.approx(1.0, abs=0.02)

    def test_typo_pair_beats_unrelated_pair(self, spark):
        norm = _norm(
            spark,
            [
                ("d1", "acme corp builds rockets", []),
                ("d2", "acme korp builds rockets", []),
                ("d3", "zebra penguin iceberg shop", []),
            ],
        )
        pairs = spark.createDataFrame(
            [("d1", "d2"), ("d1", "d3")], "doc_a string, doc_b string"
        )
        rows = {
            (r.doc_a, r.doc_b): r.score
            for r in score_pairs(
                pairs, norm, ScoreConfig(cascade=False)
            ).collect()
        }
        assert rows[("d1", "d2")] > 0.8 > rows[("d1", "d3")]

    def test_media_mix_weighting(self, spark):
        """With media on either side, mix is 0.9*text + 0.1*media
        (the reference's mix, BiEncoder/test.py:120)."""
        norm = _norm(
            spark,
            [("d1", "same words here", ["mA"]), ("d2", "same words here", ["mB"])],
        )
        pairs = spark.createDataFrame(
            [("d1", "d2")], "doc_a string, doc_b string"
        )
        row = score_pairs(pairs, norm, ScoreConfig()).collect()[0]
        # text components ~1.0 (int8 cosine), media jaccard 0 -> ~0.9
        assert row.score == pytest.approx(0.9, abs=0.02)

    def test_no_media_uses_pure_text_score(self, spark):
        norm = _norm(
            spark, [("d1", "same words", []), ("d2", "same words", [])]
        )
        pairs = spark.createDataFrame(
            [("d1", "d2")], "doc_a string, doc_b string"
        )
        row = score_pairs(pairs, norm, ScoreConfig()).collect()[0]
        assert row.score == pytest.approx(1.0, abs=0.02)

    def test_threshold_filter(self, spark):
        norm = _norm(
            spark,
            [("d1", "alpha beta", []), ("d2", "alpha beta", []),
             ("d3", "totally different thing", [])],
        )
        pairs = spark.createDataFrame(
            [("d1", "d2"), ("d1", "d3")], "doc_a string, doc_b string"
        )
        cfg = ScoreConfig()
        edges = edges_above_threshold(score_pairs(pairs, norm, cfg), cfg)
        got = [(r.doc_a, r.doc_b) for r in edges.collect()]
        assert got == [("d1", "d2")]

    def test_media_only_docs_match_on_media(self, spark):
        """Two docs with no text but identical media must score as a
        match (pure media similarity), and survive the cascade even at
        a high threshold."""
        data = [
            ("m1", [{"kind": "image", "text": "", "media_ref": "mX", "offset": 0}]),
            ("m2", [{"kind": "image", "text": "", "media_ref": "mX", "offset": 0}]),
        ]
        from chameleon_entity_linking_spark.operators.normalize import normalize as _n

        norm = _n(
            spark.createDataFrame(
                data,
                "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
            )
        )
        pairs = spark.createDataFrame([("m1", "m2")], "doc_a string, doc_b string")
        cfg = ScoreConfig(threshold=0.9)
        rows = score_pairs(pairs, norm, cfg).collect()
        assert len(rows) == 1 and rows[0].score == pytest.approx(1.0)

    def test_cascade_is_lossless_for_edges(self, spark):
        """Cascade pruning must not change the thresholded edge set."""
        texts = [
            ("d1", "acme corp rockets", ["mA"]),
            ("d2", "acme korp rockets", ["mA"]),
            ("d3", "zebra penguin iceberg", []),
            ("d4", "acme corp rockets", []),
            ("d5", "completely other words", ["mB"]),
            ("d6", "zebra penguim iceberg", []),
        ]
        norm = _norm(spark, texts)
        ids = [t[0] for t in texts]
        pairs = spark.createDataFrame(
            [(a, b) for a in ids for b in ids if a < b],
            "doc_a string, doc_b string",
        )
        on = score_pairs(pairs, norm, ScoreConfig(cascade=True))
        off = score_pairs(pairs, norm, ScoreConfig(cascade=False))
        cfg = ScoreConfig()
        e_on = sorted(
            map(tuple, edges_above_threshold(on, cfg).collect())
        )
        e_off = sorted(
            map(tuple, edges_above_threshold(off, cfg).collect())
        )
        assert e_on == e_off and len(e_on) > 0
        # and the cascade genuinely pruned something
        assert on.count() < off.count()

    def test_score_plan_has_no_python_row_udf(self, spark):
        """Guardrail: scoring must stay Arrow-batched (BatchEvalPython
        = row-at-a-time Python, the slow path)."""
        norm = _norm(spark, [("d1", "a b", []), ("d2", "a b", [])])
        pairs = spark.createDataFrame(
            [("d1", "d2")], "doc_a string, doc_b string"
        )
        plan = (
            score_pairs(pairs, norm, ScoreConfig())
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" in plan

    def test_eval_once_expressions_not_duplicated_in_plan(self, spark):
        """Guardrail for the _eval_once trick (ADVICE r2): it relies on
        Catalyst refusing to substitute/duplicate non-deterministic
        projections. If a future optimizer simplifies
        ``shuffle(array(x))[0]`` away, the jaccard/dot expressions get
        re-inlined into every consumer (measured: 20 copies, ~200us
        per pair) — this must fail loudly, not regress silently.
        """
        norm = _norm(
            spark, [("d1", "a b", ["m1"]), ("d2", "a b", ["m1"])]
        )
        pairs = spark.createDataFrame(
            [("d1", "d2")], "doc_a string, doc_b string"
        )
        plan = (
            score_pairs(pairs, norm, ScoreConfig())
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # one array_intersect per jaccard (tokens + media), computed
        # exactly once each despite multiple consumers downstream.
        # Upper-bound assertions (not ==): the guarded count is what
        # re-inlining would blow past (dozens of copies); an exact pin
        # would fail on unrelated optimizer/operator-naming changes
        # across Spark minor versions.
        assert 1 <= plan.count("array_intersect") <= 2, plan
        # the int8 dot (zip_with) computed once per PAIR — in the
        # fused prefilter — and reused by the exact phase. Up to two
        # more zip_with are legitimate per-DOC work: the emb_sig sign
        # sketch recomputes in each sketch-side projection when
        # doc_norm is not materialized (in the pipeline it reads from
        # the committed doc_norm parquet). Re-inlining the dot into
        # every consumer would put it at ~8+.
        assert plan.count("zip_with") <= 3, plan
        # s_lev feeds text_score, score and the edges filter; without
        # its _eval_once guard Catalyst inlines the DP into each of them
        cfg = ScoreConfig()
        edges_plan = (
            edges_above_threshold(score_pairs(pairs, norm, cfg), cfg)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert edges_plan.count("levenshtein(") == 1, edges_plan

    def test_s_lev_is_levenshtein_ratio_of_truncated_names(self, spark):
        """s_lev is ``1 - levenshtein(a, b) / max(len, 1)`` of the names
        cut to MAX_NAME_CHARS, bit for bit: two media-only docs (both
        names empty -> 1.0), names longer than the cap (compared after
        truncation) and an ordinary typo."""
        long_a = "x" * (MAX_NAME_CHARS - 5) + "abcde" + " tail of the first name"
        long_b = "x" * (MAX_NAME_CHARS - 5) + "abXde" + " and another tail"
        norm = _norm(
            spark,
            [
                ("m1", "", ["mX"]),
                ("m2", "", ["mX"]),
                ("l1", long_a, []),
                ("l2", long_b, []),
                ("t1", "acme corp builds rockets", []),
                ("t2", "acme korp builds rockets", []),
            ],
        )
        pairs = spark.createDataFrame(
            [("m1", "m2"), ("l1", "l2"), ("t1", "t2")],
            "doc_a string, doc_b string",
        )
        got = {
            r.doc_a: r.s_lev
            for r in score_pairs(pairs, norm, ScoreConfig(cascade=False)).collect()
        }

        def ratio(a, b):
            a, b = a[:MAX_NAME_CHARS], b[:MAX_NAME_CHARS]
            return 1 - levenshtein(a, b) / max(len(a), len(b), 1)

        assert got["m1"] == 1.0
        assert got["l1"] == ratio(long_a, long_b) == 1 - 1 / MAX_NAME_CHARS
        assert got["t1"] == ratio(
            "acme corp builds rockets", "acme korp builds rockets"
        )


def _dot_q(a, b):
    """JVM-side int8 dot -> cosine estimate in [-1, 1]: the interpreted
    HOF fold the Arrow UDF replaced, kept as its parity reference."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(127.0 * 127.0)


class TestInt8DotUdf:
    def test_arrow_dot_matches_jvm_fold_bitwise(self, spark):
        """r6 optimization guard: the Arrow-batched int8 dot
        (_int8_dot_udf, one np.einsum per batch) must be BIT-identical
        to the JVM fold (_dot_q) — both are exact integer sums divided
        by the same double, so equality is ==, not isclose."""
        import random

        from chameleon_entity_linking_spark.operators.score import (
            _int8_dot_udf,
        )

        random.seed(7)
        for dim in (64, 16):
            rows = [
                (
                    [random.randint(-127, 127) for _ in range(dim)],
                    [random.randint(-127, 127) for _ in range(dim)],
                )
                for _ in range(500)
            ]
            df = spark.createDataFrame(
                rows, "a array<tinyint>, b array<tinyint>"
            )
            got = df.select(
                _dot_q(F.col("a"), F.col("b")).alias("jvm"),
                _int8_dot_udf()(F.col("a"), F.col("b")).alias("arrow"),
            ).collect()
            assert len(got) == 500
            assert all(r.jvm == r.arrow for r in got), dim
