"""Blocking: pair completeness, canonicalization, salting exactness
(SURVEY.md §5.1 "salting (pair generated exactly once)")."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.operators.block import (
    BlockConfig,
    blocking_keys,
    candidate_pairs,
)
from chameleon_entity_linking_spark.operators.normalize import normalize
from chameleon_entity_linking_spark.operators.score import (
    ScoreConfig,
    sketch_prefilter,
)


_DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _family_keys(spark, fam_values):
    """{(fam, xxhash64(fam, value))} — the int64 blocking keys of the
    given (family, value) pairs, computed by the JVM hash itself."""
    row = spark.range(1).select(
        *[F.xxhash64(F.lit(f), F.lit(v)) for f, v in fam_values]
    ).first()
    return {(f, k) for (f, _v), k in zip(fam_values, row)}


def _docs(spark, rows):
    """rows: list of (doc_id, text, media_refs)."""
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
    return spark.createDataFrame(data, _DOCS_SCHEMA)


def _sketch_corpus(spark):
    """Shared-word docs (20-member token keys, salted at
    hot_key_cap=4), unrelated docs that share only "common" with them
    (the hamming and dot cuts have work to do), and two text-free
    media-only docs on one media key."""
    words = "zebra penguin iceberg harbor violin quartz meadow lantern"
    vocab = words.split()
    return _docs(
        spark,
        [(f"d{i:02d}", f"entity number {i % 7} common words", []) for i in range(20)]
        + [
            (f"u{i}", f"common {vocab[i]} {vocab[(i + 3) % 8]}", [])
            for i in range(8)
        ]
        + [("m1", "", ["mX"]), ("m2", "", ["mX"])],
    )


# on _sketch_corpus the int8-dot survivors reach hamming 13, so a cut
# at 10 drops pairs the dot would keep: the hamming phase does work of
# its own (the default 21 cuts nothing the dot does not)
_HAMMING_CUT = 10


def _pairs_cos(pairs):
    return {(r.doc_a, r.doc_b): r.s_cos for r in pairs.collect()}


@contextmanager
def _hinted_broadcasts_only(spark):
    """Disable size-based broadcasts, so a BroadcastHashJoin in a plan
    built inside comes from an explicit hint. Cached sub-plans are
    planned at persist() time, so build the DataFrames inside."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _broadcast_build_sides(df):
    """Column-name sets of every BroadcastHashJoin build side in
    ``df``'s executed plan, cached sub-plans included. Call after an
    action on ``df``, so adaptive plans are final."""
    builds = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "InMemoryTableScan":
            stack.append(node.relation().cachedPlan())
            continue
        if name == "BroadcastHashJoin":
            right = node.buildSide().toString() == "BuildRight"
            out = (node.right() if right else node.left()).output()
            builds.append({out.apply(i).name() for i in range(out.size())})
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return builds


def _assert_broadcast(builds, *cols):
    assert any(set(cols) <= b for b in builds), (cols, builds)


def _assert_sketch_joins_broadcast(builds):
    # the sign sketch onto the key table, and each side's emb_q table
    # onto the hamming survivors
    for cols in (("doc_id", "mo"), ("doc_a", "q_a"), ("doc_b", "q_b")):
        _assert_broadcast(builds, *cols)


def _assert_fused_equals_plain(dn, cfg, scfg):
    """Returns the fused pairs, collected."""
    plain, metrics = candidate_pairs(dn, cfg)
    fused, _ = candidate_pairs(dn, cfg, score_cfg=scfg)
    assert metrics.where(F.col("class") == "salted").count() > 0
    expected = _pairs_cos(sketch_prefilter(plain, dn, scfg))
    got = _pairs_cos(fused)
    assert got == expected and len(got) > 0
    # the prefilter cut something
    assert len(got) < plain.count()
    # media-only docs pass the cut without any lexical signal
    assert ("m1", "m2") in got
    return fused


class TestBlockingKeys:
    def test_key_families(self, spark):
        docs = _docs(spark, [("d1", "Acme Corp", ["mAAA"])])
        rows = blocking_keys(normalize(docs), BlockConfig()).collect()
        got = {(r.fam, r.key) for r in rows}
        want = _family_keys(
            spark, [("t", "acme"), ("t", "corp"), ("m", "mAAA")]
        )
        assert want <= got
        assert sum(r.fam == "l" for r in rows) == 16

    def test_hashed_keys_are_int64_and_family_disjoint(self, spark):
        # keys are int64 — compact shuffle rows;
        # the same doc must still emit all three families
        docs = _docs(spark, [("d1", "Acme Corp", ["mAAA"])])
        df = blocking_keys(normalize(docs), BlockConfig())
        assert dict(df.dtypes)["key"] == "bigint"
        # 2 token keys + 16 band keys + 1 media key, all distinct
        assert df.count() == 19
        assert df.select("key").distinct().count() == 19

    def test_no_key_family_raises(self, spark):
        docs = _docs(spark, [("d1", "x", [])])
        cfg = BlockConfig(
            use_token_keys=False, use_lsh_keys=False, use_media_keys=False
        )
        with pytest.raises(ValueError, match="key family"):
            blocking_keys(normalize(docs), cfg)

    def test_media_only_doc_still_keyed(self, spark):
        docs = spark.createDataFrame(
            [("d1", [{"kind": "image", "text": "", "media_ref": "mX", "offset": 0}])],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        got = {
            (r.fam, r.key)
            for r in blocking_keys(normalize(docs), BlockConfig()).collect()
        }
        assert _family_keys(spark, [("m", "mX")]) <= got


class TestCandidatePairs:
    def test_shared_token_pairs(self, spark):
        docs = _docs(
            spark,
            [
                ("d1", "acme corp", []),
                ("d2", "acme inc", []),
                ("d3", "zebra ltd", []),
            ],
        )
        pairs, _ = candidate_pairs(normalize(docs), BlockConfig(use_lsh_keys=False))
        got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        assert ("d1", "d2") in got
        assert not any("d3" in p for p in got)

    def test_canonical_and_unique(self, spark):
        docs = _docs(
            spark,
            [(f"d{i}", "same exact name text", ["mS"]) for i in range(6)],
        )
        pairs, _ = candidate_pairs(normalize(docs), BlockConfig())
        rows = pairs.collect()
        assert all(r.doc_a < r.doc_b for r in rows)
        assert len(rows) == len({(r.doc_a, r.doc_b) for r in rows}) == 15

    def test_salting_generates_every_pair_exactly_once(self, spark):
        # one hot key with 40 members, cap 5 -> salted path (s=8 groups)
        n = 40
        docs = _docs(spark, [(f"d{i:02d}", "hotword", []) for i in range(n)])
        cfg = BlockConfig(use_lsh_keys=False, hot_key_cap=5, max_salts=16)
        pairs, metrics = candidate_pairs(normalize(docs), cfg)
        rows = pairs.collect()
        expected = {
            (f"d{i:02d}", f"d{j:02d}")
            for i in range(n)
            for j in range(i + 1, n)
        }
        assert {(r.doc_a, r.doc_b) for r in rows} == expected
        assert len(rows) == len(expected)  # exactly once
        classes = {r["class"]: r.n_docs for r in metrics.collect()}
        assert classes.get("salted") == n

    def test_ultra_hot_key_dropped_and_counted(self, spark):
        docs = _docs(spark, [(f"d{i:02d}", "stopword", []) for i in range(30)])
        cfg = BlockConfig(use_lsh_keys=False, hot_key_cap=2, max_salts=2)
        pairs, metrics = candidate_pairs(normalize(docs), cfg)
        assert pairs.count() == 0
        dropped = metrics.where(F.col("class") == "dropped").collect()
        assert len(dropped) == 1 and dropped[0].n_docs == 30

    def test_singleton_keys_generate_nothing(self, spark):
        docs = _docs(
            spark, [("d1", "unique alpha", []), ("d2", "unique beta", [])]
        )
        pairs, _ = candidate_pairs(
            normalize(docs), BlockConfig(use_lsh_keys=False)
        )
        got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        assert got == {("d1", "d2")}  # only via shared 'unique' token

    def test_fused_sketch_prefilter_equivalence(self, spark):
        # fusing the sketch cut into pair generation (the sign sketch
        # riding the key table) must equal plain pair generation
        # followed by the standalone prefilter — same pairs, same s_cos
        with _hinted_broadcasts_only(spark):
            dn = normalize(_sketch_corpus(spark))
            cfg = BlockConfig(hot_key_cap=4)
            fused = _assert_fused_equals_plain(
                dn, cfg, ScoreConfig(prefilter_max_hamming=_HAMMING_CUT)
            )
            _assert_sketch_joins_broadcast(_broadcast_build_sides(fused))

    def test_fused_sketch_prefilter_equivalence_without_hamming(self, spark):
        # prefilter_max_hamming=None: the sketch still carries the
        # media-only flag; only the hamming term is skipped
        dn = normalize(_sketch_corpus(spark))
        cfg = BlockConfig(hot_key_cap=4)
        _assert_fused_equals_plain(
            dn, cfg, ScoreConfig(prefilter_max_hamming=None)
        )

    @pytest.mark.parametrize("max_hamming", [_HAMMING_CUT, None])
    def test_fused_incremental_sketch_prefilter_equivalence(
        self, spark, max_hamming
    ):
        # the delta path: the fused incremental pairs must equal the
        # plain incremental pairs followed by the standalone prefilter
        from chameleon_entity_linking_spark.operators.incremental_er import (
            incremental_candidate_pairs,
        )

        rows = _sketch_corpus(spark).collect()
        with _hinted_broadcasts_only(spark):
            base = normalize(spark.createDataFrame(rows[::2], _DOCS_SCHEMA))
            new = normalize(spark.createDataFrame(rows[1::2], _DOCS_SCHEMA))
            dn_all = base.unionByName(new)
            cfg = BlockConfig(hot_key_cap=4)
            scfg = ScoreConfig(prefilter_max_hamming=max_hamming)
            committed_keys = blocking_keys(base, cfg)
            plain = incremental_candidate_pairs(
                new, committed_keys, cfg, doc_norm_all=dn_all
            )
            fused = incremental_candidate_pairs(
                new, committed_keys, cfg, score_cfg=scfg, doc_norm_all=dn_all
            )
            expected = _pairs_cos(sketch_prefilter(plain, dn_all, scfg))
            got = _pairs_cos(fused)
            assert got == expected and len(got) > 0
            assert ("m1", "m2") in got
            # the new-endpoint membership probes broadcast too
            builds = _broadcast_build_sides(fused)
            _assert_sketch_joins_broadcast(builds)
            _assert_broadcast(builds, "doc_a", "new_a")
            _assert_broadcast(builds, "doc_b", "new_b")

    def test_pair_columns_pinned(self, spark):
        # one pair schema per mode, whatever rides the expansion:
        # (doc_a, doc_b) unfused, plus s_cos when the prefilter fuses
        from chameleon_entity_linking_spark.operators.incremental_er import (
            incremental_candidate_pairs,
        )

        rows = _sketch_corpus(spark).collect()
        base = normalize(spark.createDataFrame(rows[::2], _DOCS_SCHEMA))
        new = normalize(spark.createDataFrame(rows[1::2], _DOCS_SCHEMA))
        dn_all = base.unionByName(new)
        cfg = BlockConfig()
        committed_keys = blocking_keys(base, cfg)
        for scfg, want in [
            (None, ["doc_a", "doc_b"]),
            (ScoreConfig(prefilter_min_cheap=None), ["doc_a", "doc_b"]),
            (ScoreConfig(), ["doc_a", "doc_b", "s_cos"]),
        ]:
            pairs, _ = candidate_pairs(dn_all, cfg, score_cfg=scfg)
            assert pairs.columns == want, scfg
            inc = incremental_candidate_pairs(
                new, committed_keys, cfg, dn_all, score_cfg=scfg
            )
            assert inc.columns == want, scfg

    def test_md5_tokens_lsh_family_matches_kernel(self, spark):
        from chameleon_entity_linking_spark.functions.minhash import minhash_md5

        docs = _docs(spark, [("d1", "alpha beta gamma", [])])
        cfg = BlockConfig(
            use_token_keys=False,
            use_media_keys=False,
            lsh_family="md5_tokens",
            lsh_hashes=8,
            lsh_bands=4,
        )
        rows = blocking_keys(normalize(docs), cfg).collect()
        mh = minhash_md5(["alpha", "beta", "gamma"], n_hashes=8)
        want = _family_keys(
            spark, [("l", f"b{i}:{mh[2 * i]}{mh[2 * i + 1]}") for i in range(4)]
        )
        assert {(r.fam, r.key) for r in rows} == want
        assert len(rows) == 4

    def test_lsh_blocks_near_duplicates_without_shared_name_tokens(self, spark):
        text_a = "the quick brown fox jumps over the lazy dog tonight"
        text_b = "the quick brown fox jumps over the lazy dog tonite"
        docs = spark.createDataFrame(
            [
                ("d1", [
                    {"kind": "text", "text": "nameone", "media_ref": "", "offset": 0},
                    {"kind": "text", "text": text_a, "media_ref": "", "offset": 1},
                ]),
                ("d2", [
                    {"kind": "text", "text": "nametwo", "media_ref": "", "offset": 0},
                    {"kind": "text", "text": text_b, "media_ref": "", "offset": 1},
                ]),
            ],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        )
        cfg = BlockConfig(use_token_keys=False, use_media_keys=False)
        pairs, _ = candidate_pairs(normalize(docs), cfg)
        assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == {("d1", "d2")}


class TestFamilyCeilingBelowCap:
    def test_dropped_class_matches_pair_stream(self, spark):
        """A family ceiling BELOW hot_key_cap is legal (drop-above-N,
        never salt); keys between the ceiling and the cap must be
        CLASSIFIED dropped — the committed metrics have to match what
        the expansion actually emitted."""
        from chameleon_entity_linking_spark.operators.block import (
            expand_key_pairs,
        )

        keys = spark.createDataFrame(
            [(f"d{i}", 100, "l") for i in range(6)]  # 6-member 'l' key
            + [(f"d{i}", 200, "t") for i in range(3)],  # 3-member 't'
            "doc_id string, key long, fam string",
        )
        cfg = BlockConfig(
            hot_key_cap=8, max_key_docs=16, family_ceilings={"l": 4}
        )
        sketch = spark.createDataFrame(
            [(f"d{i}", 0, False) for i in range(6)],
            "doc_id string, sig long, mo boolean",
        )
        pairs, metrics = expand_key_pairs(keys, cfg, sketch=sketch)
        by_key = {r.key: r["class"] for r in metrics.collect()}
        assert by_key[100] == "dropped"  # 6 > ceiling 4, though <= cap
        assert by_key[200] == "normal"
        got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        assert got == {("d0", "d1"), ("d0", "d2"), ("d1", "d2")}
