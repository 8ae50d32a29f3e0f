"""Second long-band LSH family (BlockConfig.lsh2_bands).

The scale-recall route for documents whose every short-band bucket is
stopword-grade — see the sf0.1 recall study in block.py/__spark_entry__.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.functions.minhash import (
    band_hashes,
    minhash_fast_from_texts,
)
from chameleon_entity_linking_spark.operators.block import (
    BlockConfig,
    blocking_keys,
)


def _norm_stub(spark, rows):
    """Minimal doc_norm shape for blocking_keys (tokens drive LSH)."""
    return spark.createDataFrame(
        [(d, t.split()) for d, t in rows], "doc_id string, tokens array<string>"
    ).select(
        "doc_id",
        "tokens",
        F.array().cast("array<string>").alias("media_refs"),
        F.concat_ws(" ", "tokens").alias("name_text"),
    )


class TestLsh2Family:
    def test_lane_offset_separates_families(self):
        sigs = minhash_fast_from_texts(["alpha beta gamma delta"] * 3)
        f1 = band_hashes(sigs, 16, 4)
        f2 = band_hashes(sigs, 8, 8, lane_offset=16)
        # no accidental key collision between the families
        assert not set(f1[0].tolist()) & set(f2[0].tolist())
        # and the second family is deterministic
        assert np.array_equal(f2, band_hashes(sigs, 8, 8, lane_offset=16))

    def test_lsh2_adds_band_keys(self, spark):
        rows = [("d1", "alpha beta gamma delta epsilon")]
        base = BlockConfig(use_token_keys=False, use_media_keys=False)
        plus = BlockConfig(
            use_token_keys=False, use_media_keys=False, lsh2_bands=8
        )
        n_base = blocking_keys(_norm_stub(spark, rows), base).count()
        n_plus = blocking_keys(_norm_stub(spark, rows), plus).count()
        assert n_base == base.lsh_bands
        assert n_plus == base.lsh_bands + 8

    def test_long_bands_separate_common_profile_crowd(self, spark):
        """The design property: a near-exact duplicate pair whose
        4-row bands all collide with a large medium-similarity crowd
        still meets on an 8-row band, while the crowd scatters —
        long-band buckets are strictly more precise."""
        base = "t" + " t".join(str(i) for i in range(40))  # 40 tokens
        # crowd: high-but-not-near-exact overlap with `base`
        rows = [
            (f"c{i}", base.replace(f"t{i} ", f"x{i} y{i} ", 1))
            for i in range(8)
        ]
        rows += [("d", base), ("d_dup", base.replace("t7", "t7x"))]
        cfg = BlockConfig(
            use_token_keys=False, use_media_keys=False, lsh2_bands=8
        )
        keys = blocking_keys(_norm_stub(spark, rows), cfg)
        pairs = (
            keys.alias("a")
            .join(keys.alias("b"), "key")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .collect()
        )
        linked = {(r[0], r[1]) for r in pairs}
        assert ("d", "d_dup") in linked

    def test_lsh2_requires_fast_family(self):
        with pytest.raises(AssertionError):
            BlockConfig(lsh_family="md5_tokens", lsh2_bands=8)
        with pytest.raises(AssertionError):
            BlockConfig(lsh_hashes=64, lsh2_bands=7)  # not divisible

    def test_bucket_dedup_preserves_pairs(self, spark):
        """Identical buckets under two keys expand once; the final
        canonical pair set is unchanged vs multiplicate expansion."""
        from chameleon_entity_linking_spark.operators.block import (
            expand_key_pairs,
        )

        keys = spark.createDataFrame(
            [
                ("a", 1, "l"), ("b", 1, "l"), ("c", 1, "l"),
                ("a", 2, "l2"), ("b", 2, "l2"), ("c", 2, "l2"),
            ],
            "doc_id string, key long, fam string",
        )
        sketch = spark.createDataFrame(
            [(d, 0, False) for d in "abc"], "doc_id string, sig long, mo boolean"
        )
        raw, _ = expand_key_pairs(keys, BlockConfig(), sketch=sketch)
        raw = raw.select("doc_a", "doc_b")
        got = sorted(map(tuple, raw.distinct().collect()))
        assert got == [("a", "b"), ("a", "c"), ("b", "c")]
        # dedup means the raw stream carries each pair once, not twice
        assert raw.count() == 3
