"""Normalize stage: interleaved spans -> per-doc match features.

The analogue of the reference's corpus preparation (entity extraction
+ text cleanup, `utils/entity_extractor.py:22-39`, strip/clean at
`BiEncoder/model.py:32`): every document's text spans are lowercased,
tokenized and embedded; media spans contribute their exact
``media_ref`` keys (the analogue of the reference's exact entity
`title`, `BiEncoder/model.py:404`).

Invariant (input_hint): the ``spans`` column passes through
**untouched** — (kind, text, media_ref, order) survives byte-for-byte
(tested in tests/test_pipeline.py).

Physical shape: narrow, map-only — zero shuffles. Cheap string ops
stay JVM-side (whole-stage codegen); only the embedding encoder runs
in Python, as a scalar Arrow-batched ``pandas_udf`` so *only the
tokens column* crosses the JVM<->Arrow boundary (the operator shape
of the reference's batched encoder, `BiEncoder/model.py:68-166`,
minus its only-encodes-the-last-batch indentation bug).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.functions.embed import (
    DEFAULT_DIM,
    encode_hashed_batch,
)
from chameleon_entity_linking_spark.functions.tokenize import tokens_col

# 64-bit SIGN sketch (bit i set iff component i < 0): the 8-byte
# SimHash of the embedding. A >64-dim embedding cannot sign-pack into
# one long (shiftleft wraps mod 64, which would silently alias sign
# bits and corrupt hamming distances).
assert DEFAULT_DIM <= 64


def _embed_udf():
    # built lazily: pandas_udf parses its DDL against the active
    # session. Inputs are the JVM-prehashed token column (tokens_h:
    # xxhash64 per token, computed once in whole-stage codegen) plus
    # the joined token text for trigram features — so the Python side
    # never re-hashes a string (fully vectorized, md5-free; see
    # functions/embed.encode_hashed_batch).
    @F.pandas_udf("array<float>")
    def embed(tokens_h: pd.Series, joined: pd.Series) -> pd.Series:
        vecs = encode_hashed_batch(list(tokens_h), joined.tolist())
        return pd.Series(list(vecs))

    return embed


def normalize(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> doc_norm with match features.

    Output columns:
      spans       unchanged input spans (the per-row invariant)
      name_text   normalized text of the first text span (entity name)
      tokens      distinct sorted tokens over all text spans
      media_refs  distinct sorted media_ref keys
      embedding   array<float> hashing-trick vector (L2-normalized)
      emb_q       array<tinyint> int8 quantization of ``embedding`` —
                  the compact sketch the scoring prefilter shuffles
                  instead of the full feature row (64B vs ~1KB/side)
      emb_sig     long 64-bit sign sketch of ``embedding`` (bit i set
                  iff component i < 0; zero vectors -> 0) — the
                  scoring prefilter's phase-0 hamming sketch
    """
    # a compact parquet input yields few read splits; the embed UDF
    # cost is per-row CPU, so spread rows across all cores (one small
    # shuffle buys full parallelism for the map stage)
    spark = documents.sparkSession
    documents = documents.repartition(spark.sparkContext.defaultParallelism)
    text_spans = F.filter("spans", lambda s: s["kind"] == F.lit("text"))
    full_text = F.concat_ws(
        " ", F.transform(text_spans, lambda s: s["text"])
    )
    # F.get is null-safe on empty arrays (ANSI mode is on in Spark 4)
    name_text = F.trim(
        F.lower(F.coalesce(F.get(text_spans, 0)["text"], F.lit("")))
    )
    base = documents.select(
        "doc_id",
        "spans",
        name_text.alias("name_text"),
        F.array_sort(F.array_distinct(tokens_col(full_text))).alias("tokens"),
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.filter("spans", lambda s: s["media_ref"] != F.lit("")),
                    lambda s: s["media_ref"],
                )
            )
        ).alias("media_refs"),
    )
    return (
        base
        # hashed views of the set-valued features: pair scoring does
        # set intersections per CANDIDATE PAIR, and array_intersect on
        # int64 is ~2.4x cheaper than on strings (measured) — hash once
        # per doc here, compare longs millions of times downstream
        .withColumn(
            "tokens_h",
            F.array_sort(F.transform("tokens", lambda t: F.xxhash64(t))),
        )
        .withColumn(
            "media_h",
            F.array_sort(F.transform("media_refs", lambda m: F.xxhash64(m))),
        )
        .withColumn(
            "embedding",
            _embed_udf()(F.col("tokens_h"), F.array_join("tokens", " ")),
        )
        # int8 quantization: unit-norm components in [-1,1] -> [-127,127];
        # max cosine estimation error ~2/127 (used with a safety margin)
        .withColumn(
            "emb_q",
            F.transform(
                "embedding",
                lambda x: F.round(x * 127).cast("byte"),
            ),
        )
        # the scoring prefilter's first phase compares pairs with one
        # XOR + popcount on this long — pure whole-stage-codegen
        # integer ops, no array allocation per pair (see
        # score.sketch_prefilter)
        .withColumn(
            "emb_sig",
            F.expr(
                "aggregate(zip_with(emb_q, sequence(0, size(emb_q) - 1),"
                " (x, i) -> IF(x < 0, shiftleft(1L, i), 0L)),"
                " 0L, (a, b) -> a + b)"
            ),
        )
    )
