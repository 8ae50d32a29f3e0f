"""Readers for the driver-provided parquet tables + the interleave
adapter that lifts a flat document corpus into the engine's
input_hint shape (doc_id, spans array<struct<kind,text,media_ref,offset>>).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def interleave_documents(flat: DataFrame) -> DataFrame:
    """(doc_id:int64, text, ...) -> input_hint-shaped interleaved docs.

    Deterministic lift: the text becomes a text span; every third doc
    also gets a media span whose ``media_ref`` is shared within a
    bucket of 40 (so media-key blocking has real work to do).
    """
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("image").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("m"), F.md5(F.concat(F.lit("ref"), (F.col("doc_id") % 40).cast("string")))).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    spans = F.when(
        F.col("doc_id") % 3 == 0, F.array(text_span, media_span)
    ).otherwise(F.array(text_span))
    return flat.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )


def with_synthetic_duplicates(interleaved: DataFrame, every: int = 4) -> DataFrame:
    """Append a deterministically perturbed copy of every ``every``-th
    doc (one char dropped from the text span) — gives the flagship
    pipeline genuine duplicate mentions to resolve.

    Requires NUMERIC doc_id strings (the testdata corpora): the
    every-th selection casts to long, and a non-numeric id would cast
    to NULL, silently selecting zero duplicates — the pipeline would
    then "resolve" a corpus with nothing to resolve. Checked loudly.
    """
    # whole-column guard (ADVICE r5): the previous first-row probe
    # passed a corpus whose FIRST id is numeric while silently
    # excluding later non-numeric ids from duplicate selection. One
    # aggregate validates every row: it is a full scan of doc_id (one
    # extra job), not a metadata-only read.
    bad = interleaved.agg(
        F.sum(
            (
                F.col("doc_id").isNotNull()
                & F.col("doc_id").cast("long").isNull()
            ).cast("long")
        ).alias("bad")
    ).first()["bad"]
    if bad:
        raise ValueError(
            f"with_synthetic_duplicates needs numeric doc_id strings "
            f"({bad} rows cast('long') to NULL) — those rows would be "
            "silently excluded from duplicate selection"
        )
    dupes = (
        interleaved.where(
            F.col("doc_id").cast("long") % every == 0
        )
        .select(
            F.concat(F.col("doc_id"), F.lit("_dup")).alias("doc_id"),
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    F.when(
                        s["kind"] == "text",
                        F.concat(
                            F.substring(s["text"], 1, 3),
                            F.substring(s["text"], 5, 10_000_000),
                        ),
                    )
                    .otherwise(s["text"])
                    .alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    return interleaved.unionByName(dupes)
