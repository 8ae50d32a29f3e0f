"""Tokenization / normalization expressions.

The reference tokenizes with a HuggingFace tokenizer
(`BiEncoder/model.py:46-47`); in this engine tokenization is a
deterministic lowercase + alnum-run split so it is reproducible with
zero external models and expressible identically in Spark SQL and
DuckDB (for oracle checks).

The *hot path* is pure JVM (`F.lower` + `F.split` — whole-stage
codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Token = maximal run of [a-z0-9] after lowercasing. ASCII-only class,
# so Spark and DuckDB agree byte-for-byte on any input.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_col(text: Column) -> Column:
    """array<string> of normalized tokens; empties removed (JVM-side)."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )

