"""chameleon_entity_linking_spark — a from-scratch PySpark-native
record-linkage (entity-resolution) engine.

Recreates the query/data-processing capabilities of the reference
`sadjadeb/chameleon_entity_linking` (retrieve-then-rerank entity
linking, see SURVEY.md) as an idiomatic Spark batch pipeline over
Iceberg-style tables of interleaved text+media documents:

  normalize  -> vectorized Arrow-UDF span tokenize/normalize
                (span-sequence invariant preserved per row)
  block      -> salted multi-key blocking (token / MinHash-LSH /
                media_ref exact keys), explicit repartitioning,
                skew-key splitting, pair canonicalization
  score      -> pairwise scoring: Arrow-batched Jaro-Winkler, Spark's
                Levenshtein + embedding cosine, weighted mix
                (the reference's 0.9/0.1 mix, BiEncoder/test.py:120)
  cluster    -> iterative large-star/small-star connected components
                (checkpointed DataFrame joins)
  evaluate   -> pairwise precision/recall/F1 vs labeled pairs at
                fixed blocking keys (the ir_measures analogue)

Layout:
  sources/    catalog shim (Iceberg-shaped commits over parquet),
              synthetic interleaved-documents generator, readers
  functions/  vectorized numpy/pandas kernels: string similarity,
              MinHash, hashing-trick embeddings
  operators/  blocking, scoring, clustering, dedup, similarity
              search, text analysis — DataFrame-first operators
  plans/      SparkSession factory, pipeline orchestration, resume
  streaming/  incremental append/resume (micro-batch ingest)
"""

__version__ = "0.1.0"
