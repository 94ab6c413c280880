"""entity_resolution__spark — a PySpark-native entity-resolution engine.

A from-scratch rebuild (NOT a port) of the semantics of the reference
pipeline at /root/reference (Sofija17/Entity-Resolution-): blocking →
pairwise similarity scoring → precision constraints → transitive
clustering, re-architected as idiomatic Spark DataFrame jobs over tables
of multi-turn conversation transcripts.

Layout:
  data/        deterministic synthetic transcript fixtures
  functions/   normalization + string-similarity kernels (Catalyst exprs
               and vectorized pandas/Arrow UDFs)
  operators/   relational-level operators: canonicalize, blocking, pair
               generation, clustering, dedup, ANN similarity, text stats
  plans/       end-to-end pipeline orchestration + stage checkpointing
"""

__version__ = "0.1.0"
