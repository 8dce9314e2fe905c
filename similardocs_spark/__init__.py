"""similardocs_spark — a PySpark-native inverted-index + BM25 similar-documents
engine with the query semantics of bireme/SimilarDocs, built from scratch for
multi-turn conversation transcripts at cluster scale.

Layers:
- textnorm / stopwords / bm25 ........ the executable spec (pure Python/numpy)
- functions/ ......................... vectorized pandas/Arrow UDFs
- index/ ............................. segmented, compressed, checkpointed index build
- query/ ............................. batched per-segment scoring kernel + rerank + day ladder
- oracle/ ............................ pure-Python reference search (golden tests)
- operators/ ......................... training-data ops (dedup, ANN, text quality, ...)
"""

__version__ = "0.1.0"
