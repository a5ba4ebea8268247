"""zuliasearch_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch rebuild of the query/data capabilities of
zuliaio/zuliasearch (a distributed Lucene server) on top of Apache
Spark DataFrames:

- code-aware analyzers as vectorized Arrow/pandas kernels
  (``zuliasearch_spark.analysis``),
- posting-list construction with delta-gap + varint compressed blocks
  (``zuliasearch_spark.indexing``),
- a BM25 (k1=1.2, b=0.75) top-k executor that scores every match
  densely per shard (exact totalHits, like Lucene's COMPLETE score
  mode) with a Zulia-style scatter/gather shard merge
  (``zuliasearch_spark.search``),
- a pure-Python oracle replicating Lucene BM25 semantics including
  SmallFloat norm quantization (``zuliasearch_spark.oracle``),
- large-scale training-data pipeline ops: dedup, similarity search,
  text analysis, multimodal plumbing (``zuliasearch_spark.ops``).

Everything here derives from public knowledge only: the Apache
Spark / Lucene documentation + source and the reference repo's
observable behavior.
"""

__version__ = "0.1.0"
