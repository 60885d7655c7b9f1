"""cascading_solr_spark — a PySpark-native full-text index + BM25 query engine.

A from-scratch re-expression of the capabilities of
ScaleUnlimited/cascading.solr (reference at /root/reference, read-only):
the reference is a Cascading sink Scheme that builds sharded Lucene indexes
via embedded Solr inside Hadoop reduce tasks; its query semantics are defined
by the bundled Solr schema/config and exercised by its tests.

This package re-expresses both halves Spark-first:

* index build  — DataFrame ops + Arrow-vectorized kernels (SPIMI-style
  per-partition posting construction, salted shuffle for hot terms,
  delta+varint compressed postings with per-block max-score metadata),
  document-sharded exactly like the reference's "N shards for N reducers"
  (reference README.md:7-8, hadoop/SolrOutputFormat.java:166-169).
* query        — top-k BM25 (k1=1.2, b=0.75) over the compressed index with
  a block-max WAND kernel, plus a pure-DataFrame scoring path used as the
  correctness oracle twin.

Nothing here is a port: all Java classes in the reference are cited in
docstrings only to establish behavioral parity.
"""

from cascading_solr_spark.analyzer import tokenize
from cascading_solr_spark.spec import IndexSpec, validate_schema

__all__ = ["tokenize", "IndexSpec", "validate_schema"]

__version__ = "0.1.0"
