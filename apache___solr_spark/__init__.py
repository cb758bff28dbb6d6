"""apache___solr_spark — a PySpark-native full-text index + BM25 query engine.

A from-scratch reimplementation of the *capabilities* of Apache Solr's
index-build and query core (reference: /root/reference, Apache Solr @ main),
re-expressed Spark-first:

- analysis chain (HTML strip -> StandardTokenizer-equivalent -> stop ->
  lowercase) as vectorized Arrow/pandas UDFs
  (ref: solr/server/solr/configsets/_default/conf/managed-schema.xml:299-315)
- distributed inverted-index build: per-partition segments, salted
  repartition-by-term merge, delta-gap + varbyte postings with doc-range
  aligned blocks carrying per-block max-impact metadata
  (ref semantics: Lucene 10.4 Lucene101PostingsFormat, consumed via
  solr/core/src/java/org/apache/solr/update/DirectUpdateHandler2.java:513)
- BM25 (k1=1.2, b=0.75) top-k retrieval through one recursive boolean
  query evaluator
  (ref: solr/core/src/java/org/apache/solr/search/similarities/BM25SimilarityFactory.java:41-51)
- a relational operator layer mirroring Solr streaming expressions
  (ref: solr/solrj-streaming/) as thin DataFrame combinators
- a training-data pipeline layer (dedup, similarity search, text quality)

No code is copied from the reference; citations are for behavior parity only.
"""

__version__ = "0.1.0"

from apache___solr_spark.config import IndexConfig  # noqa: F401
