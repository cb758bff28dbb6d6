"""/sql front end: Solr's Parallel SQL surface on Catalyst.

The reference routes SQL through Apache Calcite (modules/sql/.../
SQLHandler.java:80 -> CalciteSolrDriver.java:103), whose converter rules
push Filter/Project/Sort/Aggregate into Solr streaming expressions
(SolrRules.java:45-50, SolrTable.java:161-189).  On Spark the entire
stack collapses to ``spark.sql`` — Catalyst IS the Calcite analog, and
its pushdown subsumes the SolrRules rewrites (SURVEY.md §3.3/§4).  What
remains worth pinning down is the TABLE MODEL: Solr SQL queries a
*collection*; here a collection is the docs table of a built index (or
any DataFrame), registered as a temp view.

Full-text predicates: Calcite's SolrFilter turns ``WHERE txt = 'a b'``
on a text field into a Solr query.  The honest Spark analog is explicit:
run the BM25 engine and register its hits as a view
(:func:`register_search_view`), then join/filter it in SQL — same two
phases the reference executes, visible instead of implicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def register_collection(
    spark: SparkSession, docs: DataFrame, name: str
) -> None:
    """Expose a docs DataFrame as a SQL collection (temp view)."""
    docs.createOrReplaceTempView(name)


def register_index(spark: SparkSession, engine, prefix: str = "") -> None:
    """Register a built index's queryable tables: ``<p>docs`` (the
    collection), ``<p>dictionary`` (TermsComponent surface: term/df/cf,
    one row per term — a term's per-segment rows summed the way the
    engine's own dictionary reader sums them), plus ``<p>postings`` for
    power users."""
    engine.docs.createOrReplaceTempView(prefix + "docs")
    engine.dictionary.groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("cf").alias("cf"),
        F.max("bucket").alias("bucket"),  # a term's rows share its bucket
    ).createOrReplaceTempView(prefix + "dictionary")
    engine.postings.createOrReplaceTempView(prefix + "postings")


def register_search_view(
    spark: SparkSession, engine, q: str, name: str, k: int = 10
) -> None:
    """Materialize a full-text query's top-k hits (doc_id, score, rank)
    as a view — the SolrTable analog of a pushed text predicate."""
    engine.search(q, k=k).createOrReplaceTempView(name)


def sql(spark: SparkSession, query: str, **views: DataFrame) -> DataFrame:
    """Run SQL over registered collections.  ``views`` registers
    DataFrames as table names for the duration of the session —
    ``sql(spark, "SELECT ... FROM c", c=df)``.  SELECT / WHERE /
    GROUP BY / HAVING / ORDER BY / LIMIT / DISTINCT / JOIN — the whole
    Solr SQL grammar plus everything Spark SQL adds."""
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return spark.sql(query)
