"""Percolation (reverse search / standing queries): match DOCUMENTS
against a registry of boolean alert queries — the dual of retrieval.
A crawl pipeline uses this to route freshly fetched pages to
subscribers ("alert me when a page matches `spark AND streaming`")
without re-running every query against the index.

The query registry is stored relationally as (query_id, conj_id, term)
— one row per term of each AND-conjunct of the DNF (same parse as
operators/query.parse_query / reference retrieve_query.py:89-111). A
doc matches a query when it contains ALL terms of at least one
conjunct.

Plan shape at scale: the registry is a broadcast dimension (alert sets
are orders of magnitude smaller than a crawl batch); the corpus-side
cost is one token equi-join of the doc's DISTINCT tokens against the
registry terms + one groupBy(query, conjunct, doc) count — only
postings whose token appears in SOME query ever shuffle. The
count-distinct==k conjunct test makes a k-term conjunct one
aggregate, not k joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from searchengine_spark.operators.query import parse_query
from searchengine_spark.operators.tfidf import doc_tokens


def registry_from_strings(
    spark: SparkSession, queries: list[tuple[int, str]]
) -> DataFrame:
    """(query_id, conj_id, term) rows from (query_id, dnf_string)
    pairs. Parsing happens driver-side: the registry is user-registered
    alerts (small by construction), the parse is F11's whitespace
    split. Duplicate terms within a conjunct collapse."""
    rows = []
    for qid, qstr in queries:
        for cid, terms in enumerate(parse_query(qstr)):
            for t in dict.fromkeys(terms):
                rows.append((qid, cid, t))
    return spark.createDataFrame(
        rows, "query_id long, conj_id long, term string"
    )


def percolate(
    documents: DataFrame,
    registry: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id) — every (alert, document) match."""
    toks = (
        doc_tokens(documents, id_col, text_col)
        .filter(F.col("n_terms") > 0)
        .select("doc_id", F.explode("tokens").alias("token"))
        .distinct()
    )
    need = registry.groupBy("query_id", "conj_id").agg(
        F.count("*").alias("k")
    )
    hits = (
        toks.join(
            F.broadcast(registry.withColumnRenamed("term", "token")), "token"
        )
        .groupBy("query_id", "conj_id", "doc_id")
        .agg(F.count_distinct("token").alias("got"))
    )
    return (
        hits.join(F.broadcast(need), ["query_id", "conj_id"])
        .filter(F.col("got") == F.col("k"))
        .select("query_id", "doc_id")
        .distinct()
    )
