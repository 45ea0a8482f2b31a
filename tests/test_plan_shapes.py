"""Plan-shape regression tests for the round-3 retrieval operators:
the broadcasts and pushdowns the docstrings promise must appear in the
physical plan, not just in prose."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators import tfidf as TF


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_prefix_search_range_pushdown_on_sorted_index(spark, sf_dir, tmp_path):
    from searchengine_spark.operators.query import prefix_search

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "sorted_index_px")
    TF.write_sorted_index(TF.build_postings(docs), path)
    q = prefix_search(spark.read.parquet(path), "s", k=10)
    plan = _plan(q)
    # the [p, p̄) range must reach the scan as GreaterThanOrEqual/LessThan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(token,s)" in plan.replace(" ", "").replace(
        "'", ""
    ) or "GreaterThanOrEqual(token" in plan
    assert "LessThan(token" in plan
    assert q.count() > 0


@pytest.mark.parametrize(
    "query",
    ["spark", "spark AND window OR dup", "spark AND window OR dup OR fast AND the"],
)
def test_search_is_one_scan_one_exchange(spark, sf_dir, tmp_path, query):
    """Any number of conjuncts: one postings scan, one exchange (the
    groupBy(doc_id)), no join and no window in the executed plan."""
    from searchengine_spark.operators.query import search

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "sorted_index_q")
    TF.write_sorted_index(TF.build_postings(docs), path)
    q = search(spark.read.parquet(path), query)
    assert q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("Exchange") == 1
    assert final.count("FileScan parquet") == 1
    assert "Window" not in final
    assert "Join" not in final


def test_percolate_registry_is_broadcast(spark, sf_dir):
    from searchengine_spark.operators.percolate import (
        percolate,
        registry_from_strings,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    reg = registry_from_strings(spark, [(1, "spark AND window"), (2, "dup")])
    plan = _plan(percolate(docs, reg))
    assert "BroadcastHashJoin" in plan
    # the corpus side must never cartesian against the registry
    assert "CartesianProduct" not in plan


def test_more_like_this_query_vector_broadcast_no_cartesian(spark, sf_dir):
    from searchengine_spark.operators.simsearch import more_like_this

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(more_like_this(TF.build_postings(docs), 0, k=10))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_champion_lists_no_partitionless_window(spark, sf_dir):
    from searchengine_spark.operators.ranking import bm25_table, champion_lists

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(champion_lists(bm25_table(docs), k=3))
    # both window phases partition by (token[, salt]) — a global-order
    # window over the weight table would be the corpus-scale killer
    assert "Window" in plan
    for line in plan.splitlines():
        if "partitionBy" in line.lower():
            assert "token" in line


def test_boilerplate_frequent_set_broadcast_no_reshuffle(spark, sf_dir):
    from searchengine_spark.operators.boilerplate import strip_boilerplate

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id",
        (F.col("doc_id") % 5).cast("string").alias("host"),
        "text",
    )
    plan = _plan(strip_boilerplate(docs))
    # the per-host frequent-line arrays must broadcast back onto the
    # corpus; hash-exchanging the corpus by host would be the
    # 100TB-scale regression this test pins
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_closing_join_is_equi_not_nested_loop(spark, sf_dir):
    from searchengine_spark.operators.graphstats import triangle_counts

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                (F.col("doc_id") * 2 + 1) % n,
                (F.col("doc_id") * 3 + 7) % n,
            )
        ).alias("dst"),
    )
    plan = _plan(triangle_counts(edges))
    # wedge + closing joins must both be hash equi-joins — an
    # OR-of-slots close condition degrades to BroadcastNestedLoopJoin
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_pairs_no_cartesian_product(spark, sf_dir):
    from searchengine_spark.operators.dedup import tfidf_cosine_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(tfidf_cosine_pairs(docs, threshold=0.5, max_df=50))
    # candidates come from the token equi-join only — a cross join
    # here is the corpus-squared failure mode the df-cut exists to kill
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_cdc_chunks_zero_shuffle(spark, sf_dir):
    from searchengine_spark.operators.traindata import cdc_chunks

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(cdc_chunks(docs))
    # boundary detection + chunk hashing are pure per-row array exprs:
    # the plan must contain NO exchange at all
    assert "Exchange" not in plan


def test_soft404_and_readability_zero_shuffle(spark, sf_dir):
    from searchengine_spark.operators.textstats import (
        readability_scores,
        soft404_scores,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert "Exchange" not in _plan(soft404_scores(docs))
    assert "Exchange" not in _plan(readability_scores(docs))


def test_page_directives_zero_shuffle(spark):
    from searchengine_spark.operators.directives import page_directives

    pages = spark.createDataFrame(
        [(0, "<html></html>")], "doc_id long, html string"
    )
    assert "Exchange" not in _plan(page_directives(pages))


def test_rrf_windows_are_bounded_not_corpus_wide(spark, sf_dir):
    from searchengine_spark.operators.ranking import rrf_fuse

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(rrf_fuse(docs, ["spark", "window"], k=5, n_cand=20))
    # the rank windows run over <= n_cand rows by construction (each
    # input is a LIMIT'd search) — assert the limits made it into the
    # plan so the single-partition windows stay bounded
    assert "GlobalLimit" in plan or "TakeOrdered" in plan


def test_doc_keywords_window_partitioned_by_doc(spark, sf_dir):
    from searchengine_spark.operators.tfidf import build_postings, doc_keywords

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _plan(doc_keywords(build_postings(docs), k=5))
    for line in plan.splitlines():
        if "partitionBy" in line.lower():
            assert "doc_id" in line


def _executed(spark, df) -> str:
    """The executed plan with AQE off, so the static exchanges show."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df.count()
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_tfidf_build_is_one_exchange_one_tokenize(spark, sf_dir, tmp_path):
    """build_postings: one token exchange shared by tf and the df window,
    no join, and the tokenizer regex evaluated once per row. df over tf
    and a refresh from a stored tf add nothing beyond one exchange."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _executed(spark, TF.build_postings(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert plan.count("regexp_extract_all") == 1

    tf = TF.term_frequencies(TF.doc_tokens(docs))
    plan = _executed(spark, TF.doc_frequencies(tf))
    assert plan.count("Exchange") == 1

    path = str(tmp_path / "tf")
    tf.write.parquet(path)
    plan = _executed(spark, TF.postings_from_tf(spark.read.parquet(path)))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
