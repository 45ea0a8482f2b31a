"""Crawl-parity suite (BASELINE.json north rule): the distributed
frontier must match the single-node oracle — same crawl order, same
URL-seen set, byte-identical extracted text per url — under the same
seed list + politeness budget; and resume-from-checkpoint must equal the
uninterrupted run (ST4)."""

from __future__ import annotations

import shutil

import pytest

from searchengine_spark.crawler import frontier as FR
from searchengine_spark.crawler import oracle as O
from searchengine_spark.crawler.config import CrawlConfig
from searchengine_spark.crawler.synth import ALLOWED_HOST_RE, gen_corpus, pages_df
from searchengine_spark.crawler.tableio import TableIO

N_PAGES, SEED, MAX_ROUNDS = 150, 42, 6


@pytest.fixture(scope="module")
def corpus():
    rows, robots_rows, seeds = gen_corpus(N_PAGES, SEED)
    pages, robots = O.corpus_dicts(rows, robots_rows)
    cfg = CrawlConfig(seeds=seeds, allowed_host_re=ALLOWED_HOST_RE)
    return rows, pages, robots, cfg


@pytest.fixture(scope="module")
def oracle_state(corpus):
    _, pages, robots, cfg = corpus
    return O.crawl_oracle(cfg, pages, robots, max_rounds=MAX_ROUNDS)


@pytest.fixture(scope="module")
def spark_io(spark, corpus, tmp_path_factory):
    _, _, _, cfg = corpus
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    wh = str(tmp_path_factory.mktemp("wh") / "crawl")
    io = TableIO(spark, wh)
    FR.crawl(spark, io, cfg, pdf, rdf, max_rounds=MAX_ROUNDS)
    yield io
    shutil.rmtree(wh, ignore_errors=True)


def test_crawl_order_matches_oracle(spark_io, oracle_state):
    assert FR.crawl_order(spark_io) == O.crawl_order_oracle(oracle_state)


def test_url_seen_set_matches_oracle(spark_io, oracle_state):
    seen = {r["canon_url"] for r in spark_io.read("url_seen").collect()}
    assert seen == oracle_state.seen


def test_extracted_text_byte_identical(spark_io, oracle_state, corpus):
    """The input_hint per-row invariant: byte-identical extracted text
    per url — vs the oracle AND vs the corpus golden text column."""
    rows = corpus[0]
    golden = {u: t for u, _, _, t, _ in rows}
    ext = {
        r["canon_url"]: r["text"] for r in spark_io.read("extracted").collect()
    }
    assert ext == oracle_state.extracted
    for u, t in ext.items():
        assert golden[u] == t


def test_gates_behave(spark_io, oracle_state):
    """Trap chain cut after day 1 (J6); robots subtree never fetched
    (J8); dangling links become ERROR rows (ST5/P5)."""
    seen = {r["canon_url"] for r in spark_io.read("url_seen").collect()}
    cal = sorted(u for u in seen if "/cal/day" in u)
    assert cal == ["https://h0.test/cal/day-2024-01-01"]
    assert not any("/private" in u for u in seen)
    frontier = {
        r["canon_url"]: r["status"] for r in spark_io.read("frontier").collect()
    }
    assert any(s == "ERROR" for s in frontier.values())


def test_resume_equals_uninterrupted(spark, corpus, spark_io, tmp_path):
    """Kill after round 2 (with a staged-but-uncommitted orphan round),
    reopen, resume — final state equals the uninterrupted crawl."""
    _, _, _, cfg = corpus
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    wh = str(tmp_path / "resume")
    io = TableIO(spark, wh)
    FR.crawl(spark, io, cfg, pdf, rdf, max_rounds=2)
    # simulate a crash mid-round-3: staged snapshot, no commit marker
    io.stage("frontier", io.read("frontier"), 3)
    io2 = TableIO(spark, wh)
    assert io2.latest_round() == 2
    io2.gc_orphans()
    FR.crawl(spark, io2, cfg, pdf, rdf, max_rounds=MAX_ROUNDS)
    assert FR.crawl_order(io2) == FR.crawl_order(spark_io)
    seen_a = {r["canon_url"] for r in spark_io.read("url_seen").collect()}
    seen_b = {r["canon_url"] for r in io2.read("url_seen").collect()}
    assert seen_a == seen_b


def test_latest_capture_wins(spark):
    """Common-Crawl-style multi-capture corpus: prepare_pages and the
    oracle's corpus_dicts both reduce to latest-capture-wins, so the
    crawl sees exactly the single-capture corpus."""
    from searchengine_spark.crawler.synth import PAGES_SCHEMA

    rows1, _, _ = gen_corpus(60, SEED)
    rows3, _, _ = gen_corpus(60, SEED, stale_captures=2)
    assert len(rows3) > len(rows1)
    from collections import Counter

    caps = Counter(u for u, *_ in rows3)
    assert max(caps.values()) == 3  # 1 latest + 2 stale

    p1, _ = O.corpus_dicts(rows1, [])
    p3, _ = O.corpus_dicts(rows3, [])
    assert p1 == p3

    df1 = spark.createDataFrame(rows1, schema=PAGES_SCHEMA)
    df3 = spark.createDataFrame(rows3, schema=PAGES_SCHEMA)
    pp1, pp3 = FR.prepare_pages(df1, 4), FR.prepare_pages(df3, 4)
    k1 = {(r["canon_url"], bytes(r["html"])) for r in pp1.collect()}
    k3 = {(r["canon_url"], bytes(r["html"])) for r in pp3.collect()}
    pp1.unpersist(), pp3.unpersist()
    assert k1 == k3
    assert len(k3) == len(rows1)


ROUND_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.constraintPropagation.enabled": "true",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.shuffle.partitions": "7",
}


def test_run_round_scopes_session_confs(spark, corpus, tmp_path, monkeypatch):
    """run_round turns AQE, constraint propagation and (per cfg) codegen
    off and resizes shuffle partitions for the round only: every conf
    is back to its session value after a round that commits AND after a
    round that raises."""
    from dataclasses import replace

    from pyspark.errors import AnalysisException

    from searchengine_spark.crawler import gates

    cfg = replace(corpus[3], codegen_in_round=False)
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    io = TableIO(spark, str(tmp_path / "confs"))
    FR.init_crawl(spark, io, cfg, rdf)

    inside = {}
    j7 = gates.content_dup_flags

    def spy(*a, **k):
        inside.update({c: spark.conf.get(c) for c in ROUND_CONFS})
        return j7(*a, **k)

    monkeypatch.setattr(gates, "content_dup_flags", spy)
    saved = {c: spark.conf.get(c) for c in ROUND_CONFS}
    try:
        for c, v in ROUND_CONFS.items():
            spark.conf.set(c, v)
        FR.run_round(spark, io, cfg, pdf, 1, prev_queued=1)
        assert inside == {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.constraintPropagation.enabled": "false",
            "spark.sql.codegen.wholeStage": "false",
            "spark.sql.shuffle.partitions": "1",
        }
        assert {c: spark.conf.get(c) for c in ROUND_CONFS} == ROUND_CONFS
        with pytest.raises(AnalysisException):  # pages without html
            FR.run_round(spark, io, cfg, pdf.select("url"), 2, prev_queued=1)
        assert {c: spark.conf.get(c) for c in ROUND_CONFS} == ROUND_CONFS
        assert io.latest_round() == 1
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)
