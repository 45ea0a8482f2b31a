"""Compaction + bloom capacity policy.

The round loop squashes every append table into a base snapshot every
``compact_every`` rounds (Iceberg rewrite-data-files shape) so a long
crawl stays O(cadence) in snapshot fan-in and bloom blobs-per-segment —
per-round cost must not grow with crawl age. These tests assert:

  * output parity: a compacted crawl ≡ the same crawl with compaction
    off ≡ the single-node oracle (crawl order, url_seen set, extracted
    text) — the default round path crossing compaction boundaries;
  * boundedness: visible snapshots per append table and bloom blobs per
    segment stay ≤ the cadence across ≥3 compaction cycles;
  * resume ≡ uninterrupted across a compaction boundary (ST4);
  * probe ≡ exact anti-join across the boundary (bloom never drops);
  * capacity policy: a saturated bloom (10× over capacity, FPR→1) is
    rebuilt at compaction to a larger generation with FPR back under 5%
    while filter_new stays exact throughout.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from searchengine_spark.crawler import frontier as FR
from searchengine_spark.crawler import oracle as O
from searchengine_spark.crawler import urlseen
from searchengine_spark.crawler.config import CrawlConfig
from searchengine_spark.crawler.synth import ALLOWED_HOST_RE, gen_corpus, pages_df
from searchengine_spark.crawler.tableio import TableIO

N_PAGES, SEED, MAX_ROUNDS = 150, 42, 6
CADENCE = 2  # ≥3 compaction cycles inside MAX_ROUNDS


def _crawl(spark, tmp, name, cfg, max_rounds=MAX_ROUNDS):
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    wh = str(tmp / name)
    io = TableIO(spark, wh)
    FR.crawl(spark, io, cfg, pdf, rdf, max_rounds=max_rounds)
    return io


@pytest.fixture(scope="module")
def cfgs():
    _, _, seeds = gen_corpus(N_PAGES, SEED)
    on = CrawlConfig(
        seeds=seeds, allowed_host_re=ALLOWED_HOST_RE, compact_every=CADENCE
    )
    off = CrawlConfig(
        seeds=seeds, allowed_host_re=ALLOWED_HOST_RE, compact_every=0
    )
    return on, off


@pytest.fixture(scope="module")
def compacted(spark, cfgs, tmp_path_factory):
    io = _crawl(spark, tmp_path_factory.mktemp("cmp"), "on", cfgs[0])
    yield io
    shutil.rmtree(io.warehouse, ignore_errors=True)


@pytest.fixture(scope="module")
def uncompacted(spark, cfgs, tmp_path_factory):
    io = _crawl(spark, tmp_path_factory.mktemp("cmp"), "off", cfgs[1])
    yield io
    shutil.rmtree(io.warehouse, ignore_errors=True)


def test_compacted_crawl_output_parity(compacted, uncompacted):
    assert FR.crawl_order(compacted) == FR.crawl_order(uncompacted)
    seen_a = {r["canon_url"] for r in compacted.read("url_seen").collect()}
    seen_b = {r["canon_url"] for r in uncompacted.read("url_seen").collect()}
    assert seen_a == seen_b
    ext_a = {
        r["canon_url"]: r["text"] for r in compacted.read("extracted").collect()
    }
    ext_b = {
        r["canon_url"]: r["text"] for r in uncompacted.read("extracted").collect()
    }
    assert ext_a == ext_b


def test_compacted_crawl_matches_oracle(compacted, cfgs):
    rows, robots_rows, _ = gen_corpus(N_PAGES, SEED)
    pages, robots = O.corpus_dicts(rows, robots_rows)
    want = O.crawl_oracle(cfgs[0], pages, robots, max_rounds=MAX_ROUNDS)
    assert FR.crawl_order(compacted) == O.crawl_order_oracle(want)
    seen = {r["canon_url"] for r in compacted.read("url_seen").collect()}
    assert seen == want.seen
    ext = {
        r["canon_url"]: r["text"] for r in compacted.read("extracted").collect()
    }
    assert ext == want.extracted


def _n_snapshots(io, table):
    tdir = os.path.join(io.warehouse, table)
    return sum(1 for d in os.listdir(tdir) if d.startswith("snap-"))


def test_snapshots_and_blobs_bounded(compacted, uncompacted):
    """After ≥2 compaction cycles: files-per-table and blobs-per-segment
    are bounded by the cadence; the uncompacted control grows with
    rounds (proving the bound is compaction's doing)."""
    rounds = uncompacted.latest_round()
    assert rounds >= 2 * CADENCE  # at least two compaction cycles ran
    for table in ("url_seen", "fingerprints", "extracted", "bloom", "metrics"):
        assert _n_snapshots(compacted, table) <= CADENCE + 1, table
        # uncompacted: one snapshot per round since round 0 — O(crawl age)
        assert _n_snapshots(uncompacted, table) == rounds + 1, table
    blobs = (
        compacted.read("bloom")
        .groupBy("segment_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert blobs <= CADENCE
    blobs_off = (
        uncompacted.read("bloom")
        .groupBy("segment_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert blobs_off > CADENCE


def test_probe_equals_exact_antijoin_across_boundary(spark, compacted):
    """Bloom fast path ≡ exact anti-join against the POST-compaction
    segment state, probed with a mix of seen and unseen urls."""
    seen = compacted.read("url_seen")
    segments = compacted.read("bloom")
    fresh = spark.range(500).select(
        F.concat(F.lit("https://unseen.test/p"), F.col("id")).alias("canon_url")
    )
    cands = (
        seen.select("canon_url").limit(40).unionByName(fresh)
        .withColumn("url_hash", F.xxhash64("canon_url"))
    )
    cfg_segments = 16  # CrawlConfig default n_bloom_segments
    with_bloom = {
        r["canon_url"]
        for r in urlseen.filter_new(cands, seen, segments, cfg_segments).collect()
    }
    exact = {
        r["canon_url"] for r in urlseen.filter_new(cands, seen, None).collect()
    }
    assert with_bloom == exact


def test_resume_across_compaction_boundary(spark, cfgs, compacted, tmp_path):
    """Kill right after a compaction round commits (round CADENCE·2),
    reopen, resume to the end — equals the uninterrupted compacted
    crawl, and pruned history doesn't break the restart."""
    cfg = cfgs[0]
    pdf, rdf, _ = pages_df(spark, N_PAGES, SEED)
    wh = str(tmp_path / "resume")
    io = TableIO(spark, wh)
    FR.crawl(spark, io, cfg, pdf, rdf, max_rounds=CADENCE * 2)
    assert io.latest_round() == CADENCE * 2  # stopped ON a compaction round
    io2 = TableIO(spark, wh)
    io2.gc_orphans()
    FR.crawl(spark, io2, cfg, pdf, rdf, max_rounds=MAX_ROUNDS)
    assert FR.crawl_order(io2) == FR.crawl_order(compacted)
    seen_a = {r["canon_url"] for r in compacted.read("url_seen").collect()}
    seen_b = {r["canon_url"] for r in io2.read("url_seen").collect()}
    assert seen_a == seen_b


# --------------------------------------------------- capacity policy


def _fpr(spark, segments, n_segments, n_fresh=2000):
    """Observed false-positive rate: fraction of NEVER-inserted urls the
    bloom calls maybe-seen."""
    fresh = spark.range(n_fresh).select(
        F.concat(F.lit("https://fresh.test/x"), F.col("id")).alias("canon_url")
    ).withColumn("url_hash", F.xxhash64("canon_url"))
    probed = urlseen.probe_maybe_seen(fresh, segments, n_segments)
    hits = probed.filter(F.col("maybe_seen")).count()
    return hits / n_fresh


def test_bloom_saturation_resize(spark):
    """Load a tiny-generation bloom to ~10× its bits-per-key capacity:
    FPR degenerates toward 1. The compaction-boundary policy
    (required_m_bits at 10 bits/key) rebuilds a larger generation with
    FPR < 5%. filter_new stays ≡ exact anti-join in BOTH states (the
    backstop means saturation is a performance bug, not a correctness
    bug — which is exactly why it needs a policy, not an assert)."""
    n_segments, tiny_m = 4, 1 << 10  # 4096 bits total
    n_urls = 4096  # ~1 bit/key → saturated
    seen = spark.range(n_urls).select(
        F.concat(F.lit("https://load.test/p"), F.col("id")).alias("canon_url")
    ).withColumn("url_hash", F.xxhash64("canon_url"))
    saturated = urlseen.build_segments(seen, n_segments, tiny_m)
    assert _fpr(spark, saturated, n_segments) > 0.5

    new_m = urlseen.required_m_bits(n_urls, n_segments, 10.0, floor_m_bits=tiny_m)
    assert new_m >= 10 * n_urls / n_segments
    resized = urlseen.build_segments(seen, n_segments, new_m)
    assert _fpr(spark, resized, n_segments) < 0.05

    cands = seen.limit(50).unionByName(
        spark.range(300).select(
            F.concat(F.lit("https://other.test/q"), F.col("id")).alias("canon_url")
        ).withColumn("url_hash", F.xxhash64("canon_url"))
    )
    exact = {r["canon_url"] for r in urlseen.filter_new(cands, seen, None).collect()}
    for segs in (saturated, resized):
        got = {
            r["canon_url"]
            for r in urlseen.filter_new(cands, seen, segs, n_segments).collect()
        }
        assert got == exact


def test_required_m_bits_policy():
    assert urlseen.required_m_bits(0, 16) == urlseen.DEFAULT_M_BITS
    assert urlseen.required_m_bits(100, 16) == urlseen.DEFAULT_M_BITS
    # 10 bits/key over 16 segments at 10M keys → ≥ 6.25M bits/segment
    m = urlseen.required_m_bits(10_000_000, 16, 10.0)
    assert m >= 10 * 10_000_000 / 16
    assert m & (m - 1) == 0  # power of two
    # floor override honored
    assert urlseen.required_m_bits(10, 4, 10.0, floor_m_bits=1 << 10) == 1 << 10
