"""Crawl throughput benchmarking helpers.

`bench_crawl` is the per-round driver hook (bench.py): a fixed number of
high-quota frontier rounds over a generated corpus, returning wall
seconds. `run_fixed_crawl` is the workload shared with
tools/scaling_bench.py — the SAME job at two parallelism levels is the
sandbox's stand-in for the N → 4N executor scaling criterion
(BASELINE.json: efficiency ≥ 0.8).

The scaling workload is a wide shallow graph (every host seeded, no
politeness throttle) with repeat-heavy page bodies, so the crawl drains
in 3 rounds and the giant leaf round — extraction + tokenize +
fingerprint + dedup over ~n_pages heavy pages — dominates wall time:
the quantity whose scaling the criterion is about. Per-round driver
overhead (plan building, commit bookkeeping) is a sandbox constant that
a real multi-executor deployment pays once per micro-batch regardless
of cluster size; light_metrics keeps it minimal.
"""

from __future__ import annotations

import shutil
import tempfile
import time

from pyspark.sql import SparkSession

from searchengine_spark.crawler import frontier as FR
from searchengine_spark.crawler.config import CrawlConfig
from searchengine_spark.crawler.synth import ALLOWED_HOST_RE, pages_df
from searchengine_spark.crawler.tableio import TableIO


def bench_config(
    seeds: list[str], n_partitions: int, codegen: bool = True
) -> CrawlConfig:
    return CrawlConfig(
        seeds=seeds,
        allowed_host_re=ALLOWED_HOST_RE,
        round_duration=1e9,  # politeness lifted: quota = per-host cap
        max_per_host_per_round=1_000_000,
        n_salts=8,
        n_partitions=n_partitions,
        n_bloom_segments=32,
        light_metrics=True,
        # caller picks by workload weight: light-body small-batch rounds
        # flip codegen off (per-round Janino compile tax beats
        # interpreted eval there); heavy-body rounds keep it ON — see
        # the CrawlConfig.codegen_in_round measurements
        codegen_in_round=codegen,
    )


def run_fixed_crawl(
    spark: SparkSession,
    n_pages: int,
    rounds: int,
    n_hosts: int = 32,
    body_scale: int = 4,
    body_repeat: int = 1,
    n_partitions: int = 32,
    max_per_host: int | None = None,
    timed_from_round: int = 1,
    pages_path: str | None = None,
    codegen: bool = True,
) -> tuple[float, int]:
    """Run `rounds` frontier rounds; returns (wall_sec, urls_fetched)
    for the TIMED window (rounds ≥ timed_from_round). Corpus generation,
    round-0 init and warm-up rounds are excluded — a 10^10-URL frontier
    never drains, so steady-state giant rounds (not the BFS ramp from a
    seed list) are the scaling-relevant regime."""
    if pages_path is not None:
        pdf = spark.read.parquet(pages_path)
        rdf = spark.read.parquet(pages_path + "_robots")
    else:
        pdf, rdf, _ = pages_df(spark, n_pages, 42, n_hosts, body_scale, body_repeat)
    pdf = FR.prepare_pages(pdf, n_partitions)
    pdf.count()  # materialize the co-partitioned corpus before the clock
    seeds = [f"https://h{i}.test" for i in range(n_hosts)]  # all roots
    cfg = bench_config(seeds, n_partitions, codegen=codegen)
    if max_per_host is not None:
        cfg.max_per_host_per_round = max_per_host
    # shuffle partitions sized to the crawl's explicit partitioning —
    # tiny-batch stages must not fan out to one task per machine core
    spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
    wh = tempfile.mkdtemp(prefix="crawlbench-")
    try:
        io = TableIO(spark, wh)
        FR.init_crawl(spark, io, cfg, rdf)

        def _fetched() -> int:
            return io.read("frontier").filter("round_fetched >= 0").count()

        t0 = fetched_before = None
        remaining = None
        for r in range(1, rounds + 1):
            if r == timed_from_round:
                fetched_before = _fetched()
                t0 = time.perf_counter()
            remaining = FR.run_round(
                spark, io, cfg, pdf, r, prev_queued=remaining
            )
            if remaining == 0:
                break
        if t0 is None:  # crawl drained before the timed window opened
            return 0.0, 0
        wall = time.perf_counter() - t0
        return wall, _fetched() - fetched_before
    finally:
        pdf.unpersist()
        shutil.rmtree(wh, ignore_errors=True)


def bench_crawl(
    spark: SparkSession,
    n_pages: int = 2000,
    rounds: int = 3,
    pages_path: str | None = None,
) -> float:
    wall, _ = run_fixed_crawl(
        spark, n_pages, rounds, n_hosts=16, body_scale=2, n_partitions=8,
        max_per_host=400, pages_path=pages_path,
        codegen=False,  # light bodies: compile tax > interpreted eval
    )
    return round(wall, 3)


def write_bench_corpus(spark: SparkSession, path: str, n_pages: int = 2000) -> str:
    """Materialize the bench_crawl corpus (same generator parameters) to
    parquet once, so multi-trial benches don't re-pay driver-side
    corpus generation per trial."""
    from searchengine_spark.crawler.synth import (
        PAGES_SCHEMA,
        ROBOTS_SCHEMA,
        gen_corpus,
    )

    rows, robots, _ = gen_corpus(n_pages, 42, 16, 2, 1, with_text=False)
    spark.createDataFrame(rows, schema=PAGES_SCHEMA).repartition(8).write.mode(
        "overwrite"
    ).parquet(path)
    spark.createDataFrame(robots, schema=ROBOTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path + "_robots")
    return path
