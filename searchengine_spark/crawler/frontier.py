"""Frontier micro-batch round loop (ST1-ST5) — the crawler core.

One round = one deterministic batch job over snapshot tables (reference
worker cycle README.md:196-203 lifted to set semantics):

  1. politeness quota slice (ST2/T3): per-host token bucket on the
     virtual clock — quota(host) = floor(round_duration / crawl_delay),
     computed BEFORE salting (a hot host must never exceed its budget);
     within a host the score-ordered priority queue picks the batch
     (score desc, canon_url asc — deterministic total order).
  2. explicit repartition by (host, salt) → fetch stage (north rule:
     salted host-hash partitioning kills hot-host skew — the reference
     corpus put 58% of pages on one host, SURVEY.md §0).
  3. fetch: lookup html by canonical url in the `pages` table (the
     sandbox stand-in for HTTP GET, utils/download.py:7-21); missing
     page → ERROR row (status-code gate P5/ST5).
  4. extract text (F1, Arrow UDF — byte-identical per url to the
     normative extractor) + tokenize (F2, Column exprs) + 3-gram
     fingerprint (A9/A10).
  5. J7 content near-dup gate: dup pages stay FETCHED but are not
     scraped and not fingerprint-registered (ngrams.py:142-164 contract).
  6. scrape links (scraper contract README.md:105-111) → canonicalize
     (F8) → is_valid (P4) → robots deny (J8) → batch-distinct →
     explicit repartition (dedup stage) → J6 trap gate → J5 URL-seen
     (bloom fast path + exact anti-join backstop).
  7. commit: frontier flips + new QUEUED rows, url_seen append, bloom
     segments, fingerprints, extracted text, metrics — one atomic
     snapshot per round (ST4: resume = read latest committed round).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from searchengine_spark.crawler import gates
from searchengine_spark.crawler.config import CrawlConfig, frontier_score
from searchengine_spark.crawler.tableio import TableIO
from searchengine_spark.operators import urlmining as UM
from searchengine_spark.functions.text import (
    extract_canon_links_udf,
    extract_text_udf,
    tokens_sql,
)
from searchengine_spark.functions.urls import is_valid_sql
from searchengine_spark.pycore.urltools import canonicalize

FRONTIER_SCHEMA = (
    "canon_url string, url_hash bigint, host string, score double, "
    "status string, round_added int, round_fetched int, error string"
)
URL_SEEN_SCHEMA = (
    "url_hash bigint, canon_url string, scheme string, host string, "
    "parent_dir string, n_parts int, last_charset array<string>, round_added int"
)
FP_SCHEMA = "url_hash bigint, canon_url string, fp array<bigint>, round_added int"
EXTRACTED_SCHEMA = "url_hash bigint, canon_url string, text string, round_fetched int"
METRICS_SCHEMA = (
    "round int, batch_size bigint, fetched_ok bigint, errors bigint, "
    "dup_pages bigint, candidates bigint, new_urls bigint, queued_remaining bigint"
)
HOST_GRAPH_SCHEMA = "src_host string, dst_host string, n bigint, round_added int"
TRAP_TEMPLATES_SCHEMA = (
    "host string, template string, n_urls bigint, n_distinct_urls bigint, "
    "example_url string"
)


_unpersist_warn_quieted = False


def _quiet_unpersist_warning(spark: SparkSession) -> None:
    """Unpersisting a locally-checkpointed RDD logs a WARN per call
    ("lineage has been truncated and cannot be recomputed") — correct
    but intended for RDDs someone might still USE; the round loop
    releases its leaf intermediates precisely because they are dead,
    so 6 WARNs/round are pure log spam at a 10^4-round crawl. Raise the
    RDD-class loggers to ERROR once per JVM (best-effort: a log4j2-core
    binding is Spark's default; anything else keeps its logs)."""
    global _unpersist_warn_quieted
    if _unpersist_warn_quieted:
        return
    _unpersist_warn_quieted = True
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass


def _seen_projection(df: DataFrame, round_no: int) -> DataFrame:
    return df.select(
        "url_hash", "canon_url", "scheme", "host", "parent_dir", "n_parts",
        "last_charset", F.lit(round_no).alias("round_added"),
    )


def init_crawl(
    spark: SparkSession,
    io: TableIO,
    cfg: CrawlConfig,
    robots_df: DataFrame,
    seeds_df: DataFrame | None = None,
) -> None:
    """Round 0: admit canonical seeds to frontier + url_seen, stage the
    robots cache, build the initial bloom segments, commit.

    `seeds_df` (optional) adds DISTRIBUTED seeds — (canon_url[, score])
    rows, e.g. functions.sitemap.sitemap_seeds output — alongside the
    config seed list (which stays driver-side: a config seed list is
    config-scale, a sitemap corpus is not). Rows without a score take
    the depth-0 prior; duplicate urls keep the highest score."""
    canon_seeds = sorted({c for c in (canonicalize(s) for s in cfg.seeds) if c})
    base = spark.createDataFrame(
        [(u, frontier_score(0)) for u in canon_seeds],
        "canon_url string, score double",
    )
    if seeds_df is not None:
        extra = seeds_df.select(
            "canon_url",
            (
                F.col("score")
                if "score" in seeds_df.columns
                else F.lit(frontier_score(0))
            ).cast("double").alias("score"),
        ).filter(F.col("canon_url").isNotNull())
        base = base.unionByName(extra)
    seeds_scored = base.groupBy("canon_url").agg(F.max("score").alias("score"))
    keyed = gates.with_trap_cols(seeds_scored).withColumn(
        "url_hash", F.xxhash64("canon_url")
    )
    frontier0 = keyed.select(
        "canon_url", "url_hash", "host",
        "score",
        F.lit("QUEUED").alias("status"),
        F.lit(0).alias("round_added"),
        F.lit(-1).alias("round_fetched"),
        F.lit(None).cast("string").alias("error"),
    )
    io.stage("frontier", frontier0, 0)
    io.stage("url_seen", _seen_projection(keyed, 0), 0, mode="append")
    io.stage("robots", robots_df, 0)
    io.stage(
        "bloom",  # table name is historic; holds the configured
        # URL-seen backend's segments (bloom bitsets or cuckoo tables)
        cfg.seen_module().build_segments(
            _seen_projection(keyed, 0), cfg.n_bloom_segments, cfg.seen_size0
        ),
        0,
        mode="append",  # rounds append delta segments (O(new urls))
        props={"m_bits": cfg.seen_size0},
    )
    io.stage("fingerprints", spark.createDataFrame([], FP_SCHEMA), 0, mode="append")
    if cfg.track_host_graph:
        io.stage(
            "host_graph", spark.createDataFrame([], HOST_GRAPH_SCHEMA), 0,
            mode="append",
        )
    if cfg.template_gate_every > 0:
        io.stage(
            "trap_templates",
            spark.createDataFrame([], TRAP_TEMPLATES_SCHEMA),
            0,
            n_files=1,
        )
    io.stage("extracted", spark.createDataFrame([], EXTRACTED_SCHEMA), 0, mode="append")
    io.stage("metrics", spark.createDataFrame([], METRICS_SCHEMA), 0, mode="append")
    io.commit_round(0)


def prepare_pages(pages: DataFrame, n_partitions: int) -> DataFrame:
    """Pre-shape the corpus for repeated fetch joins: (canon_url, html)
    hash-partitioned by canon_url and cached. Spark propagates the cached
    outputPartitioning into each round's join plan, so only the batch
    side shuffles per round (the corpus shuffle was the measured
    per-round tax — O(corpus) moved every round without this).

    Common-Crawl-style corpora carry MULTIPLE captures per url
    (BASELINE input_hint: warc_ts is part of the page key); fetching
    must see exactly one row per url or the fetch join fans out
    duplicate pages. Rule: LATEST-CAPTURE-WINS — max (warc_ts, html
    bytes) per canon_url (byte tie-break makes equal timestamps
    deterministic; the single-node oracle's corpus_dicts applies the
    identical rule). The max(struct) groupBy combines map-side and
    reuses the explicit repartition's hash partitioning (no second
    exchange), so the one-time prepare cost stays a single shuffle and
    the cached output keeps the canon_url partitioning the round joins
    rely on."""
    return (
        pages.select(F.col("url").alias("canon_url"), "warc_ts", "html")
        .repartition(n_partitions, "canon_url")
        .groupBy("canon_url")
        .agg(F.max(F.struct("warc_ts", "html")).alias("w"))
        .select("canon_url", F.col("w.html").alias("html"))
        .persist()
    )


def run_round(
    spark: SparkSession,
    io: TableIO,
    cfg: CrawlConfig,
    pages: DataFrame,
    round_no: int,
    prev_queued: int | None = None,
) -> int:
    """Execute one frontier round; returns the number of QUEUED urls
    remaining after the round (0 ⇒ crawl complete, ST1 termination).

    There is one execution path. The round's hot intermediates (batch,
    page_stage, fpdf, flagged, new_urls, frontier_next) are lazy
    localCheckpoints, so the ~100 downstream Dataset ops analyze a
    LogicalRDD leaf instead of re-analyzing the whole round tree. A leaf
    drops static size stats and outputPartitioning; neither matters
    here, since every broadcast on the round path is an explicit hint
    and each downstream join/agg keys differently. As each of the first
    four is built, a count of its leaf RDD is submitted to a worker
    thread, so executors materialize it while the driver keeps
    planning; rounds whose carried QUEUED count exceeds
    CrawlConfig.prefetch_max_queued skip those counts.

    Session confs are scoped to the round: set here, restored in the
    finally even when the round raises, so non-crawl queries on the same
    session keep their settings.
      * AQE is off: the round's shuffles are already explicitly
        partitioned and salted, and every AQE exchange materialization
        is its own driver-scheduled job.
      * Constraint propagation is off: it only skips inferred-filter
        optimizations (never changes results) and costs driver-serial
        Catalyst time on the round's join/window/union-deep plans.
      * Whole-stage codegen follows CrawlConfig.codegen_in_round.
      * spark.sql.shuffle.partitions is sized with the same
        batch-proportional rule as the explicit repartitions
        (CrawlConfig.rows_per_partition_target) — with AQE off nothing
        else coalesces a ramp round's near-empty partitions."""
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    shp_prev = spark.conf.get("spark.sql.shuffle.partitions")
    cp_prev = spark.conf.get("spark.sql.constraintPropagation.enabled", "true")
    cg_prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    cgf_prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    # measured: AQE on costs 110 vs 19 jobs/round; constraint
    # propagation on costs 285.7 vs 213.1 s at 16k pages on local[8]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    if not cfg.codegen_in_round:
        # light-round compile-tax escape hatch — see CrawlConfig
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    if cfg.rows_per_partition_target and prev_queued is not None:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(
                max(
                    1,
                    min(
                        int(shp_prev),
                        -(-prev_queued // cfg.rows_per_partition_target),
                    ),
                )
            ),
        )
    # hot-intermediate cache registry + worker pool are OWNED here so a
    # mid-round failure still releases checkpoint/cache blocks and the
    # stage threads (the body registers into both)
    from concurrent.futures import ThreadPoolExecutor

    caches: list = []
    pool = ThreadPoolExecutor(max_workers=6)
    try:
        return _run_round_body(
            spark, io, cfg, pages, round_no, prev_queued, caches, pool
        )
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
        for _src, jrdd in caches:
            try:
                jrdd.unpersist(False)
            except Exception:
                pass  # best-effort release on an already-failing round
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        spark.conf.set("spark.sql.shuffle.partitions", shp_prev)
        spark.conf.set("spark.sql.constraintPropagation.enabled", cp_prev)
        spark.conf.set("spark.sql.codegen.wholeStage", cg_prev)
        spark.conf.set("spark.sql.codegen.factoryMode", cgf_prev)


def _run_round_body(
    spark: SparkSession,
    io: TableIO,
    cfg: CrawlConfig,
    pages: DataFrame,
    round_no: int,
    prev_queued: int | None,
    _round_caches: list,
    _stage_pool,
) -> int:
    """prev_queued (when the caller carries it between rounds) lets the
    light-metrics path derive the new QUEUED count arithmetically —
    queued' = queued − |batch| + |new| holds exactly because every batch
    row leaves QUEUED and every admitted row enters it — from two counts
    over already-materialized cached DataFrames, instead of re-scanning
    the frontier."""
    profile = os.environ.get("SPARK_GRAFT_PROFILE") == "1"
    _t = [time.perf_counter()]

    def _mark(label: str) -> None:
        if profile:
            now = time.perf_counter()
            print(f"    [round {round_no}] {label}: {now - _t[0]:.2f}s")
            _t[0] = now

    # _round_caches / _stage_pool are owned by run_round (released in
    # its finally even on a failing round); the body registers the hot
    # intermediates and submits prefetch/stage jobs.
    _quiet_unpersist_warning(spark)

    # giant-round cutoff (cfg.prefetch_max_queued): executor-bound
    # rounds skip prefetch — nothing is idle during planning, and the
    # extra jobs double-compute the lazy checkpoints against the
    # frontier write
    _do_prefetch = (
        cfg.prefetch_max_queued is None
        or prev_queued is None
        or prev_queued <= cfg.prefetch_max_queued
    )

    def _hot(df: DataFrame, warm: bool = False) -> DataFrame:
        out = df.localCheckpoint(eager=False)
        jrdd = out._jdf.queryExecution().analyzed().rdd()
        # The source DataFrame is registered too, so it stays referenced
        # until the round ends: once the checkpoint's first job truncates
        # lineage, the source plan (and its SQLMetric accumulators) is
        # otherwise only weakly held, and a concurrent job still
        # computing the same leaf reports into garbage-collected
        # accumulators (DAGScheduler "Failed to update accumulator").
        _round_caches.append((df, jrdd))
        # async prefetch: executors materialize this intermediate while
        # the driver keeps building plans; a failure here is ignored —
        # the frontier write recomputes the same lineage and surfaces the
        # real error. The action is a raw RDD count on the leaf (NOT
        # Dataset.count): no throwaway SQL plan, one stage.
        if warm and _do_prefetch:
            _stage_pool.submit(jrdd.count)
        return out

    # batch-proportional partition width for the round's light
    # (host,salt) stages — see CrawlConfig.rows_per_partition_target
    if cfg.rows_per_partition_target and prev_queued is not None:
        n_parts = max(
            1,
            min(
                cfg.n_partitions,
                -(-prev_queued // cfg.rows_per_partition_target),
            ),
        )
    else:
        n_parts = cfg.n_partitions

    frontier = io.read("frontier", round_no - 1)
    url_seen = io.read("url_seen", round_no - 1)
    fps = io.read("fingerprints", round_no - 1)
    robots = io.read("robots", round_no - 1)
    SEEN = cfg.seen_module()  # bloom or cuckoo — one function seam
    segments = io.read("bloom", round_no - 1)
    # the seen-filter generation's segment size lives in the commit
    # manifest (table_props — a driver-side file read): compaction may
    # have resized past the configured floor, and this round's delta
    # segments must match the generation to stay mergeable
    cur_m = int(io.table_props("bloom", round_no - 1).get("m_bits", cfg.seen_size0))

    rb = F.broadcast(robots)  # J8: robots cache is a broadcast dim

    # ---- 1. politeness quota + priority slice (quota BEFORE salting)
    queued = frontier.filter(F.col("status") == "QUEUED")
    # Two-phase EXACT per-host top-quota (hot-host-skew-proof): phase 1
    # ranks within (host, salt) buckets and keeps ≤ quota per bucket — a
    # host's global top-quota rows are necessarily in their bucket's
    # top-quota, so this prunes without loss while splitting a hot host
    # (the reference corpus put 58% of pages on ONE host; at 10^10 a
    # single-task per-host window is a straggler/OOM) across n_salts
    # tasks. Phase 2 ranks the ≤ n_salts·quota survivors per host.
    # NOTE: no global-order window anywhere. The intra-batch dedup rule
    # (b) only needs "earlier-than" under (score desc, canon_url asc),
    # which gates.content_dup_flags compares directly on the tuple — a
    # global row_number would funnel the whole batch through one
    # partition (batch size = Σ host quotas, grows with host count).
    by_rank = (F.col("score").desc(), F.col("canon_url").asc())
    w_salt = Window.partitionBy("host", "salt").orderBy(*by_rank)
    w_host = Window.partitionBy("host").orderBy(*by_rank)
    batch = (
        queued.join(rb.select("host", "crawl_delay"), "host", "left")
        .withColumn(
            "quota",
            F.greatest(
                F.lit(1),
                F.least(
                    F.lit(cfg.max_per_host_per_round),
                    F.floor(
                        F.lit(cfg.round_duration)
                        / F.coalesce("crawl_delay", F.lit(cfg.default_crawl_delay))
                    ),
                ),
            ),
        )
        .withColumn("salt", F.pmod(F.col("url_hash"), F.lit(cfg.n_salts)))
        .withColumn("rk_pre", F.row_number().over(w_salt))
        .filter(F.col("rk_pre") <= F.col("quota"))
        .withColumn("rk", F.row_number().over(w_host))
        .filter(F.col("rk") <= F.col("quota"))
        .select("canon_url", "url_hash", "host", "score", "round_added", "salt")
    )

    # ---- 2. explicit repartition: politeness-group → fetch (north rule)
    batch = batch.repartition(n_parts, "host", "salt")

    # ---- 3. fetch (simulated GET: html by canonical url). When the
    # caller pre-shaped the table with prepare_pages(), the cached side
    # is already hash-partitioned on canon_url, so this join shuffles
    # ONLY the small batch — the corpus never moves after round 1.
    if "canon_url" in pages.columns:
        pages_kv = pages.select("canon_url", "html")
    else:
        pages_kv = pages.select(F.col("url").alias("canon_url"), "html")
    batch = _hot(batch, warm=True)  # small (≤ Σ quotas rows); reused 3×
    fetched = batch.join(pages_kv, "canon_url", "left")
    _mark("plan:fetch")

    # ---- 4. ONE Arrow stage for all per-page python work: the html
    # payload crosses into Python exactly once (text extraction + link
    # scraping share the pass) and is dropped immediately — only narrow
    # derived columns are ever cached (caching html+text was the
    # measured memory/GC tax of the giant rounds).
    page_stage = (
        fetched.filter(F.col("html").isNotNull())
        .select(
            "canon_url", "url_hash", "host", "score",
            extract_text_udf("html").alias("text"),
            extract_canon_links_udf("html", "canon_url").alias("links"),
        )
    )
    page_stage = _hot(page_stage, warm=True)
    fpdf = page_stage.select(
        "url_hash", "canon_url", "score",
        F.expr(
            gates.fingerprint_sql(tokens_sql("text"), cfg.ngram_n)
        ).alias("fp"),
    )
    fpdf = _hot(fpdf, warm=True)

    # ---- 5. J7 content near-dup gate
    flagged = _hot(
        gates.content_dup_flags(fpdf, fps, cfg.ngram_threshold), warm=True
    )
    _mark("plan:j7")
    dup_keys = flagged.filter(F.col("is_dup")).select("url_hash")

    # ---- 6. scrape → candidate pipeline (links were already extracted
    # + canonicalized in the fused page stage; dup pages are not scraped)
    cands = (
        page_stage.join(dup_keys, "url_hash", "left_anti")
        .select(F.explode("links").alias("canon_url"))
        .filter(F.col("canon_url").isNotNull())
        .filter(F.expr(is_valid_sql("canon_url", cfg.allowed_host_re)))
    )
    cands = gates.with_trap_cols(cands)
    cands = (
        cands.withColumn(
            "path", F.expr("coalesce(parse_url(canon_url, 'PATH'), '')")
        )
        .join(rb.select("host", "deny_prefixes"), "host", "left")
        .filter(
            "deny_prefixes IS NULL OR "
            "NOT exists(deny_prefixes, p -> startswith(path, p))"
        )
        .drop("deny_prefixes", "path")
        .dropDuplicates(["canon_url"])
        .withColumn("url_hash", F.xxhash64("canon_url"))
    )
    # ---- URL-template trap gate (cfg.template_gate_every, default
    # off): anti-join candidates against the tiny broadcast deny list
    # of (host, template) families the last census flagged. Both join
    # keys are computed from canon_url with the census's own exprs, so
    # the keys match by construction.
    if cfg.template_gate_every > 0:
        deny = io.read("trap_templates", round_no - 1)
        if deny is not None:
            cands = (
                cands.withColumn("_th", UM.host_expr("canon_url"))
                .withColumn("_tt", UM.template_expr("canon_url"))
                .join(
                    F.broadcast(
                        deny.select(
                            F.col("host").alias("_th"),
                            F.col("template").alias("_tt"),
                        )
                    ),
                    ["_th", "_tt"],
                    "left_anti",
                )
                .drop("_th", "_tt")
            )

    # explicit repartition: dedup stage on (host, salt) (north rule)
    cands = cands.withColumn(
        "salt", F.pmod(F.col("url_hash"), F.lit(cfg.n_salts))
    ).repartition(n_parts, "host", "salt")

    cands = gates.trap_reject(cands, url_seen, cfg.trap_threshold)  # J6
    new_urls = SEEN.filter_new(  # J5: filter fast path + exact backstop
        cands, url_seen, segments, cfg.n_bloom_segments,
        total_bloom_bytes=cfg.n_bloom_segments * SEEN.segment_bytes(cur_m),
    )
    new_urls = _hot(new_urls)

    # ---- 7. assemble + commit next snapshots
    new_score = frontier_score(round_no)
    new_frontier_rows = new_urls.select(
        "canon_url", "url_hash", "host",
        F.lit(new_score).alias("score"),
        F.lit("QUEUED").alias("status"),
        F.lit(round_no).alias("round_added"),
        F.lit(-1).alias("round_fetched"),
        F.lit(None).cast("string").alias("error"),
    )
    updated_batch = (
        batch.join(
            page_stage.select("url_hash", F.lit(True).alias("_ok")),
            "url_hash",
            "left",
        )
        .select(
            "canon_url", "url_hash", "host", "score", "round_added",
            F.when(F.col("_ok"), "FETCHED").otherwise("ERROR").alias("status"),
            F.lit(round_no).alias("round_fetched"),
            F.when(F.col("_ok").isNull(), "HTTP 404")
            .otherwise(F.lit(None).cast("string"))
            .alias("error"),
        )
    )
    frontier_next = (
        frontier.join(batch.select("url_hash"), "url_hash", "left_anti")
        .select(*[c for c in frontier.columns])
        .unionByName(updated_batch.select(*frontier.columns))
        .unionByName(new_frontier_rows.select(*frontier.columns))
    )
    frontier_next = _hot(frontier_next)

    # append-mode snapshots: each round writes only its DELTA (Iceberg
    # append-files shape — a round is O(new rows), never O(table))
    _mark("plans")
    if profile:
        batch.count()
        _mark("mat:batch")
        page_stage.count()
        _mark("mat:page-stage")
        fpdf.count()
        _mark("mat:fp")
        flagged.count()
        _mark("mat:j7")
        new_urls.count()
        _mark("mat:candidates+j6+j5")
    # The frontier write runs FIRST and alone: its lineage pulls every
    # persisted round DataFrame (batch, page_stage, fpdf, flagged,
    # new_urls), so this one job materializes all shared caches. It is
    # submitted on a WORKER THREAD so the driver builds the delta-table
    # plans below (pure py4j/Catalyst work, no actions on non-compaction
    # rounds) while the JVM executes the write — overlapping the two
    # serial components of the round's fixed cost. The future is joined
    # before any delta ACTION runs (delta jobs re-read the caches this
    # write materializes; running them earlier would double-compute the
    # round lineage).
    fut_frontier = _stage_pool.submit(
        io.stage, "frontier", frontier_next, round_no,
        n_files=cfg.n_partitions,
    )
    # The four delta snapshots only re-read those hot caches — they are
    # independent outputs, so their jobs are submitted CONCURRENTLY
    # (Spark schedules parallel actions from one session; staging cost
    # per round ≈ the slowest write, not the sum — the multi-output
    # materialization pattern).
    # host link-graph delta (cfg.track_host_graph): the round's scraped
    # links aggregated to host granularity — the reseed_frontier input.
    # Aggregated BEFORE staging so the table is O(host-pairs), not
    # O(links); dup pages excluded to match the scrape contract.
    hg_delta = None
    if cfg.track_host_graph:
        hg_delta = (
            page_stage.join(dup_keys, "url_hash", "left_anti")
            .select(
                F.col("host").alias("src_host"),
                F.explode("links").alias("_link"),
            )
            .filter(F.col("_link").isNotNull())
            .withColumn("dst_host", F.expr("lower(parse_url(_link, 'HOST'))"))
            .filter(F.col("dst_host").isNotNull())
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("round_added", F.lit(round_no))
        )

    seen_delta = _seen_projection(new_urls, round_no)
    fp_delta = fpdf.join(dup_keys, "url_hash", "left_anti").select(
        "url_hash", "canon_url", "fp", F.lit(round_no).alias("round_added")
    )
    ex_delta = page_stage.join(dup_keys, "url_hash", "left_anti").select(
        "url_hash", "canon_url", "text", F.lit(round_no).alias("round_fetched")
    )

    # ---- compaction (Iceberg rewrite-data-files, every K rounds):
    # squash each append table's delta snapshots into ONE base snapshot
    # so read fan-in and bloom blobs-per-segment stay bounded by the
    # cadence — without this, probe cost and snapshot-union width grow
    # O(crawl age). The bloom is OR-merged (cheap, O(segments)); when
    # the generation's bits-per-key fell under the policy target it is
    # instead REBUILT from the full url_seen at a larger m_bits (a
    # resize is a rebuild — compaction already pays the O(seen) pass).
    do_compact = cfg.compact_every > 0 and round_no % cfg.compact_every == 0
    if do_compact:
        # compaction needs ACTIONS over the round caches (counts) — wait
        # for the frontier write to materialize them first (1 round in
        # compact_every pays the serialization; the common round doesn't)
        fut_frontier.result()
        _mark("stage:frontier")
        n_prev, _ = SEEN.segment_load(segments)
        total_seen = n_prev + new_urls.count()  # cached — cheap action
        new_m = SEEN.required_m_bits(
            total_seen,
            cfg.n_bloom_segments,
            cfg.bloom_target_bits_per_key,
            floor_m_bits=cfg.seen_size0,
        )
        seen_full = url_seen.unionByName(seen_delta)
        if new_m > cur_m:  # saturation → new generation at new_m
            bloom_next, next_m = (
                SEEN.build_segments(seen_full, cfg.n_bloom_segments, new_m),
                new_m,
            )
        else:  # healthy → merge the accumulated delta blobs
            delta_segs = SEEN.build_segments(
                seen_delta, cfg.n_bloom_segments, cur_m
            )
            bloom_next, next_m = SEEN.merge_segments(segments, delta_segs), cur_m
        ex_prev = io.read("extracted", round_no - 1)
        stage_args = [
            ("url_seen", seen_full, round_no, "append", 4, True, None),
            (
                "fingerprints",
                fps.unionByName(fp_delta),
                round_no, "append", 4, True, None,
            ),
            (
                "extracted",
                ex_prev.unionByName(ex_delta),
                round_no, "append", cfg.n_partitions, True, None,
            ),
            ("bloom", bloom_next, round_no, "append", 4, True, {"m_bits": next_m}),
        ]
        if hg_delta is not None:
            # tracking may have been enabled mid-crawl: no prior snapshot
            hg_prev = io.read("host_graph", round_no - 1)
            hg_full = (
                hg_delta
                if hg_prev is None
                else hg_prev.unionByName(hg_delta)
            )
            stage_args.append(
                ("host_graph", hg_full, round_no, "append", 4, True, None)
            )
    else:
        # incremental path: append ONLY this round's delta segments —
        # O(new urls) staged bytes; probes merge multiple blobs per
        # segment on the fly until the next compaction bounds them again
        delta_segs = SEEN.build_segments(
            seen_delta, cfg.n_bloom_segments, cur_m
        )
        stage_args = [
            ("url_seen", seen_delta, round_no, "append", 4, False, None),
            ("fingerprints", fp_delta, round_no, "append", 4, False, None),
            # the text corpus is the big payload — writers must scale
            # with the cluster, not the compaction floor
            ("extracted", ex_delta, round_no, "append", cfg.n_partitions, False, None),
            ("bloom", delta_segs, round_no, "append", 4, False, {"m_bits": cur_m}),
        ]
        if hg_delta is not None:
            stage_args.append(
                ("host_graph", hg_delta, round_no, "append", 4, False, None)
            )
        # delta plans were built while the frontier write ran; join it
        # before the delta JOBS start (they re-read its caches)
        fut_frontier.result()
        _mark("stage:frontier")
    futs = [
        _stage_pool.submit(
            io.stage, t, df, rn, mode, n_files=nf, base=b, props=pr
        )
        for (t, df, rn, mode, nf, b, pr) in stage_args
    ]
    for f in futs:
        f.result()
    # pool shutdown + cache release are owned by run_round's finally
    _mark("stage:url_seen+fps+extracted+bloom" + (":compact" if do_compact else ""))

    # ---- template-census refresh (cfg.template_gate_every): re-mine
    # the accumulated URL families from the just-written frontier state
    # (cached — the frontier write above materialized it) and stage the
    # deny list as a full-replace snapshot. O(frontier) agg, but only
    # every K rounds; between refreshes the gate costs one tiny
    # broadcast per round.
    if (
        cfg.template_gate_every > 0
        and round_no % cfg.template_gate_every == 0
    ):
        census = UM.url_templates(
            frontier_next.select("canon_url"), url_col="canon_url"
        )
        io.stage(
            "trap_templates",
            UM.trap_templates(census, cfg.template_trap_min_urls),
            round_no,
            n_files=1,
        )
        _mark("stage:trap_templates")

    def _stage_metrics(row_df: DataFrame) -> None:
        if do_compact:  # metrics history squashes with the other deltas
            prev = io.read("metrics", round_no - 1)
            io.stage(
                "metrics", prev.unionByName(row_df), round_no,
                mode="append", base=True,
            )
        else:
            io.stage("metrics", row_df, round_no, mode="append")

    def _commit_and_prune() -> None:
        io.commit_round(round_no)
        if do_compact:  # reclaim superseded snapshots (post-commit, safe)
            tables = ["url_seen", "fingerprints", "extracted", "bloom", "metrics"]
            if hg_delta is not None:
                tables.append("host_graph")
            for t in tables:
                io.prune_compacted(t)

    if cfg.light_metrics:
        # bench path: loop-control count only, metrics row minimal
        if prev_queued is not None:
            # exact identity over cached/tiny tables (see docstring)
            queued_remaining = prev_queued - batch.count() + new_urls.count()
        else:  # first round after init/resume: direct count
            queued_remaining = frontier_next.filter(
                F.col("status") == "QUEUED"
            ).count()
        _stage_metrics(
            spark.createDataFrame(
                [(round_no, None, None, None, None, None, None, queued_remaining)],
                METRICS_SCHEMA,
            )
        )
        _commit_and_prune()
        _mark("metrics+commit")
        return queued_remaining

    # single-job metrics: one action over the persisted round DataFrames
    # (crossJoin of four 1-row aggregates) instead of four count() jobs
    counts = (
        batch.agg(F.count("*").alias("batch_size"))
        .crossJoin(page_stage.agg(F.count("*").alias("fetched_ok")))
        .crossJoin(
            flagged.agg(
                F.coalesce(F.sum(F.col("is_dup").cast("long")), F.lit(0)).alias(
                    "dup_pages"
                )
            )
        )
        .crossJoin(new_urls.agg(F.count("*").alias("n_new")))
        .crossJoin(
            frontier_next.agg(
                F.sum((F.col("status") == "QUEUED").cast("long")).alias(
                    "queued_remaining"
                )
            )
        )
        .collect()[0]
    )
    batch_size, fetched_ok = counts["batch_size"], counts["fetched_ok"]
    queued_remaining = counts["queued_remaining"]
    _stage_metrics(
        spark.createDataFrame(
            [
                (
                    round_no, batch_size, fetched_ok, batch_size - fetched_ok,
                    counts["dup_pages"], None, counts["n_new"], queued_remaining,
                )
            ],
            METRICS_SCHEMA,
        )
    )
    _commit_and_prune()
    _mark("metrics+commit")
    return queued_remaining


def crawl(
    spark: SparkSession,
    io: TableIO,
    cfg: CrawlConfig,
    pages: DataFrame,
    robots_df: DataFrame | None = None,
    max_rounds: int = 50,
    seeds_df: DataFrame | None = None,
) -> int:
    """Run (or RESUME — ST4) the crawl until the frontier drains or
    max_rounds is hit; returns the last executed round number.
    `seeds_df` (first run only): distributed extra seeds, see
    init_crawl."""
    if io.latest_round() is None:
        assert robots_df is not None, "first run needs the robots table"
        init_crawl(spark, io, cfg, robots_df, seeds_df=seeds_df)
    pages_kv = (
        pages
        if "canon_url" in pages.columns
        else prepare_pages(pages, cfg.n_partitions)
    )
    r = io.latest_round()
    remaining: int | None = None  # unknown on fresh start/resume
    while r < max_rounds:
        r += 1
        remaining = run_round(spark, io, cfg, pages_kv, r, prev_queued=remaining)
        if remaining == 0:
            break
    return io.latest_round()


def reseed_frontier(
    spark: SparkSession,
    io: TableIO,
    cfg: CrawlConfig,
    n_iters: int = 5,
    damping: float = 0.85,
) -> int:
    """Between-crawls frontier re-prioritization (OPIC/PageRank-family
    scheduling — the public upgrade over the reference's insertion-depth
    priority, README.md:196-203's FIFO queue):

      1. rank hosts over the accumulated host_graph edges
         (linkrank.host_rank, weighted power iteration),
      2. rewrite each QUEUED row's score to rank(host)/max_rank —
         normalized into the depth prior's (0, 1] scale so a reseeded
         queue and later depth-scored discoveries stay comparable,
      3. commit a frontier-only snapshot at latest_round()+1 (the other
         tables' reads fall through to their last snapshots).

    FETCHED/ERROR rows keep their historic score, so crawl_order parity
    over already-executed rounds is unchanged. Requires a crawl run
    with cfg.track_host_graph=True. Plan shape: one host-level groupBy
    (O(host-pairs)) + the pagerank loop + ONE broadcast join onto the
    frontier — hosts are ~10^3× fewer than urls, so the rank table
    broadcasts even at 10^10-url scale. Returns the committed round."""
    r = io.latest_round()
    assert r is not None, "reseed_frontier needs an initialized crawl"
    hg = io.read("host_graph", r)
    if hg is None:
        raise ValueError(
            "no host_graph table — run the crawl with "
            "CrawlConfig.track_host_graph=True to record link edges"
        )
    from searchengine_spark.operators.linkrank import host_rank

    edges = hg.groupBy("src_host", "dst_host").agg(F.sum("n").alias("n"))
    ranks = host_rank(edges, n_iters=n_iters, damping=damping, weight_col="n")
    mx_row = ranks.agg(F.max("rank").alias("m")).collect()[0]
    frontier = io.read("frontier", r)
    if mx_row["m"] is None:  # empty graph (e.g. 0 fetched rounds)
        io.stage("frontier", frontier, r + 1, n_files=cfg.n_partitions)
        io.commit_round(r + 1)
        return r + 1
    norm = ranks.select(
        "host", (F.col("rank") / F.lit(float(mx_row["m"]))).alias("_hr")
    )
    reseeded = (
        frontier.join(F.broadcast(norm), "host", "left")
        .withColumn(
            "score",
            F.when(
                (F.col("status") == "QUEUED") & F.col("_hr").isNotNull(),
                F.col("_hr"),
            ).otherwise(F.col("score")),
        )
        .select(*frontier.columns)
    )
    io.stage("frontier", reseeded, r + 1, n_files=cfg.n_partitions)
    io.commit_round(r + 1)
    return r + 1


def recrawl_frontier(
    spark: SparkSession,
    io: TableIO,
    cfg: CrawlConfig,
    max_age_rounds: int,
    mode: str = "requeue",
    score: float = 1.0,
) -> int:
    """Freshness recrawl (public crawl-scheduling concept): act on
    FETCHED rows with round_fetched ≤ latest_round − max_age_rounds.
    ERROR rows are never retried (ST5 contract).

    mode="requeue": flip stale rows back to QUEUED at `score` — their
    url_seen/filter entries stay (links to them keep deduping) — and
    PURGE their stored fingerprints so the refetch isn't near-dup-gated
    against its own previous content (J7 rule a compares vs the store).
    Works with either seen backend. `extracted` thereby becomes a
    fetch-history log: one row per (url, round_fetched), latest wins.

    mode="prune": REMOVE stale rows from the frontier and expire them
    from the URL-seen backend (exact cuckoo segment rebuild,
    cuckooseen.expire — a bloom filter can't delete), so the urls
    re-enter the crawl only when rediscovered via links. Requires
    cfg.seen_backend="cuckoo". Never combine semantics: requeue keeps
    the row so seen-expiry would double-admit; prune drops the row so
    the seen entry must go.

    Both purge fingerprints and rewrite the affected append tables as
    BASE snapshots — an O(table) periodic op, the same cost class (and
    sensibly the same cadence) as compaction. Returns the committed
    round."""
    assert mode in ("requeue", "prune"), mode
    r = io.latest_round()
    assert r is not None, "recrawl_frontier needs an initialized crawl"
    frontier = io.read("frontier", r)
    stale = (F.col("status") == "FETCHED") & (
        F.col("round_fetched") <= F.lit(r - max_age_rounds)
    )
    stale_keys = frontier.filter(stale).select("url_hash").persist()
    if stale_keys.count() == 0:
        stale_keys.unpersist()
        return r  # nothing stale — no snapshot, no round consumed

    rewritten = ["fingerprints"]
    fps_next = io.read("fingerprints", r).join(
        stale_keys, "url_hash", "left_anti"
    )
    io.stage("fingerprints", fps_next, r + 1, mode="append", base=True)

    if mode == "requeue":
        frontier_next = frontier.select(
            "canon_url", "url_hash", "host",
            F.when(stale, F.lit(score)).otherwise(F.col("score")).alias("score"),
            F.when(stale, F.lit("QUEUED")).otherwise(F.col("status")).alias("status"),
            "round_added",
            F.when(stale, F.lit(-1)).otherwise(F.col("round_fetched")).alias(
                "round_fetched"
            ),
            "error",
        )
    else:
        if cfg.seen_backend != "cuckoo":
            raise ValueError(
                "mode='prune' needs the deletable cuckoo seen backend "
                f"(cfg.seen_backend={cfg.seen_backend!r}): a bloom "
                "filter cannot expire keys"
            )
        frontier_next = frontier.join(stale_keys, "url_hash", "left_anti")
        cur_m = int(io.table_props("bloom", r).get("m_bits", cfg.seen_size0))
        seen_next, segs_next = cfg.seen_module().expire(
            io.read("url_seen", r),
            io.read("bloom", r),
            frontier.filter(stale).select("url_hash"),
            cfg.n_bloom_segments,
            cur_m,
        )
        io.stage("url_seen", seen_next, r + 1, mode="append", base=True)
        io.stage(
            "bloom", segs_next, r + 1, mode="append", base=True,
            props={"m_bits": cur_m},
        )
        rewritten += ["url_seen", "bloom"]

    io.stage("frontier", frontier_next, r + 1, n_files=cfg.n_partitions)
    io.commit_round(r + 1)
    for t in rewritten:  # reclaim superseded snapshots (post-commit)
        io.prune_compacted(t)
    stale_keys.unpersist()
    return r + 1


def crawl_order(io: TableIO, round_no: int | None = None) -> list[str]:
    """The deterministic crawl-order record: fetched urls sorted by
    (round_fetched, score desc, canon_url) — the parity surface vs the
    single-node oracle."""
    frontier = io.read("frontier", round_no)
    rows = (
        frontier.filter(F.col("round_fetched") >= 0)
        .select("round_fetched", "score", "canon_url")
        .orderBy(
            F.col("round_fetched").asc(), F.col("score").desc(),
            F.col("canon_url").asc(),
        )
        .collect()
    )
    return [r["canon_url"] for r in rows]
