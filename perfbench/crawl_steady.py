"""crawl-steady: small politeness-capped rounds of a long-lived crawl.

Input: `synth.gen_corpus` light pages over 16 hosts, seeded from the
three roots it returns; politeness at the defaults (round_duration 4 and
the robots crawl delays), about 130 URLs per round once the ramp is over.
Set-up is session start, `prepare_pages`, `init_crawl` and the warm-up
rounds. An op is one `run_round`. After the window one more round runs on
a fresh `TableIO` over the same warehouse with `prev_queued=None` (the
resume path). Every round, warm-up included, is then checked against
`crawler.oracle`: crawl order, URL-seen set and the sha256 of each url's
extracted text.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time

from perfbench import probes as P

N_PAGES = 4000
N_HOSTS = 16
WARMUP_ROUNDS = 2
MIN_OPS = 2
FPR_PROBES = 20000
IDLE_LAYERS = ("tfidf.", "query.", "spark.jobs_per_query")


def _state(io):
    """Per-round views of the committed crawl: fetch order, admitted urls
    and text digests."""
    fr = io.read("frontier").select("canon_url", "score", "round_fetched").collect()
    seen = io.read("url_seen").select("canon_url", "round_added").collect()
    ex = io.read("extracted").select("canon_url", "text", "round_fetched").collect()
    order: dict[int, list] = {}
    for r in fr:
        if r["round_fetched"] >= 0:
            order.setdefault(r["round_fetched"], []).append((-r["score"], r["canon_url"]))
    admitted: dict[int, set] = {}
    for r in seen:
        admitted.setdefault(r["round_added"], set()).add(r["canon_url"])
    texts: dict[int, dict] = {}
    for r in ex:
        texts.setdefault(r["round_fetched"], {})[r["canon_url"]] = _sha(r["text"])
    return {k: [u for _, u in sorted(v)] for k, v in order.items()}, admitted, texts


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _reference(cfg, rows, robots, rounds: int):
    """The same per-round views from the single-node oracle."""
    from searchengine_spark.crawler.oracle import corpus_dicts, crawl_oracle

    pages, robots_d = corpus_dicts(rows, robots)
    st = crawl_oracle(cfg, pages, robots_d, max_rounds=rounds)
    order: dict[int, list] = {}
    fetched_in: dict[str, int] = {}
    for r, score, u in st.crawl_log:
        order.setdefault(r, []).append((-score, u))
        fetched_in[u] = r
    admitted: dict[int, set] = {}
    for u, rec in st.frontier.items():
        admitted.setdefault(rec.round_added, set()).add(u)
    texts: dict[int, dict] = {}
    for u, text in st.extracted.items():
        texts.setdefault(fetched_in[u], {})[u] = _sha(text)
    return {k: [u for _, u in sorted(v)] for k, v in order.items()}, admitted, texts


def _round_ok(got, want, r: int) -> bool:
    """Round r's fetch order, admitted urls and text digests all agree."""
    return all(g.get(r, e) == w.get(r, e) for g, w, e in zip(got, want, ([], set(), {})))


def run(ctx) -> dict:
    from searchengine_spark.crawler import frontier as FR
    from searchengine_spark.crawler import gates, urlseen
    from searchengine_spark.crawler.config import CrawlConfig
    from searchengine_spark.crawler.synth import (
        ALLOWED_HOST_RE,
        PAGES_SCHEMA,
        ROBOTS_SCHEMA,
        gen_corpus,
    )
    from searchengine_spark.crawler.tableio import TableIO

    spark = ctx.start_spark()
    tree = P.ProcessTree()
    jvm = P.Jvm(spark)
    spans = P.Spans()
    m: dict[str, float] = {"session.start_s": ctx.session_start_s}

    t = time.perf_counter()
    rows, robots, seeds = gen_corpus(N_PAGES, ctx.seed, N_HOSTS, with_text=False)
    pdf = spark.createDataFrame(rows, PAGES_SCHEMA)
    rdf = spark.createDataFrame(robots, ROBOTS_SCHEMA)
    m["synth.gen_s"] = time.perf_counter() - t

    # deployment fields only; every in-round knob stays at its default
    cfg = CrawlConfig(seeds=seeds, allowed_host_re=ALLOWED_HOST_RE)
    t = time.perf_counter()
    pages = FR.prepare_pages(pdf, cfg.n_partitions)
    pages.count()
    m["frontier.prepare_pages_s"] = time.perf_counter() - t

    wh = os.path.join(ctx.run_dir, "warehouse")
    io = P.TimedTableIO(spark, wh, spans) if ctx.trace else TableIO(spark, wh)
    t = time.perf_counter()
    FR.init_crawl(spark, io, cfg, rdf)
    m["frontier.init_crawl_s"] = time.perf_counter() - t

    t = time.perf_counter()
    remaining = None
    for r in range(1, WARMUP_ROUNDS + 1):
        remaining = FR.run_round(spark, io, cfg, pages, r, prev_queued=remaining)
    m["frontier.warmup_s"] = time.perf_counter() - t
    m["setup_s"] = time.perf_counter() - ctx.t_process_start - m["synth.gen_s"]
    ctx.note("set-up done")

    # ---- timed window: closed loop, one round after another. A traced
    # run times untraced and traced rounds in ABBA order, so a warm-up
    # trend cancels; the ratio of their medians is trace.overhead.
    ops: list[dict] = []
    cpu0 = tree.sample()
    t_w0 = time.perf_counter()
    r = WARMUP_ROUNDS
    while True:
        r += 1
        traced = ctx.trace and len(ops) % 4 in (1, 2)
        spans.op = r if traced else None
        if ctx.trace:
            io.enabled = traced
        with contextlib.ExitStack() as timers:
            if traced:
                timers.enter_context(P.wrapped(
                    gates, ["content_dup_flags", "trap_reject"], spans, "gates"))
                timers.enter_context(P.wrapped(
                    urlseen, ["filter_new", "build_segments", "merge_segments"],
                    spans, "seen"))
            j0 = jvm.sample() if traced else None
            t = time.perf_counter()
            remaining = FR.run_round(spark, io, cfg, pages, r, prev_queued=remaining)
            op = {"round": r, "start": t, "end": time.perf_counter(), "traced": traced}
        if traced:
            j1 = jvm.sample()
            op.update(P.delta(j0, j1))
            op["tasks"] = jvm.tasks_of_jobs(j0["jobs"], j1["jobs"])
        ops.append(op)
        if op["end"] - t_w0 >= ctx.seconds and len(ops) >= (4 if ctx.trace else MIN_OPS):
            break
    wall = time.perf_counter() - t_w0
    cpu = P.cpu_delta(cpu0, tree.sample())
    spans.op = None
    ctx.note(f"window done, {len(ops)} rounds")
    last = r

    if ctx.trace:
        io.enabled = False
        # ---- resume: a fresh TableIO on the same warehouse, nothing carried
        last += 1
        FR.run_round(spark, TableIO(spark, wh), cfg, pages, last, prev_queued=None)

    metrics_rows = {x["round"]: x for x in io.read("metrics").collect()}
    window = [op["round"] for op in ops]
    urls = sum(metrics_rows[x]["batch_size"] for x in window)

    # ---- output check against the Spark-free oracle, round by round
    got = _state(io)
    want = _reference(cfg, rows, robots, last)
    ok = {x: _round_ok(got, want, x) for x in range(0, last + 1)}
    checked = window + ([last] if ctx.trace else [])
    failed = sum(1 for x in checked if not ok[x])
    setup_ok = all(ok[x] for x in range(0, WARMUP_ROUNDS + 1))

    ctx.note("output check done")
    m["op_s_p50"] = P.median([op["end"] - op["start"] for op in ops])
    m["items_per_s"] = urls / wall
    m["cpu_ms_per_item"] = 1000.0 * P.cpu_work_s(cpu) / urls

    if ctx.trace:
        _layers(m, ctx, io, cfg, pages, ops, spans, metrics_rows, cpu, wall, tree)
    return {
        "correct": setup_ok,
        "attempted": len(checked),
        "failed": failed,
        "metrics": m,
        "idle_layers": IDLE_LAYERS,
    }


def _layers(m, ctx, io, cfg, pages, ops, spans, metrics_rows, cpu, wall, tree) -> None:
    """Per-layer metrics from the traced rounds, then extraction and the
    URL-seen filter measured on their own after the window."""
    from pyspark.sql import functions as F

    from searchengine_spark.crawler import urlseen
    from searchengine_spark.functions.text import extract_text_udf

    med = P.median
    untraced = [op["end"] - op["start"] for op in ops if not op["traced"]]
    ops = [op for op in ops if op["traced"]]
    window = [op["round"] for op in ops]
    m["trace.overhead"] = med([op["end"] - op["start"] for op in ops]) / med(untraced)
    P.op_layers(m, ops)

    plan, tail, fwrite, dwrite, reads, commits = [], [], [], [], [], []
    deltas = {"url_seen", "fingerprints", "extracted", "bloom"}
    for op in ops:
        ev = [e for e in io.events if op["start"] <= e[1] and e[2] <= op["end"]]
        plan.append(min(start for _, start, _ in ev) - op["start"])
        tail.append(op["end"] - max(end for t, _, end in ev if t != "metrics"))
        fwrite.append(sum(end - start for t, start, end in ev if t == "frontier"))
        d = [e for e in ev if e[0] in deltas]
        dwrite.append(max(end for _, _, end in d) - min(start for _, start, _ in d))
        reads.append(spans.total(op["round"], "read"))
        commits.append(spans.total(op["round"], "commit"))
    m["frontier.plan_s"] = med(plan)
    m["frontier.tail_s"] = med(tail)
    m["tableio.frontier_write_s"] = med(fwrite)
    m["tableio.delta_write_s"] = med(dwrite)
    m["tableio.read_ms"] = 1000.0 * med(reads)
    m["tableio.commit_ms"] = 1000.0 * med(commits)
    m["tableio.bytes_written"] = sum(spans.total(x, "bytes") for x in window)
    m["tableio.snapshots_read"] = sum(spans.total(x, "snapshots") for x in window)

    def plan_ms(*names):
        return 1000.0 * med([sum(spans.total(x, n) for n in names) for x in window])

    m["gates.j7_plan_ms"] = plan_ms("gates.content_dup_flags")
    m["gates.j6_plan_ms"] = plan_ms("gates.trap_reject")
    m["urlseen.filter_new_plan_ms"] = plan_ms("seen.filter_new")
    m["urlseen.segments_plan_ms"] = plan_ms("seen.build_segments", "seen.merge_segments")
    m["gates.dup_pages"] = sum(metrics_rows[x]["dup_pages"] for x in window)
    m["crawl.batch_urls"] = sum(metrics_rows[x]["batch_size"] for x in window)
    m["crawl.new_urls"] = sum(metrics_rows[x]["new_urls"] for x in window)

    P.cpu_layers(m, cpu, wall, ctx.nproc)

    # extraction alone, over the window's fetched pages (the UDF is bound
    # by name inside frontier.py, so it is timed standalone)
    batch = (
        io.read("frontier")
        .filter(F.col("round_fetched").isin(window))
        .select("canon_url")
        .join(pages, "canon_url")
        .persist()
    )
    m["text.html_bytes_in"] = batch.agg(F.sum(F.length("html"))).collect()[0][0]
    t = time.perf_counter()
    batch.select(F.sum(F.length(extract_text_udf("html")))).collect()
    m["text.extract_s"] = time.perf_counter() - t
    m["text.html_mb_per_s"] = m["text.html_bytes_in"] / 1e6 / m["text.extract_s"]
    batch.unpersist()

    # URL-seen filter health: false positives on never-admitted keys
    segs = io.read("bloom")
    m_bits = int(io.table_props("bloom").get("m_bits", cfg.seen_size0))
    probe = io.spark.range(FPR_PROBES).select(
        F.xxhash64(F.concat(F.lit("https://never-admitted.test/"), F.col("id"))).alias("url_hash")
    )
    hit = urlseen.probe_maybe_seen(
        probe, segs, cfg.n_bloom_segments,
        total_bloom_bytes=cfg.n_bloom_segments * urlseen.segment_bytes(m_bits),
    ).filter("maybe_seen").count()
    m["urlseen.fpr"] = hit / FPR_PROBES
    n_items, _ = urlseen.segment_load(segs)
    m["urlseen.bits_per_key"] = cfg.n_bloom_segments * m_bits / max(1, n_items)

    m["session.jvm_peak_rss_mb"] = P.peak_rss_mb(tree.jvm_pid())
