"""index-search: full index rebuilds (the writes) alternating with a fixed
batch of DNF queries (the reads).

Docs: the golden `text` column of a `synth.gen_corpus` pages table, keyed
by `xxhash64(url)`. Queries: 1-3 OR'd conjuncts of 1-2 terms each, with
terms from the head (the 40 most frequent, in about 60% of the docs) and
the tail (in 2 docs to 2% of them) of the vocabulary, so selectivity
varies; the conjunct shapes are fixed and only the terms depend on the
seed. Set-up is session start, loading the docs, one rebuild and one
pass of the queries. An op is one rebuild
(`tfidf.build_postings`, materialized) or one query
(`query.search(...).collect()`). Every rebuild's row count and the last
rebuild's postings are checked against the DuckDB `postings` oracle of
`__spark_entry__.oracle_sql()` (round-to-9); every query's top-k against a
first-conjunct-wins DNF evaluation over those reference postings.
"""

from __future__ import annotations

import random
import time
import traceback

from perfbench import probes as P

N_DOCS = 2000
N_HOSTS = 16
TOP_K = 5
WARMUP_BUILDS = 1
MIN_CYCLES = 2
# conjuncts joined by "|", H = head term, T = tail term. Latency grows
# with the conjunct count; with 1, 1, 2, 2, 2, 2, 2, 3 and 3 conjuncts the
# median query is a 2-conjunct one whatever the terms.
SHAPES = ("H", "HT", "H|T", "HH|T", "T|H", "HT|H", "TT|H", "T|H|H", "HT|H|T")
IDLE_LAYERS = ("frontier.", "gates.", "urlseen.", "tableio.", "text.", "crawl.")


def _queries(texts: list[str], seed: int) -> list[str]:
    from searchengine_spark.pycore.tokenizer import tokenize

    df: dict[str, int] = {}
    for text in texts:
        for tok in set(tokenize(text)):
            df[tok] = df.get(tok, 0) + 1
    by_df = sorted(df, key=lambda t: (-df[t], t))
    head = by_df[:40]
    tail = sorted(t for t in df if 2 <= df[t] <= len(texts) // 50)
    rng = random.Random(seed)
    out = []
    for shape in SHAPES:
        conj = [
            " AND ".join(rng.choice(head if c == "H" else tail) for c in part)
            for part in shape.split("|")
        ]
        out.append(" OR ".join(conj))
    return out


def _reference(docs_rows):
    """Postings from the DuckDB oracle: {(doc_id, token): (tf, idf, tf_idf)}."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as E

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs_rows, columns=["doc_id", "text"]))
    rows = con.execute(E.oracle_sql()["postings"]).fetchall()
    con.close()
    return {(d, t): (tf, idf, s) for d, t, tf, idf, s in rows}


def _topk(by_token, query: str, k: int):
    """First-conjunct-wins DNF over the reference postings (token ->
    {doc_id: tf_idf}), ranked by tf_idf ascending then doc_id (the
    engine's rank_topk order)."""
    from searchengine_spark.operators.query import parse_query

    hits: dict[int, float] = {}
    for terms in parse_query(query):
        if not terms:
            continue
        docs = set(by_token.get(terms[0], {}))
        for t in terms[1:]:
            docs &= set(by_token.get(t, {}))
        for d in docs:
            hits.setdefault(d, by_token[terms[0]][d])
    return sorted(((s, d) for d, s in hits.items()))[:k]


def _same_topk(rows, want) -> bool:
    """Same documents with the same scores (to 1e-8, the reference is
    rounded to 9 digits), in non-decreasing score order."""
    got = {r["doc_id"]: r["tf_idf"] for r in rows}
    scores = [r["tf_idf"] for r in rows]
    return (
        set(got) == {d for _, d in want}
        and all(abs(got[d] - s) <= 1e-8 for s, d in want)
        and scores == sorted(scores)
    )


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from searchengine_spark.crawler.synth import gen_corpus
    from searchengine_spark.operators import query as Q
    from searchengine_spark.operators import tfidf as TF

    spark = ctx.start_spark()
    tree = P.ProcessTree()
    jvm = P.Jvm(spark)
    m: dict[str, float] = {"session.start_s": ctx.session_start_s}

    t = time.perf_counter()
    rows, _, _ = gen_corpus(N_DOCS, ctx.seed, N_HOSTS)
    texts = [(url, text) for url, _, _, text, _ in rows]
    queries = _queries([x for _, x in texts], ctx.seed)
    raw = spark.createDataFrame(texts, "url string, text string")
    m["synth.gen_s"] = time.perf_counter() - t

    docs = raw.select(F.xxhash64("url").alias("doc_id"), "text").persist()
    docs.count()

    def build():
        post = TF.build_postings(docs).persist()
        return post, post.count()

    def search(post, q):
        t0 = time.perf_counter()
        df = Q.search(post, q, TOP_K)
        t1 = time.perf_counter()
        out = df.collect()
        return out, t1 - t0, time.perf_counter() - t1

    post = None
    for _ in range(WARMUP_BUILDS):
        if post is not None:
            post.unpersist()
        post, _ = build()
    for q in queries:
        search(post, q)
    m["setup_s"] = time.perf_counter() - ctx.t_process_start - m["synth.gen_s"]
    ctx.note("set-up done")

    # ---- timed window: rebuild, then the query batch, closed loop. A
    # traced run times untraced and traced cycles in ABBA order, so a
    # warm-up trend cancels; the ratio of their median query latencies is
    # trace.overhead.
    builds, qops, results = [], [], []
    errors = 0
    cpu0 = tree.sample()
    t_w0 = time.perf_counter()
    while True:
        traced = ctx.trace and len(builds) % 4 in (1, 2)
        post.unpersist()
        j0 = jvm.sample() if traced else None
        t = time.perf_counter()
        post, n = build()
        builds.append({"s": time.perf_counter() - t, "rows": n, "traced": traced})
        if traced:
            j1 = jvm.sample()
            builds[-1].update(P.delta(j0, j1))
            builds[-1]["tasks"] = jvm.tasks_of_jobs(j0["jobs"], j1["jobs"])
        for q in queries:
            j0 = jvm.sample() if traced else None
            try:
                out, plan_s, exec_s = search(post, q)
            except Exception:  # a failed op: counted, the loop goes on
                traceback.print_exc()
                errors += 1
                continue
            op = {"plan": plan_s, "exec": exec_s, "s": plan_s + exec_s, "traced": traced}
            if traced:
                j1 = jvm.sample()
                op.update(P.delta(j0, j1))
                op["tasks"] = jvm.tasks_of_jobs(j0["jobs"], j1["jobs"])
            qops.append(op)
            results.append((q, out))
        if (time.perf_counter() - t_w0 >= ctx.seconds
                and len(builds) >= (4 if ctx.trace else MIN_CYCLES)):
            break
    wall = time.perf_counter() - t_w0
    cpu = P.cpu_delta(cpu0, tree.sample())
    ctx.note(f"window done, {len(builds)} builds, {len(qops)} queries")

    # ---- output checks
    docs_rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    ref = _reference(docs_rows)
    got = {
        (r["doc_id"], r["token"]): (r["tf"], r["idf"], r["tf_idf"])
        for r in post.select(
            "doc_id", "token",
            *[F.round(c, 9).alias(c) for c in ("tf", "idf", "tf_idf")],
        ).collect()
    }
    bad_builds = [b["rows"] != len(ref) for b in builds]
    bad_builds[-1] = bad_builds[-1] or got != ref
    failed = errors + sum(bad_builds)
    by_token: dict[str, dict] = {}
    for (d, tok), v in ref.items():
        by_token.setdefault(tok, {})[d] = v[2]
    want = {q: _topk(by_token, q, TOP_K) for q in queries}
    failed += sum(1 for q, out in results if not _same_topk(out, want[q]))

    ctx.note("output check done")
    m["op_s_p50"] = P.median([x["s"] for x in qops])
    m["items_per_s"] = len(qops) / wall
    m["cpu_ms_per_item"] = 1000.0 * P.cpu_work_s(cpu) / len(qops)

    if ctx.trace:
        _layers(m, ctx, docs, builds, qops, cpu, wall, tree)
    post.unpersist()
    return {
        "correct": True,
        "attempted": len(builds) + len(qops) + errors,
        "failed": failed,
        "metrics": m,
        "idle_layers": IDLE_LAYERS,
    }


def _layers(m, ctx, docs, builds, qops, cpu, wall, tree) -> None:
    """Per-layer metrics from the traced cycles, then the index build split
    into its public functions after the window."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators import tfidf as TF

    med = P.median
    m["trace.overhead"] = (
        med([x["s"] for x in qops if x["traced"]])
        / med([x["s"] for x in qops if not x["traced"]])
    )
    builds = [b for b in builds if b["traced"]]
    qops = [x for x in qops if x["traced"]]
    lat = [1000.0 * x["s"] for x in qops]
    m["tfidf.build_s"] = med([b["s"] for b in builds])
    m["query.ms_p50"] = med(lat)
    m["query.ms_p90"] = P.p90(lat)
    m["query.plan_ms"] = 1000.0 * med([x["plan"] for x in qops])
    m["query.exec_ms"] = 1000.0 * med([x["exec"] for x in qops])
    m["spark.jobs_per_query"] = med([x["jobs"] for x in qops])
    P.op_layers(m, builds + qops)
    P.cpu_layers(m, cpu, wall, ctx.nproc)

    # the build's layers, each public function's output materialized in turn
    held = []

    def step(name, df):
        t = time.perf_counter()
        df = df.persist()
        df.count()
        m[f"tfidf.{name}_s"] = time.perf_counter() - t
        held.append(df)
        return df

    toks = step("tokenize", TF.doc_tokens(docs))
    tf = step("tf", TF.term_frequencies(toks))
    dfc = step("df", TF.doc_frequencies(tf))
    t = time.perf_counter()
    n_docs = toks.filter(F.col("n_terms") > 0).count()  # part of the idf step
    idf = step("idf", TF.idf_table(dfc, n_docs))
    m["tfidf.idf_s"] = time.perf_counter() - t
    step("join", tf.join(idf, "token").select(
        "doc_id", "token", "tf", "idf", (F.col("tf") * F.col("idf")).alias("tf_idf")
    ))
    for df in held:
        df.unpersist()

    m["session.jvm_peak_rss_mb"] = P.peak_rss_mb(tree.jvm_pid())
