"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship ranked boolean query over an inverted index
built end-to-end from sf0.001 documents (SURVEY.md §7 Phase 1 slice).

``queries()`` / ``oracle_sql()`` — one named query per implemented
operator of SURVEY.md §2 + §2.11 (203 queries as of round 5), EVERY one
with a DuckDB-equivalent ANSI-SQL oracle — the rows-only set is empty.
The driver hashes TYPED values byte-exactly: CAST any DuckDB ``sum()``
that reaches a result column to BIGINT (HUGEINT hash-mismatches a
value-equal Spark BIGINT), and round(,9) every double on BOTH sides
(tools/strict_audit.py is the local reproduction of that gate).
Float columns are rounded to 9 decimals on BOTH sides so the driver's
value-hash compares bit-stable doubles (all underlying arithmetic is
int-ratio division, ln, and products — identical IEEE754 in both
engines; rounding guards the last ulp). Where an operator's natural hash
(xxhash64) or randomness (hyperplanes) is not SQL-expressible, the
operator itself was designed engine-portable instead: md5-60bit token /
frame hashes, literal-plane buckets with sequential-fold dot products,
data-derived IVF centroids (see the per-oracle comments below).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from searchengine_spark.functions.text import (
    FIXTURE_LEMMAS,
    lemma_case_sql,
    stem_case_sql,
)
from searchengine_spark.operators import dedup as DD
from searchengine_spark.operators import docmap as DM
from searchengine_spark.operators import mirrors as MI
from searchengine_spark.operators import multimodal as MM
from searchengine_spark.operators import percolate as PC
from searchengine_spark.operators import positional as PX
from searchengine_spark.operators import query as Q
from searchengine_spark.operators import rankeval as RE
from searchengine_spark.operators import redirects as RD
from searchengine_spark.operators import ranking as RK
from searchengine_spark.operators import sampling as SP
from searchengine_spark.operators import simsearch as SS
from searchengine_spark.operators import tagweights as TW
from searchengine_spark.operators import textstats as TS
from searchengine_spark.operators import textnorm as TN
from searchengine_spark.operators import tfidf as TF
from searchengine_spark.operators import traindata as TD
from searchengine_spark.sources.jsoncorpus import read_corpus


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TF.build_postings(_docs(spark, sf_dir))


_JSON_CORPUS_ROOT: list[str] = []


def _json_corpus_root() -> str:
    """Unique per-process scratch root for the json_ingest round-trip."""
    if not _JSON_CORPUS_ROOT:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="spark-graft-json-corpus-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _JSON_CORPUS_ROOT.append(d)
    return _JSON_CORPUS_ROOT[0]


def _r(df: DataFrame, *float_cols: str) -> DataFrame:
    out = df
    for c in float_cols:
        out = out.withColumn(c, F.round(F.col(c), 9))
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the tf-idf index on sf0.001 and answer a ranked
    DNF boolean query (reference E1+E2 lifecycles in one lazy DAG)."""
    postings = _postings(spark, "/root/testdata/sf0.001")
    return Q.search(postings, "spark AND window OR dup", k=5)


# --------------------------------------------------------------------------
# DuckDB-side normative tokenization (mirrors functions/text.py:tokens_sql —
# lowercase, split on [^a-z0-9'], trim " '", drop empty & >10000 chars) and
# tf/df/idf CTEs (SURVEY.md §2 A1-A5; reference helpers.py:21-27,
# index_construction.py:183-204).
# --------------------------------------------------------------------------

_DUCK_TOKENS = """
tok AS (
  SELECT doc_id, trim(t, ' ''') AS token
  FROM documents,
       unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS u(t)
),
tok2 AS (
  SELECT doc_id, token FROM tok WHERE token <> '' AND length(token) <= 10000
),
tf AS (
  SELECT doc_id, token,
         CAST(count(*) AS DOUBLE)
           / CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS DOUBLE) AS tf
  FROM tok2 GROUP BY doc_id, token
),
ndocs AS (SELECT count(DISTINCT doc_id) AS n FROM tok2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
idf AS (
  SELECT token, ln(CAST((SELECT n FROM ndocs) AS DOUBLE) / CAST(df AS DOUBLE)) AS idf
  FROM dfreq
),
postings AS (
  SELECT tf.doc_id, tf.token, tf.tf, idf.idf, tf.tf * idf.idf AS tf_idf
  FROM tf JOIN idf USING (token)
)
"""

_AND_TERMS = ["spark", "window", "dup"]
_NOT_TERMS = ["spark", "window"]
_NOT_EXCLUDE = ["dup", "slow"]
_DNF = [["spark", "dup"], ["fast", "the"]]
_BM25_TERMS = ["spark", "window", "dup"]
# mixture_report target composition (doubles shared verbatim with the
# oracle's VALUES list)
_MIXTURE_TARGETS = {"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15,
                    "zh": 0.15}
_PHRASE = ["table", "value"]
_SPELL_TERM = "quary"
# batch spell-correction fixture: misspellings at distance 1-2 of
# corpus vocabulary plus one no-match control
_SPELL_BATCH = ["quary", "streem", "filtr", "windoe", "jion", "tabel", "zzzz"]
# mojibake fixture for text_clean: decomposed e+acute, zero-width
# space, tab, BEL, double spaces — every class the normalizer handles
_NORM_SUFFIX = "  cafe\u0301 \u200bmenu\tA\u0007B  "
_SNIPPET_TERMS = ["dup"]
_ALERTS = [
    (1, "spark AND window"),
    (2, "dup"),
    (3, "vector AND batch OR stream AND slow"),
]

# corpus-mixture weights for the sampling contract queries: literal in
# BOTH engines (the integer thresholds floor(w·2^60) are derived once in
# Python, so Spark and DuckDB compare against identical bigints)
MIXTURE_WEIGHTS = {
    "src0": 1.0,
    "src1": 0.75,
    "src2": 0.5,
    "src3": 0.25,
    "src4": 0.1,
}


def _duck_and(terms: list[str]) -> str:
    uniq = sorted(set(terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    return f"""
hits AS (
  SELECT doc_id FROM postings WHERE token IN ({inlist})
  GROUP BY doc_id HAVING count(DISTINCT token) = {len(uniq)}
),
andq AS (
  SELECT p.doc_id, p.tf_idf FROM postings p JOIN hits USING (doc_id)
  WHERE p.token = '{terms[0]}'
)
"""


def _least_sampled_first(
    d: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver's correctness artifact samples a PREFIX of the
    queries() dict (the first 50 keys at round 3), so entries past the
    prefix never get an independent driver row. Order keys by how many
    past driver artifacts (CORRECTNESS_r*.json beside this file) have
    already covered them — never-sampled queries first, stable original
    order within a tie — so each round's prefix lands on the entries
    with the least independent evidence (r03 ADVICE item 4)."""
    import glob
    import json

    seen: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = json.load(fh)
        except Exception:
            continue
        keys = data.keys() if isinstance(data, dict) else data
        for k in keys:
            if isinstance(k, str):
                seen[k] = seen.get(k, 0) + 1
    items = list(d.items())
    items.sort(key=lambda kv: seen.get(kv[0], 0))  # stable
    return dict(items)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def q_tf(spark, sf):
        return _r(
            TF.term_frequencies(TF.doc_tokens(_docs(spark, sf))), "tf"
        )

    def q_doc_freq(spark, sf):
        return TF.doc_frequencies(
            TF.term_frequencies(TF.doc_tokens(_docs(spark, sf)))
        )

    def q_idf(spark, sf):
        toks = TF.doc_tokens(_docs(spark, sf))
        tf = TF.term_frequencies(toks)
        n = toks.filter(F.col("n_terms") > 0).count()
        return _r(TF.idf_table(TF.doc_frequencies(tf), n), "idf")

    def q_postings(spark, sf):
        return _r(_postings(spark, sf), "tf", "idf", "tf_idf")

    def q_index_update(spark, sf):
        # Incremental index maintenance (tfidf.update_tf +
        # postings_from_tf): start from a STALE tf table in which every
        # doc_id ≡ 0 (mod 10) was indexed with only the first half of
        # its text, apply the full-text versions as the changed delta,
        # and refresh. The oracle is the PLAIN batch postings SQL over
        # the unmodified corpus — equality proves the delta path erases
        # every trace of the old versions and converges to a rebuild.
        docs = _docs(spark, sf)
        changed = docs.filter(F.col("doc_id") % 10 == 0)
        old = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.expr(
                    "substring(text, 1, CAST(ceil(length(text)/2) AS INT))"
                ),
            ).otherwise(F.col("text")),
        )
        tf_prev = TF.term_frequencies(TF.doc_tokens(old))
        tf_next = TF.update_tf(tf_prev, changed)
        return _r(TF.postings_from_tf(tf_next), "tf", "idf", "tf_idf")

    def q_and(spark, sf):
        return _r(Q.and_query(_postings(spark, sf), _AND_TERMS), "tf_idf")

    def q_not(spark, sf):
        # boolean AND-NOT: all of _NOT_TERMS, none of _NOT_EXCLUDE
        return _r(
            Q.not_query(_postings(spark, sf), _NOT_TERMS, _NOT_EXCLUDE),
            "tf_idf",
        )

    def q_dnf(spark, sf):
        return _r(Q.dnf_query(_postings(spark, sf), _DNF), "tf_idf")

    def q_topk(spark, sf):
        return _r(
            Q.rank_topk(Q.dnf_query(_postings(spark, sf), _DNF), 5), "tf_idf"
        )

    def q_analytics(spark, sf):
        return TF.index_analytics(_postings(spark, sf))

    def q_window_quota(spark, sf):
        # T3 analog on events: per-partition ordered quota slice
        from pyspark.sql import Window

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), F.col("event_id").asc()
        )
        return (
            ev.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select(
                "event_type",
                "event_id",
                F.round(F.col("value"), 9).alias("value"),
                F.col("rk"),
            )
        )

    # ---- training-data pipeline operators (SURVEY.md §2 + dedup/ANN/
    # text-analysis/multimodal suite) ---------------------------------

    def q_exact_dedup(spark, sf):
        return DD.exact_dedup(_docs(spark, sf))

    def q_ngram_pairs(spark, sf):
        return _r(DD.ngram_dup_pairs(_docs(spark, sf), 0.7), "j")

    def q_minhash_pairs(spark, sf):
        # LSH-proposed, exact-verified: output equals the exact pair set
        # (recall tuned so P[miss | j≥0.7] < 1e-9; oracle = exact SQL)
        return _r(DD.minhash_lsh_pairs(_docs(spark, sf), 0.7), "j")

    def q_simhash_pairs(spark, sf):
        return DD.simhash_dup_pairs(_docs(spark, sf), 3)

    def q_embed_pairs(spark, sf):
        return _r(
            DD.embedding_dup_pairs(
                spark.read.parquet(os.path.join(sf, "embeddings.parquet")), 0.3
            ),
            "cosine",
        )

    def _query_vec(spark, sf):
        row = (
            spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()
        )
        return [float(x) for x in row[0]["embedding"]]

    def q_ann_topk(spark, sf):
        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        return _r(SS.brute_topk(emb, _query_vec(spark, sf), 10), "cosine")

    def q_ann_lsh(spark, sf):
        # 4 planes → 16 buckets: the testdata fixtures hold 500-2000
        # vectors, so the query's bucket is a meaningful top-k candidate
        # set while still scanning only ~1/16 of the table
        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        return _r(
            SS.lsh_topk(emb, _query_vec(spark, sf), 10, n_planes=4), "cosine"
        )

    def q_ann_lsh_probe(spark, sf):
        # multi-probe LSH: 6 planes, query bucket + the 6 margin-ordered
        # single-plane flips (~7/64 scan) — measured 2.6× the recall of
        # the single-bucket probe at the same plane count (BENCH §6)
        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        return _r(
            SS.lsh_topk(
                emb, _query_vec(spark, sf), 10, n_planes=6, n_probes=7
            ),
            "cosine",
        )

    def q_token_stats(spark, sf):
        return _r(TS.token_stats(_docs(spark, sf)), "mean_token_len")

    def q_quality(spark, sf):
        return _r(
            TS.quality_scores(_docs(spark, sf)),
            "alnum_ratio",
            "stop_ratio",
            "quality",
        )

    def q_lang_id(spark, sf):
        return TS.lang_id(_docs(spark, sf))

    def q_fingerprint(spark, sf):
        return TS.doc_fingerprint(_docs(spark, sf))

    def q_media_features(spark, sf):
        media = MM.media_table(_docs(spark, sf))
        return MM.byte_histogram_features(media).select(
            "media_id", "n_bytes", F.round("entropy", 9).alias("entropy")
        )

    def q_frame_sample(spark, sf):
        return MM.frame_sample(MM.media_table(_docs(spark, sf)))

    def q_mime_census(spark, sf):
        # magic-byte content-type census: deterministic payload fixture
        # wraps each doc's bytes in one of 8 container signatures; the
        # sniffer is a pure-codegen CASE over hex prefixes (headers lie,
        # magics do not) — the routing stage in front of decode_image
        from searchengine_spark.operators.multimodal import mime_census

        sigs = [
            "89504E470D0A1A0A", "FFD8FFE0", "474946383961",
            "255044462D312E37", "1F8B08", "504B0304",
            "52494646AAAAAAAA57454250", "",
        ]
        arr = ", ".join(f"unhex('{s}')" if s else "unhex('')" for s in sigs)
        media = _docs(spark, sf).selectExpr(
            "doc_id",
            f"concat(element_at(array({arr}), CAST(doc_id % 8 + 1 AS INT)), "
            "encode(text, 'utf-8')) AS payload",
        )
        return mime_census(media)

    def q_serp(spark, sf):
        # END-TO-END result page, hash-checked as one query: BM25
        # candidates -> static PageRank prior blend -> per-host site
        # collapse -> top-10 -> snippet join. The full serving path a
        # reference user runs, composed from the tested operators.
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        prior = LR.pagerank(
            edges, docs.select(F.col("doc_id").alias("id")), n_iters=5
        ).select(F.col("id").alias("doc_id"), "rank")
        blended = RK.blend_with_prior(
            docs, _BM25_TERMS, prior, k=50, lam=0.25
        ).select("doc_id", F.round("score", 9).alias("score"))
        hosts = docs.select(
            "doc_id",
            F.concat(
                F.lit("h"), (F.col("doc_id") % 16).cast("string"),
                F.lit(".test"),
            ).alias("host"),
        )
        page = RK.site_collapse(blended, hosts, k=10, per_host=2)
        snips = PX.snippets(docs, _BM25_TERMS, window=5).select(
            "doc_id", "snippet"
        )
        return page.join(snips, "doc_id", "left").select(
            "doc_id", "host", "score", "snippet"
        )

    def q_pivoted(spark, sf):
        # pivoted length normalization VSM (Singhal '96) — the fourth
        # ranking family; same pruned-scan one-pivot plan
        return _r(
            RK.pivoted_search(_docs(spark, sf), _BM25_TERMS, k=10), "score"
        )

    def q_assortativity(spark, sf):
        # Newman degree assortativity of the expander link graph — one
        # division of exact int sums; web graphs are disassortative
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return GS.assortativity(edges)

    def q_yule_k(spark, sf):
        # Yule's characteristic K per doc: length-robust repetitiveness
        # from exact type-frequency sums
        return TS.yule_k(_docs(spark, sf))

    def q_assoc_rules(spark, sf):
        # market-basket association rules over per-user event-type
        # sets: confidence + lift from exact distinct-basket counts
        from searchengine_spark.operators.funnel import assoc_rules

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return assoc_rules(ev, min_support=5)

    def q_rich_club(spark, sf):
        # rich-club coefficient at degree thresholds over the expander
        # link graph — hub-elite density beside assortativity
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return GS.rich_club(edges, ks=[4, 6, 8, 10])

    def q_fielded(spark, sf):
        # fielded search: lang:en filter pruning the postings BEFORE
        # the DNF evaluation (field predicate -> semi-join -> pushdown)
        docs = _docs(spark, sf)
        en = docs.filter(F.col("lang") == "en").select("doc_id")
        pruned = _postings(spark, sf).join(F.broadcast(en), "doc_id",
                                           "left_semi")
        return _r(Q.rank_topk(Q.dnf_query(pruned, _DNF), 5), "tf_idf")

    def q_seen_antijoin(spark, sf):
        # J5 shape on driver tables: "candidate not in seen-set" =
        # customers that never appear as an event actor (non-empty:
        # events covers a small user_id prefix of the customer keyspace)
        cust = spark.read.parquet(os.path.join(sf, "customer.parquet"))
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return cust.select("c_custkey").join(
            ev.select(F.col("user_id").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )

    def q_seen_antijoin_cuckoo(spark, sf):
        # J5 cuckoo backend on driver tables, exercising the REAL fast
        # path (cuckooseen.filter_new): seen-set = event actors, keyed
        # by xxhash64 like the frontier; candidates = customers. The
        # cuckoo filter short-circuits definite-new keys and the exact
        # anti-join backstops maybe-seen ones — output ≡ plain anti-join
        # (the oracle SQL) by construction.
        from searchengine_spark.crawler import cuckooseen as CK

        cust = spark.read.parquet(os.path.join(sf, "customer.parquet"))
        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        seen = ev.select(
            F.col("user_id").cast("long").alias("c_custkey")
        ).withColumn("url_hash", F.xxhash64(F.col("c_custkey").cast("string")))
        cands = cust.select(F.col("c_custkey").cast("long")).withColumn(
            "url_hash", F.xxhash64(F.col("c_custkey").cast("string"))
        )
        segments = CK.build_segments(seen, n_segments=8, m_bits=1 << 10)
        return CK.filter_new(cands, seen, segments, n_segments=8).select(
            "c_custkey"
        )

    def q_link_rank(spark, sf):
        # Distributed PageRank (operators/linkrank.py) over a
        # deterministic synthetic link graph on documents: doc d links
        # to (2d+1)%N, (3d+7)%N, (5d+11)%N — arithmetic both engines
        # reproduce exactly. 5 fixed iterations, damping 0.85; the
        # DuckDB oracle unrolls the identical chain.
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        ranks = LR.pagerank(
            edges, docs.select(F.col("doc_id").alias("id")), n_iters=5
        )
        return ranks.select(
            F.col("id").alias("doc_id"), F.round("rank", 9).alias("rank")
        )

    def q_link_rank_weighted(spark, sf):
        # Weighted PageRank over the same synthetic graph: edge j of
        # doc d carries multiplicity w = (d+j)%3 + 1 (deg = Σw, shares
        # r·w/deg) — puts linkrank's weight_col path (the crawler's
        # pre-aggregated host_graph form) under the oracle gate.
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        pairs = F.array(
            *[
                F.struct(
                    ((F.col("doc_id") * a + b) % n).alias("dst"),
                    ((F.col("doc_id") + j) % 3 + 1).cast("double").alias("w"),
                )
                for j, (a, b) in enumerate([(2, 1), (3, 7), (5, 11)])
            ]
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(pairs).alias("e")
        ).select("src", F.col("e.dst").alias("dst"), F.col("e.w").alias("w"))
        ranks = LR.pagerank(
            edges,
            docs.select(F.col("doc_id").alias("id")),
            n_iters=5,
            weight_col="w",
        )
        return ranks.select(
            F.col("id").alias("doc_id"), F.round("rank", 9).alias("rank")
        )

    def q_anchor_text(spark, sf):
        # Anchor-text index (operators/anchortext.py) over a
        # deterministic html fixture: doc d links to (2d+1)%N anchored
        # with chars 1-32 of its own text and to (3d+7)%N anchored with
        # chars 33-64. The REAL pycore anchor extractor parses the
        # fixture on the Spark side; DuckDB rebuilds the known slices
        # (the tag_weights oracle pattern). Self-links (d = N-1 under
        # rule 1) are excluded on both sides.
        from searchengine_spark.operators import anchortext as AT

        docs = _docs(spark, sf)
        n = docs.count()
        t1 = ((F.col("doc_id") * 2 + 1) % n).cast("string")
        t2 = ((F.col("doc_id") * 3 + 7) % n).cast("string")
        html = F.concat(
            F.lit('<html><body><a href="https://docs.test/'), t1,
            F.lit('">'), F.expr("substring(text, 1, 32)"), F.lit("</a>"),
            F.lit('<a href="https://docs.test/'), t2,
            F.lit('">'), F.expr("substring(text, 33, 32)"),
            F.lit("</a></body></html>"),
        )
        pages = docs.select(
            F.concat(
                F.lit("https://docs.test/"), F.col("doc_id").cast("string")
            ).alias("url"),
            html.alias("html"),
        )
        return AT.anchor_postings(pages)

    def q_hits_rank(spark, sf):
        # HITS hubs & authorities (linkrank.hits) over the same
        # deterministic synthetic graph as link_rank; single final L1
        # normalization (per-iteration norms cancel — see operator
        # docstring), oracle unrolls the identical chain.
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        hr = LR.hits(edges, docs.select(F.col("doc_id").alias("id")), n_iters=5)
        return hr.select(
            F.col("id").alias("doc_id"),
            F.round("authority", 9).alias("authority"),
            F.round("hub", 9).alias("hub"),
        )

    def q_dup_clusters(spark, sf):
        # connected-components duplicate clustering over the exact
        # near-dup pair set; cluster_id = keeper (min doc_id)
        docs = _docs(spark, sf)
        return DD.dup_clusters(DD.ngram_dup_pairs(docs, 0.7), docs)

    def q_cluster_dilution(spark, sf):
        # transitive-closure dilution census: per near-dup cluster, the
        # fraction of member pairs NOT directly similar — quantifies
        # how much chain-linking (A~B~C but A!~C) the connected-
        # components clustering admits; the validation number a dedup
        # pipeline checks before keep-best collapses a cluster
        docs = _docs(spark, sf)
        pairs = DD.ngram_dup_pairs(docs, 0.7).select("doc_a", "doc_b")
        clus = DD.dup_clusters(pairs, docs)
        sizes = (
            clus.groupBy("cluster_id")
            .agg(F.count("*").alias("size"))
            .filter(F.col("size") >= 2)
        )
        direct = (
            pairs.join(
                clus.select(
                    F.col("doc_id").alias("doc_a"), "cluster_id"
                ),
                "doc_a",
            )
            .groupBy("cluster_id")
            .agg(F.count("*").alias("n_direct"))
        )
        return (
            sizes.join(direct, "cluster_id", "left")
            .selectExpr(
                "cluster_id",
                "size",
                "coalesce(n_direct, 0L) AS n_direct",
                "size * (size - 1) div 2 AS n_possible",
            )
            .selectExpr(
                "cluster_id",
                "size",
                "n_direct",
                "n_possible",
                "round(1.0D - CAST(n_direct AS DOUBLE) "
                "/ CAST(n_possible AS DOUBLE), 9) AS dilution",
            )
        )

    def q_gini(spark, sf):
        # Gini coefficient of per-user event volume — the inequality
        # statistic beside partition_balance's max-load view
        from searchengine_spark.operators.funnel import gini_counts

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        c = ev.groupBy(F.col("user_id").alias("k")).agg(
            F.count("*").alias("n")
        )
        return gini_counts(c)

    def q_ivf_topk(spark, sf):
        # IVF coarse-quantized ANN: 8 Lloyd-trained centroids (2 det.
        # iterations on the first-256-by-id sample), nprobe=2; the
        # oracle replays the identical training arithmetic in SQL
        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        return _r(
            SS.ivf_topk(emb, _query_vec(spark, sf), 10, n_centroids=8, nprobe=2),
            "cosine",
        )

    def q_bpe_count(spark, sf):
        # LLM-cost token counting: BPE pre-tokenizer piece counts
        return TS.bpe_token_count(_docs(spark, sf))

    def q_tag_weights(spark, sf):
        # A6 over the deterministic html fixture derived from documents
        pages = TW.html_table(_docs(spark, sf))
        out = TW.tag_term_weights(pages, id_col="doc_id", html_col="html")
        return out.select(
            "url", "token", F.round("weight", 9).alias("weight")
        )

    def q_resolve_urls(spark, sf):
        # J4: ranked doc_ids → urls via the (S8) doc map, broadcast join
        docs = _docs(spark, sf)
        topk = Q.rank_topk(Q.dnf_query(_postings(spark, sf), _DNF), 5)
        out = DM.resolve_urls(topk, DM.build_doc_map(docs))
        return _r(out, "tf_idf")

    def q_tf_lemma(spark, sf):
        # F3: tf over lemmatized tokens (the shipped fixture lemma table;
        # "sort"→"order" merges counts with an existing token)
        return _r(
            TF.term_frequencies(
                TF.doc_tokens(_docs(spark, sf), lemma_map=FIXTURE_LEMMAS)
            ),
            "tf",
        )

    def q_tf_stem(spark, sf):
        # F3 open-vocabulary: tf over Porter-stemmed tokens (pycore
        # stemmer is normative; the UDF delegates — "merge"→"merg",
        # "query"→"queri", "customer"→"custom" are real rewrites in the
        # fixture vocabulary)
        return _r(
            TF.term_frequencies(TF.doc_tokens(_docs(spark, sf), stem=True)),
            "tf",
        )

    def q_stem_collapse(spark, sf):
        # the conflation table behind the stemmed index: which surface
        # forms collapse to one stem (n_forms >= 2) and how much term
        # mass each class carries — open-vocab Porter UDF Spark-side,
        # generated closed-vocab CASE in the oracle (tf_stem's split)
        from searchengine_spark.functions.text import stem_tokens_udf

        # graft deterministic morphological packs onto the corpus —
        # the 31-token synthetic vocabulary has no natural conflations
        docs = _docs(spark, sf).selectExpr(
            "doc_id",
            "concat(text, ' ', CASE doc_id % 3 "
            "WHEN 0 THEN 'merge merges merged merging' "
            "WHEN 1 THEN 'query queries queried' "
            "ELSE 'connect connection connects' END) AS text",
        )
        toks = TF.doc_tokens(docs, stem=False).filter(
            F.col("n_terms") > 0
        )
        occ = toks.select(
            F.explode("tokens").alias("token")
        ).withColumn(
            "stem", F.explode(stem_tokens_udf(F.array(F.col("token"))))
        )
        per_form = occ.groupBy("stem", "token").agg(
            F.count("*").alias("n")
        )
        return (
            per_form.groupBy("stem")
            .agg(
                F.countDistinct("token").alias("n_forms"),
                F.sum("n").alias("n_occ"),
            )
            .filter(F.col("n_forms") >= 2)
        )

    def q_json_ingest(spark, sf):
        # S1/S2/P2 round-trip: materialize the documents table as a JSON
        # corpus directory, re-ingest it through the schema-on-read
        # recursive reader, prove content integrity via md5. The corpus
        # dir is PER-PROCESS (tempfile.mkdtemp + atexit cleanup) so two
        # concurrent driver runs never race on overwrite-while-read.
        out_dir = os.path.join(
            _json_corpus_root(), os.path.basename(sf.rstrip("/"))
        )
        _docs(spark, sf).select(
            F.concat(F.lit("https://docs.test/"), F.col("doc_id").cast("string")).alias("url"),
            F.col("text").alias("content"),
            F.lit("utf-8").alias("encoding"),
        ).write.mode("overwrite").json(out_dir)
        corpus = read_corpus(spark, out_dir, multiline=False)
        return corpus.select(
            "url", F.md5("content").alias("content_md5"), "encoding"
        )

    def q_sessions(spark, sf):
        # session windows (merging-window aggregate, streaming-capable)
        from searchengine_spark.operators.windows import session_aggregate

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = session_aggregate(ev, "30 minutes")
        return out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("ss"),
            "n_events",
            F.round("sum_value", 9).alias("sum_value"),
        )

    def q_tumbling(spark, sf):
        from searchengine_spark.operators.windows import tumbling_counts

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = tumbling_counts(ev, "1 hour")
        # window start as a string — engine-neutral timestamp compare
        return out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n_events",
            F.round("sum_value", 9).alias("sum_value"),
        )

    def q_sample_stratified(spark, sf):
        # per-stratum exact top-k by md5-60bit priority (two-phase
        # skew-proof window, see sampling.sample_stratified)
        return SP.sample_stratified(_docs(spark, sf), "lang", k=3)

    def q_mixture_sample(spark, sf):
        # deterministic weighted corpus mixture: integer-threshold
        # Bernoulli on h60(doc_id), thresholds broadcast-joined
        return SP.mixture_sample(_docs(spark, sf), MIXTURE_WEIGHTS)

    def q_repetition(spark, sf):
        # Gopher-style within-doc repetition (duplicate-bigram fraction)
        return TS.repetition_stats(_docs(spark, sf))

    def q_index_size(spark, sf):
        # posting-list capacity planning: delta-gap + varint size vs
        # raw int64, exact integer arithmetic (one shuffle; the
        # groupBy reuses the lag window's token partitioning)
        return TF.postings_size_estimate(
            TF.build_postings(_docs(spark, sf)).select("doc_id", "token")
        )

    def q_dict_size(spark, sf):
        # term-dictionary capacity planning: front coding vs raw, the
        # companion to index_size — lag window PARTITIONED by
        # first-char block (never a global dictionary sort)
        return _r(
            TF.dict_size_estimate(
                TF.build_postings(_docs(spark, sf)).select("token")
            ),
            "ratio",
        )

    def q_lm_score(spark, sf):
        # corpus-trained add-one bigram LM score (CCNet LM-filter
        # analog): count tables map-side combined, score join reuses
        # the (w1,w2) agg exchange, per-doc sum is a position-ordered
        # sequential fold (bit-equal in DuckDB)
        return TS.lm_score(_docs(spark, sf))

    def q_keep_best(spark, sf):
        # dedup retention: one representative per duplicate cluster,
        # argmax quality (tie → min doc_id) via skew-proof
        # max(struct) partial aggregation
        docs = _docs(spark, sf)
        clusters = DD.dup_clusters(DD.ngram_dup_pairs(docs, 0.7), docs)
        return DD.keep_best(clusters, TS.quality_scores(docs))

    def q_crawl_depth(spark, sf):
        # min-hop BFS distance from the seed slice over the synthetic
        # doc link graph (the reference's FIFO-BFS priority key as a
        # batch analytic); frontier-only joins, level-checkpointed
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        seeds = docs.filter("doc_id % 97 = 0").select(
            F.col("doc_id").alias("id")
        )
        return LR.crawl_depth(edges, seeds)

    def q_nb_classify(spark, sf):
        # multinomial NB source classifier (the curation-pipeline
        # "quality/domain classifier" slot): trained on the doc_id%2==0
        # split by pure counting (exact ints), scores the rest via
        # position-ordered ln-folds — bit-reproducible, hash-oracled
        from searchengine_spark.operators.classify import nb_classify

        return nb_classify(_docs(spark, sf), label_col="lang")

    def q_opic(spark, sf):
        # OPIC crawl-priority scores (Abiteboul et al. 2003) over the
        # same synthetic link graph as crawl_depth: 3 synchronous
        # integer-cash rounds (largest-remainder splits, same-round
        # uniform dangling redistribution) — exact int64 cash/history,
        # order-independent by construction
        from searchengine_spark.operators.opic import opic_scores

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        # doc_id % 11 == 0 srcs emit no links → real dangling nodes, so
        # the uniform-redistribution path is exercised and oracle-checked
        edges = docs.filter("doc_id % 11 != 0").select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        nodes = docs.select(F.col("doc_id").alias("id"))
        return opic_scores(edges, nodes, rounds=3, dense_ids=True)

    def q_curate(spark, sf):
        # the end-to-end curation pipeline composed from the suite's
        # own operators: exact dedup → near-dup keep-best → quality
        # gate, one status per document
        return TD.curate(_docs(spark, sf), quality_threshold=0.4)

    def q_decontaminate(spark, sf):
        # benchmark decontamination: train docs sharing any word 5-gram
        # with the deterministic doc_id % 97 == 0 eval slice (broadcast
        # eval grams, map-side semi-join — the corpus never shuffles)
        out = TD.decontaminate(_docs(spark, sf), n=5, eval_mod=97)
        return out.withColumn(
            "contaminated", F.col("contaminated").cast("int")
        )

    def q_span_dedup(spark, sf):
        # corpus-wide first-occurrence dedup of 8-token spans (C4-style
        # line dedup over fixed-span segmentation); winner per span via
        # skew-proof min(struct) partial aggregation
        return TD.span_dedup(_docs(spark, sf), span_tokens=8)

    def q_exact_substr(spark, sf):
        # ExactSubstr duplication census (Lee et al. 2022 shape):
        # stride-1 W-token windows, corpus-global multiplicity, maximal
        # duplicated spans by interval union — catches duplicated text
        # at any alignment where span_dedup's stride-k segmentation
        # can't; md5 window keys keep shuffle rows fixed-width
        return TD.exact_substr(_docs(spark, sf), window_tokens=8)

    def q_pii_scrub(spark, sf):
        # PII redaction counts + scrubbed-text md5 over the injected
        # deterministic fixture (RE2-compatible regexes run identically
        # in Java regex and DuckDB)
        return TD.pii_scrub(TD.pii_table(_docs(spark, sf)))

    def q_pack_sequences(spark, sf):
        # GPT-style concat-and-chunk packing: per-shard running token
        # offsets → training-sequence index spans (one window/shard)
        return TD.pack_sequences(_docs(spark, sf), seq_len=512)

    def q_bm25(spark, sf):
        # Okapi BM25 top-10 (any-term): weight table shares the index's
        # two shuffles; per-term contributions pivot into fixed columns
        # so the float sum order is deterministic in both engines
        w = RK.bm25_table(_docs(spark, sf))
        return _r(RK.bm25_search(w, _BM25_TERMS, k=10), "score")

    def q_mmr_rerank(spark, sf):
        # MMR diversified re-rank (Carbonell & Goldstein 1998) of the
        # BM25 top-10 page: greedy argmax lam*rel - (1-lam)*max-cosine
        # -to-selected, run inside ONE bounded applyInPandas group
        # executing pycore/mmr.py verbatim; the oracle unrolls the k=5
        # greedy steps as per-step argmax CTEs (the bpe_train /
        # markov_stationary pattern) over the same raw BM25 relevance
        # and raw tf-idf doc vectors, with token-ordered cosine folds
        page = RK.bm25_search(
            RK.bm25_table(_docs(spark, sf)), _BM25_TERMS, k=10
        )
        return _r(
            RK.diversify_mmr(page, _postings(spark, sf), lam=0.5, k=5),
            "mmr_score",
        )

    def q_anf(spark, sf):
        # HyperANF: per-node |ball(v, 3)| estimate via iterated HLL
        # register max-merges (order-free exact ints; the one float is
        # the shared hll_estimate_registers arithmetic)
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        out = GS.anf(
            edges, docs.select(F.col("doc_id").alias("id")), radius=3, p=4
        )
        return _r(
            out.select(
                F.col("id").alias("doc_id"), "n_registers", "est_reach"
            ),
            "est_reach",
        )

    def q_modularity(spark, sf):
        # Newman-Girvan modularity of the LPA partition over the
        # expander fixture — exact intra-edge/degree sums into
        # label-ordered Q-term folds ("did LPA find real structure")
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        comm = GS.lpa_communities(edges, n_iters=3)
        return _r(GS.modularity(edges, comm), "modularity")

    def q_pmi_expand(spark, sf):
        # distributional-thesaurus query expansion: top-5 windowed-PMI
        # associations per query term, direction-collapsed counts
        # summed before the PMI
        return _r(
            PX.pmi_expand(_docs(spark, sf), _BM25_TERMS, m=5, w=5,
                          min_count=5),
            "pmi",
        )

    def q_anchor_entropy(spark, sf):
        # anchor-vocabulary entropy per target (nepotistic-link
        # signal): H over the anchor postings' exact weights,
        # token-ordered fold — third link-spam alarm next to
        # reciprocity and degree_tail
        from searchengine_spark.operators import anchortext as AT

        docs = _docs(spark, sf)
        n = docs.count()
        t1 = ((F.col("doc_id") * 2 + 1) % n).cast("string")
        t2 = ((F.col("doc_id") * 3 + 7) % n).cast("string")
        html = F.concat(
            F.lit('<html><body><a href="https://docs.test/'), t1,
            F.lit('">'), F.substring(F.col("text"), 1, 32),
            F.lit('</a><a href="https://docs.test/'), t2,
            F.lit('">'), F.substring(F.col("text"), 33, 32),
            F.lit("</a></body></html>"),
        )
        pages = docs.select(
            F.concat(
                F.lit("https://docs.test/"), F.col("doc_id").cast("string")
            ).alias("url"),
            html.alias("html"),
        )
        return _r(AT.anchor_entropy(AT.anchor_postings(pages)), "entropy")

    def q_path_census(spark, sf):
        # URL-space census by path prefix (scope decisions): <=3
        # ancestor rows per url, one (host, prefix) count agg
        from searchengine_spark.operators import urlmining as UM

        return UM.path_prefix_census(
            UM.url_fixture(_docs(spark, sf)), max_depth=3
        )

    def q_good_turing(spark, sf):
        # Good-Turing discounted counts r* = (r+1)N_{r+1}/N_r off the
        # exact frequency spectrum (Katz smoothing's core table)
        # the synthetic corpus has a CLOSED 31-token vocabulary, so all
        # counts are large — lift the r cutoff so the oracle checks
        # real rows (production Katz uses the small-r default)
        return _r(
            TS.good_turing_discounts(_docs(spark, sf), max_r=10_000_000),
            "r_star",
        )

    def q_nqc(spark, sf):
        # Normalized Query Commitment (post-retrieval QPP, Shtok et
        # al.): std of the bm25 top-50 scores over the collection score
        # magnitude — bounded folds only, nothing past the search plan
        return _r(
            RK.nqc_score(_docs(spark, sf), _BM25_TERMS, k=50), "mu", "nqc"
        )

    def q_rank_corr(spark, sf):
        # Kendall tau / Spearman rho agreement of the BM25 vs QLM
        # top-50 pages (exact pair counts + two IEEE divisions); the
        # O(n^2) pair join is bounded by the page size, never corpus
        docs = _docs(spark, sf)
        bm = RK.bm25_search(RK.bm25_table(docs), _BM25_TERMS, k=50)
        ql = RK.qlm_search(docs, _BM25_TERMS, k=50)
        return RE.rank_correlation(bm, ql)

    def q_kn_bigrams(spark, sf):
        # interpolated Kneser-Ney bigram probabilities — continuation
        # counts fix add-one's collocation pathology; all stats derive
        # from ONE (w1,w2) agg over the bigram stream
        return TS.kneser_ney_bigrams(_docs(spark, sf), min_count=5)

    def q_lmjm(spark, sf):
        # Jelinek-Mercer smoothed LM ranking (fixed-mix sibling of the
        # Dirichlet qlm): same pruned-scan + one-pivot plan
        return _r(
            RK.lmjm_search(_docs(spark, sf), _BM25_TERMS, k=10), "score"
        )

    def q_zipf(spark, sf):
        # Zipf rank-frequency OLS exponent over the top-1000 terms —
        # TakeOrdered cut, then rank-ordered folds on <=1000 rows
        return TS.zipf_fit(_docs(spark, sf), max_rank=1000)

    def q_pl2(spark, sf):
        # DFR PL2 (Poisson randomness + Laplace + length-norm-2): the
        # third ranking family beside BM25 and the LM smoothers; term
        # arithmetic text is shared verbatim with the oracle
        return _r(
            RK.pl2_search(_docs(spark, sf), _BM25_TERMS, k=10), "score"
        )

    def q_salt_balance(spark, sf):
        # hot-host skew and its salting fix as hash-checked data: a
        # 50%-hot host fixture routed by h60(host)%8 vs the two-phase
        # salted key — max_load collapse is the ST3 mechanism measured
        from searchengine_spark.operators.sharding import partition_balance

        d = _docs(spark, sf).selectExpr(
            "doc_id",
            "CASE WHEN doc_id % 2 = 0 THEN 'hot.test' ELSE "
            "concat('h', CAST(doc_id % 16 AS STRING), '.test') END AS host",
        )
        return partition_balance(
            d, "host", n_partitions=8, n_salts=64, id_sql="(doc_id >> 1)"
        )

    def q_blocklist(spark, sf):
        # registrable-domain blocklist gate (UT1/Dolma-style): one
        # deny entry kills every subdomain shard; pure codegen CASE+IN
        from searchengine_spark.functions.urls import (
            blocklist_gate_col,
            pld_col,
        )

        deny = ["site3.co.uk", "user7.github.io", "site5.com"]
        d = _docs(spark, sf).selectExpr(
            "CASE doc_id % 5 "
            "WHEN 0 THEN concat('www.site', CAST(doc_id % 20 AS STRING), "
            "'.co.uk') "
            "WHEN 1 THEN concat('blog.site', CAST(doc_id % 20 AS STRING), "
            "'.com') "
            "WHEN 2 THEN concat('user', CAST(doc_id % 50 AS STRING), "
            "'.github.io') "
            "WHEN 3 THEN concat('cdn.site', CAST(doc_id % 10 AS STRING), "
            "'.yamanashi.jp') "
            "ELSE concat('site', CAST(doc_id % 20 AS STRING), '.com') END "
            "AS host"
        )
        return (
            d.select(
                pld_col("host").alias("pld"),
                blocklist_gate_col("host", deny).alias("blocked"),
            )
            .groupBy("pld", "blocked")
            .agg(F.count("*").alias("n_hosts"))
        )

    def q_burstiness(spark, sf):
        # Church-Gale term burstiness P(tf>=2 | tf>=1): topical words
        # burst, glue words spread — exact counts + one ratio
        return _r(TS.term_burstiness(_docs(spark, sf), min_df=5),
                  "burstiness")

    def q_sign_test(spark, sf):
        # paired sign-flip permutation test (Smucker et al. 2007) over
        # a deterministic 20-query paired-metric fixture; coins =
        # h60('perm:qid') % 2, so the whole test is RNG-free and
        # hash-oracled
        from searchengine_spark.operators.rankeval import paired_sign_test

        d = F.col("doc_id")
        a = ((d * 7) % 10 + 2).cast("double") / F.lit(12.0)
        delta = F.when(d % 3 == 0, F.lit(0.08)).otherwise(F.lit(-0.02))
        m = (
            _docs(spark, sf)
            .filter(d < 20)
            .select(
                d.alias("query_id"),
                a.alias("metric_a"),
                (a - delta).alias("metric_b"),
            )
        )
        return _r(paired_sign_test(m, n_perm=200), "mean_diff", "p_value")

    def q_prior_blend(spark, sf):
        # static-quality-prior blending (IIR 7.1.4): bm25 top-50
        # candidates re-ranked by score + 0.25*ln(pagerank) over the
        # synthetic link graph — candidates broadcast, bounded re-rank
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        prior = LR.pagerank(
            edges, docs.select(F.col("doc_id").alias("id")), n_iters=5
        ).select(F.col("id").alias("doc_id"), "rank")
        return _r(
            RK.blend_with_prior(docs, _BM25_TERMS, prior, k=10, lam=0.25),
            "score",
        )

    def q_site_collapse(spark, sf):
        # SERP site collapsing: bm25 top-50 candidate page, at most 2
        # results per host (hosts from the url fixture's doc_id%16
        # mapping), re-ranked top-10
        w = RK.bm25_table(_docs(spark, sf))
        ranked = RK.bm25_search(w, _BM25_TERMS, k=50)
        hosts = _docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.lit("h"), (F.col("doc_id") % 16).cast("string"),
                F.lit(".test"),
            ).alias("host"),
        )
        return _r(RK.site_collapse(ranked, hosts, k=10, per_host=2), "score")

    def q_mixture_report(spark, sf):
        # data-mixture KL diagnostics vs a fixed target composition —
        # one bucket count agg + broadcast literal target dim
        from searchengine_spark.operators.sampling import mixture_report

        return _r(
            mixture_report(_docs(spark, sf), _MIXTURE_TARGETS),
            "share", "kl_term", "ratio",
        )

    def q_reciprocity(spark, sf):
        # directed-edge reciprocity over the synthetic graph — one
        # reversed-key semi-join, exact counts, drift alarm next to
        # degree_tail
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return _r(GS.reciprocity(edges), "reciprocity")

    def q_window_pmi(spark, sf):
        # +-5-window co-occurrence PMI (collocations widened): doc_id
        # equi-join with an in-partition position band — fan-out
        # n_tokens*w per doc, never corpus-quadratic
        return _r(PX.window_pmi(_docs(spark, sf), w=5, min_count=5), "pmi")

    def q_novelty(spark, sf):
        # corpus-order novelty: fraction of a doc's distinct 8-grams
        # first appearing in THIS doc (min-doc_id ownership) — exact
        # ints, one gram-keyed min agg + same-key join back
        return _r(TD.novelty_scores(_docs(spark, sf), n=8), "novelty")

    def q_readability(spark, sf):
        # Flesch reading ease with the published constants: sentence
        # runs + vowel-group syllables, integer folds, ONE fixed float
        # expression
        return _r(TS.readability_scores(_docs(spark, sf)), "flesch")

    def q_neighborhood_fn(spark, sf):
        # neighborhood function N(r) + effective diameter (90% rule)
        # from the anf register iteration — per-radius scalars folded
        # in node order, O(radius) bounded driver actions
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return _r(
            GS.neighborhood_function(
                edges, docs.select(F.col("doc_id").alias("id")),
                max_radius=3, p=4,
            ),
            "est_pairs",
        )

    def q_transitions(spark, sf):
        # first-order Markov event-transition matrix: one lag window
        # per user stream (event-id tie-break), exact-int row-normalized
        from searchengine_spark.operators.windows import event_transitions

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return _r(event_transitions(ev), "p")

    def q_markov_stationary(spark, sf):
        # long-run occupancy of the user-journey Markov chain: 8
        # unrolled pi=pi.P products over the tiny transition matrix,
        # prev-ordered folds keep every pi bit-reproducible
        from searchengine_spark.operators.windows import markov_stationary

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return markov_stationary(ev, n_iters=8)

    def q_colloc_g2(spark, sf):
        # Dunning log-likelihood collocations (the G2 original use
        # case) — frequency-weighted evidence beside colloc_pmi
        return _r(PX.collocations_g2(_docs(spark, sf), min_count=5), "g2")

    def q_active_users(spark, sf):
        # DAU/WAU/MAU + stickiness: one distinct (user, day)
        # projection, trailing ranges as day-dim joins, exact counts
        from searchengine_spark.operators.windows import active_users

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return active_users(ev)

    def q_funnel_latency(spark, sf):
        # time-to-convert quantiles for the view->click->purchase
        # funnel (same pseudo-users as q_funnel): exact two-phase
        # histogram rank selection over integer-second latencies
        from searchengine_spark.operators.funnel import funnel_latency

        ev = spark.read.parquet(os.path.join(sf, "events.parquet")).select(
            (F.col("event_id") % 200).alias("user_id"), "ts", "event_type"
        )
        return funnel_latency(ev, ["view", "click", "purchase"])

    def q_lsh_curve(spark, sf):
        # banding s-curve on real pairs: P(capture) = 1-(1-J^2)^32 via
        # integer-exponent multiply/square chains (no libm pow)
        return DD.lsh_capture_curve(_docs(spark, sf), threshold=0.5)

    def q_session_paths(spark, sf):
        # top clickstream paths per gap-session (event types joined in
        # (ts, id) order) — the whole-journey census behind funnels
        from searchengine_spark.operators.funnel import session_paths

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return session_paths(ev, gap_minutes=30, min_count=3)

    def q_packing_waste(spark, sf):
        # why sequence packing exists, as ints: concat-and-chunk seqs
        # vs naive per-doc padding seqs, per shard
        return TD.packing_waste(_docs(spark, sf), seq_len=512)

    def q_crawl_delay(spark, sf):
        # Crawl-delay directive census from raw robots bodies: first
        # integer wins, absent/malformed -> 1 s; max_qps feeds the
        # politeness token bucket
        from searchengine_spark.functions.robots import crawl_delay_census

        d = F.col("doc_id")
        bodies = _docs(spark, sf).filter(d % 3 != 2).select(
            F.concat(F.lit("h"), (d % 16).cast("string"),
                     F.lit(".test")).alias("host"),
            F.when(
                d % 5 == 0, F.lit("User-agent: *\nDisallow: /tmp\n")
            )
            .when(d % 7 == 0, F.lit("User-agent: *\nCrawl-delay: fast\n"))
            .otherwise(
                F.concat(
                    F.lit("User-agent: *\nCrawl-delay: "),
                    (d % 9).cast("string"),
                    F.lit("\nDisallow: /private\n"),
                )
            )
            .alias("body"),
        )
        return crawl_delay_census(bodies)

    def q_bom_census(spark, sf):
        # Unicode BOM sniffing census (utf-8/16/32 hints from leading
        # bytes; utf-32-le tested before utf-16-le — the classic
        # ordering bug) over a deterministic BOM-wrapped fixture
        from searchengine_spark.operators.multimodal import sniff_bom_sql

        media = _docs(spark, sf).selectExpr(
            "concat(element_at(array(unhex('EFBBBF'), unhex('FFFE'), "
            "unhex('FEFF'), unhex('FFFE0000'), unhex('')), "
            "CAST(doc_id % 5 + 1 AS INT)), encode(text, 'utf-8')) "
            "AS payload"
        )
        return (
            media.selectExpr(f"{sniff_bom_sql('payload')} AS bom")
            .groupBy("bom")
            .agg(F.count("*").alias("n_payloads"))
        )

    def q_burst_mad(spark, sf):
        # robust burst detection: hours > k MADs from the per-type
        # MEDIAN rate — spikes can't mask each other the way they
        # inflate a z-score's sigma; exact ints end to end
        from searchengine_spark.operators.windows import burst_windows_mad

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return burst_windows_mad(ev, k=3)

    def q_doc_keywords(spark, sf):
        # per-doc top-5 tf-idf keywords (related-tags surface): one
        # doc-partitioned window over the posting table
        return _r(TF.doc_keywords(_postings(spark, sf), k=5), "tf_idf")

    def q_burst(spark, sf):
        # per-type hourly burst detection: z-score against the type's
        # own windows, mean/sigma from exact integer sums
        from searchengine_spark.operators.windows import burst_windows

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return _r(burst_windows(ev), "z")

    def _directive_pages(spark, sf):
        # deterministic html fixture exercising every directive branch:
        # %7==0 noindex+nofollow, %7==3 noindex only, %5==0 canonical
        # (rel-first attr order), %5==2 canonical (href-first order)
        d = F.col("doc_id")
        docs = _docs(spark, sf)
        ch = F.concat(
            F.lit("https://h"), (d % 16).cast("string"),
            F.lit(".test/canon/"), (d % 50).cast("string"),
        )
        meta = (
            F.when(
                d % 7 == 0,
                F.lit('<meta name="robots" content="noindex,nofollow">'),
            )
            .when(d % 7 == 3, F.lit('<meta name="robots" content="noindex">'))
            .otherwise(F.lit(""))
        )
        link = (
            F.when(
                d % 5 == 0,
                F.concat(F.lit('<link rel="canonical" href="'), ch,
                         F.lit('">')),
            )
            .when(
                d % 5 == 2,
                F.concat(F.lit('<link href="'), ch,
                         F.lit('" rel="canonical">')),
            )
            .otherwise(F.lit(""))
        )
        return docs.select(
            "doc_id",
            F.concat(
                F.lit("<html><head>"), meta, link,
                F.lit("<title>T"), d.cast("string"),
                F.lit("</title></head><body>"),
                F.substring(F.col("text"), 1, 200),
                F.lit("</body></html>"),
            ).alias("html"),
        )

    def q_directives(spark, sf):
        # page-level REP: meta-robots noindex/nofollow flags +
        # rel=canonical extraction (both attribute orders) — one
        # case-insensitive RE2-safe regexp projection per signal
        from searchengine_spark.operators import directives as DV

        return DV.page_directives(_directive_pages(spark, sf))

    def q_canonical_census(spark, sf):
        # canonical consolidation census: pages grouped by their
        # rel=canonical target (own url when none) — the pre-dedup
        # parameter-family collapse
        from searchengine_spark.operators import directives as DV
        from searchengine_spark.operators import urlmining as UM

        pages = _directive_pages(spark, sf).join(
            UM.url_fixture(_docs(spark, sf)), "doc_id"
        )
        return DV.canonical_census(pages)

    def q_stopwords(spark, sf):
        # corpus-statistical stopword induction (Luhn upper cut):
        # top-20 by collection frequency with df + token-mass coverage
        return _r(TS.stopword_census(_docs(spark, sf), k=20), "coverage")

    def q_harmonic(spark, sf):
        # seed-set harmonic centrality (Boldi-Vigna): frontier-only
        # per-seed BFS (levels join only the previous frontier), 1/d
        # folded in seed order; recursive-CTE oracle
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        seeds = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("id")
        )
        hc = LR.harmonic_centrality(edges, seeds, max_depth=6)
        return _r(
            hc.select(F.col("id").alias("doc_id"), "harmonic"), "harmonic"
        )

    def q_cdc_chunks(spark, sf):
        # token-level content-defined chunking (Rabin/FastCDC boundary
        # rule on the md5-60bit rolling window): per-row array exprs
        # only — zero shuffle; chunk identity re-syncs after edits
        return TD.cdc_chunks(_docs(spark, sf), w=4, divisor=16)

    def q_soft404(spark, sf):
        # content-signal soft-404 gate over a deterministically injected
        # fixture: %29 docs become short cue-phrase error pages (flag),
        # %31 docs get a cue appended to long text (no flag — length
        # guard), everything else clean
        d = F.col("doc_id")
        docs = _docs(spark, sf).select(
            "doc_id",
            F.when(
                d % 29 == 0,
                F.lit(
                    "Error 404 Not Found. The page you requested "
                    "does not exist."
                ),
            )
            .when(d % 31 == 0, F.concat(F.col("text"), F.lit(" page not found")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return TS.soft404_scores(docs)

    def q_rake(spark, sf):
        # RAKE keyword phrases: stopword-delimited runs, degree/freq
        # word scores, position-ordered phrase-score folds, per-doc
        # top-3 window — every key doc_id-prefixed, no global ordering
        return _r(PX.rake_keywords(_docs(spark, sf), k=3), "score")

    def q_salsa(spark, sf):
        # SALSA (degree-normalized HITS — the TKC fix; Twitter-WTF
        # power-iterated form) over the same deterministic graph as
        # hits_rank; unrolled-CTE oracle
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        sr = LR.salsa(
            edges, docs.select(F.col("doc_id").alias("id")), n_iters=5
        )
        return _r(
            sr.select(F.col("id").alias("doc_id"), "authority", "hub"),
            "authority",
            "hub",
        )

    def q_degree_tail(spark, sf):
        # in/out degree tail + Hill MLE power-law exponent over the
        # synthetic graph: folded by DEGREE VALUE (bounded distinct
        # degrees), never per node — no corpus-sized collect_list
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return _r(GS.degree_tail_stats(edges, d_min=2), "alpha")

    def q_cohort(spark, sf):
        # weekly cohort retention triangle over events — exact-integer
        # analytics (distinct user-week grid + per-user min), no
        # windows, no float tolerance
        from searchengine_spark.operators.windows import cohort_retention

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return cohort_retention(ev)

    def q_crawl_delta(spark, sf):
        # two-generation crawl diff per host: full-outer join on url,
        # fingerprint compare -> added/removed/changed/same census
        # (deterministic old/new derived from the URL fixture; the
        # /static/about family is excluded — it collapses to one url
        # per host and would multi-match the join)
        from searchengine_spark.operators import recrawl as RC
        from searchengine_spark.operators import urlmining as UM

        docs = _docs(spark, sf)
        d = F.col("doc_id")
        base = (
            UM.url_fixture(docs)
            .join(docs.select("doc_id", "text"), "doc_id")
            .filter(d % 5 != 4)
        )
        old = base.filter(d % 13 != 0).select(
            "url", F.md5("text").alias("fp")
        )
        new = base.filter(d % 11 != 0).select(
            "url",
            F.when(d % 7 == 0, F.md5(F.concat(F.col("text"), F.lit("v2"))))
            .otherwise(F.md5("text"))
            .alias("fp"),
        )
        return RC.delta_census(old, new)

    def q_lm_trigram(spark, sf):
        # Jelinek-Mercer interpolated trigram LM score (lm_score one
        # order up): three map-side-combined count tables join back to
        # the trigram stream on their own agg keys; position-ordered
        # fold keeps avg_logprob bit-stable
        return TS.lm_score_trigram(_docs(spark, sf))

    def q_cosine_pairs(spark, sf):
        # sparse tf-idf cosine near-dup pairs: ONE token equi-join with
        # a df-cut on hot tokens (norms stay exact, so the capped
        # cosine only under-reports — never invents a pair)
        return _r(
            DD.tfidf_cosine_pairs(_docs(spark, sf), threshold=0.5, max_df=50),
            "cos",
        )

    def q_eliasfano(spark, sf):
        # exact Elias-Fano encoded size of every token's sorted doc-id
        # posting list (Vigna quasi-succinct) — pure 64-bit arithmetic
        # per token (floor(log2) boundary-repaired), no float tolerance
        from searchengine_spark.operators import postcompress as PZ

        return PZ.eliasfano_sizes(_postings(spark, sf))

    def q_clarity(spark, sf):
        # Cronen-Townsend query clarity (QPP): KL(feedback LM ||
        # collection LM) in bits over the QLM top-10; doc_id/token
        # ordered folds keep the score bit-reproducible
        return _r(
            RK.clarity_score(_docs(spark, sf), _BM25_TERMS, k_fb=10),
            "clarity",
        )

    def q_rrf(spark, sf):
        # Reciprocal Rank Fusion of the BM25 + QLM rankings (Cormack
        # et al. 2009): rank-based, calibration-free fusion; the fused
        # frame is bounded by n_cand so the rank windows never see
        # corpus-sized partitions
        return _r(
            RK.rrf_fuse(_docs(spark, sf), _BM25_TERMS, k=10, n_cand=50),
            "score",
        )

    def q_phrase(spark, sf):
        # positional index + adjusted-offset phrase match: k pruned
        # scans + ONE groupBy(doc_id, start) — no k-way self-join
        pp = PX.positional_postings(_docs(spark, sf))
        return PX.phrase_match(pp, _PHRASE)

    def q_colloc(spark, sf):
        # adjacent-bigram PMI over exact integer counts (Church & Hanks
        # estimator); ln arithmetic bit-matches the oracle
        return _r(PX.collocations(_docs(spark, sf), min_count=5), "pmi")

    def q_champions(spark, sf):
        # impact-ordered index: exact per-token top-3 via salted
        # two-phase window (stopword posting lists never hit one task)
        w = RK.bm25_table(_docs(spark, sf))
        return _r(RK.champion_lists(w, k=3), "weight")

    def q_snippets(spark, sf):
        # result-page snippet: 11-token context around the first hit of
        # any query term; text never leaves the executors
        return PX.snippets(_docs(spark, sf), _SNIPPET_TERMS, window=5)

    def q_ppr(spark, sf):
        # personalized PageRank from seeds doc_id % 100 == 0 over the
        # link_rank graph — teleport/dangling mass returns to the seeds
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        seeds = docs.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("id")
        )
        return _r(
            LR.personalized_pagerank(edges, seeds, n_iters=5)
            .withColumnRenamed("id", "doc_id"),
            "rank",
        )

    def q_weighted_sample(spark, sf):
        # A-ES weighted sampling: w = text length, deterministic keys
        return _r(
            SP.weighted_sample(
                _docs(spark, sf), F.length("text"), k=50, id_col="doc_id"
            ),
            "weight", "key",
        )

    def q_textrank(spark, sf):
        # TextRank keywords: weighted PageRank over the adjacent-token
        # co-occurrence graph (reuses linkrank's iteration plan)
        return _r(PX.textrank(_docs(spark, sf), n_iters=5), "rank")

    def q_complete(spark, sf):
        # autocomplete: s* completions from the dictionary by df
        vocab = TF.doc_frequencies(
            TF.term_frequencies(TF.doc_tokens(_docs(spark, sf)))
        )
        return PX.complete(vocab, "s", k=5)

    def q_cocitation(spark, sf):
        # co-citation relatedness over the same synthetic link graph as
        # link_rank; fan-out bounded by out-degree (3), integer-exact
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return LR.cocitation(edges, min_count=2)

    def q_prefix(spark, sf):
        # wildcard s*: range predicate (token >= 's' AND < 't') pushes
        # to the token-sorted index's min/max stats; folded per-doc sum
        return _r(Q.prefix_search(_postings(spark, sf), "s", k=10), "score")

    def q_suffix(spark, sf):
        # wildcard *der: reverse-dictionary trick — leading-prefix
        # range on reverse(token), pushdown-able on an rtoken-sorted
        # layout; token-ordered fold for bit-stable scores
        return _r(
            Q.suffix_search(_postings(spark, sf), "der", k=10), "score"
        )

    def q_domain_split(spark, sf):
        # leakage-safe 80/10/10 split keyed on registrable domain —
        # every page of a pld lands in ONE split by construction; the
        # census (n_docs, n_plds per split) is the verifiable artifact
        from searchengine_spark.functions.urls import pld_col
        from searchengine_spark.operators.sampling import domain_split

        d = _docs(spark, sf).selectExpr(
            "doc_id",
            "CASE doc_id % 5 "
            "WHEN 0 THEN concat('www.site', CAST((doc_id div 5) % 20 AS STRING), "
            "'.co.uk') "
            "WHEN 1 THEN concat('blog.site', CAST((doc_id div 5) % 20 AS STRING), "
            "'.com') "
            "WHEN 2 THEN concat('user', CAST((doc_id div 5) % 50 AS STRING), "
            "'.github.io') "
            "WHEN 3 THEN concat('cdn.site', CAST((doc_id div 5) % 10 AS STRING), "
            "'.yamanashi.jp') "
            "ELSE concat('site', CAST((doc_id div 5) % 20 AS STRING), '.com') END "
            "AS host"
        ).withColumn("pld", pld_col("host"))
        return (
            domain_split(d, "pld")
            .groupBy("split")
            .agg(
                F.count("*").alias("n_docs"),
                F.countDistinct("pld").alias("n_plds"),
            )
        )

    def q_sdm(spark, sf):
        # Metzler-Croft sequential dependence model: unigram + ordered
        # adjacent + unordered-window-8 Dirichlet features at the
        # canonical (0.85, 0.1, 0.05) weights — the positional upgrade
        # over bag-of-words ranking, all from token-pruned scans
        return _r(
            PX.sdm_search(_docs(spark, sf), _BM25_TERMS, k=10), "score"
        )

    def q_pq_topk(spark, sf):
        # product-quantization ADC top-k: 8 subspaces x 8 centroids
        # (recall@10 = 6/10 vs brute at sf0.001 — tested),
        # same Lloyd trainer as IVF on subvector slices; codes via one
        # explode+broadcast argmin, ADC = j-ordered fold of lookups
        from searchengine_spark.operators import simsearch as SS

        return _r(
            SS.pq_topk(
                spark.read.parquet(os.path.join(sf, "embeddings.parquet")),
                _query_vec(spark, sf),
                k=10,
                m=8,
            ),
            "approx_d2",
        )

    def q_spam_mass(spark, sf):
        # Gyongyi spam-mass estimate: the PageRank fraction NOT
        # explained by rank flowing from trusted seeds — (PR - PPR)/PR
        # from the two existing bit-reproducible rank vectors; high
        # mass = rank earned from unendorsed (spammy) link sources
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        ids = docs.select(F.col("doc_id").alias("id"))
        pr = LR.pagerank(edges, ids, n_iters=5).select(
            F.col("id").alias("doc_id"), F.round("rank", 9).alias("pr")
        )
        seeds = docs.filter(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("id")
        )
        pp = LR.personalized_pagerank(edges, seeds, n_iters=5).select(
            F.col("id").alias("doc_id"), F.round("rank", 9).alias("ppr")
        )
        return pr.join(pp, "doc_id").select(
            "doc_id",
            "pr",
            "ppr",
            F.round((F.col("pr") - F.col("ppr")) / F.col("pr"), 9).alias(
                "spam_mass"
            ),
        )

    def q_proximity(spark, sf):
        # NEAR/3 proximity: two pruned positional scans, band join
        pp = PX.positional_postings(_docs(spark, sf))
        return PX.proximity_match(pp, "spark", "window", window=3)

    def q_percolate(spark, sf):
        # reverse search: route docs to registered boolean alerts; the
        # registry broadcasts, only registry-term postings shuffle
        reg = PC.registry_from_strings(spark, _ALERTS)
        return PC.percolate(_docs(spark, sf), reg)

    def q_mirror_hosts(spark, sf):
        # host mirror detection: hosts from doc_id % 20 plus a true
        # mirror m7 (h7's docs verbatim → jaccard 1.0); threshold at
        # 0.04 also surfaces the natural background overlap pairs
        docs = _docs(spark, sf)
        hosted = docs.select(
            F.concat(
                F.lit("h"), (F.col("doc_id") % 20).cast("string")
            ).alias("host"),
            "text",
        )
        mirror = docs.filter(F.col("doc_id") % 20 == 7).select(
            F.lit("m7").alias("host"), "text"
        )
        return _r(
            MI.mirror_pairs(
                hosted.unionByName(mirror),
                threshold=0.04,
                max_hosts_per_gram=16,
            ),
            "jaccard",
        )

    def q_more_like_this(spark, sf):
        # sparse tf-idf cosine "more like this" for doc 0: broadcast
        # query vector → token equi-join; folded sums for bit parity
        return _r(SS.more_like_this(_postings(spark, sf), 0, k=10), "cosine")

    def q_redirects(spark, sf):
        # redirect graph synthesized from doc_ids: every 50-block has a
        # terminal (m=0), a 2-cycle (48↔49) and chains walking down to
        # the terminal; resolution is pointer doubling, 6 join rounds
        # for 64-hop chains instead of 64 sequential walks
        m = F.col("doc_id") % 50
        d = F.col("doc_id")
        pages = _docs(spark, sf).select(
            F.concat(F.lit("u"), d.cast("string")).alias("url"),
            F.when(m == 0, F.lit(None).cast("string"))
            .when(m == 48, F.concat(F.lit("u"), (d + 1).cast("string")))
            .otherwise(F.concat(F.lit("u"), (d - 1).cast("string")))
            .alias("redirect_to"),
        )
        return RD.resolve_redirects(pages, max_hops=64)

    def q_rank_eval(spark, sf):
        # nDCG/P/R@10 of the BM25 page against graded judgments derived
        # from the corpus itself (rel = # distinct query terms present);
        # the global-order windows run over the 10-row result page only
        docs = _docs(spark, sf)
        ranked = RK.bm25_search(RK.bm25_table(docs), _BM25_TERMS, k=10)
        uniq = list(dict.fromkeys(t.lower() for t in _BM25_TERMS))
        rels = (
            TF.term_frequencies(TF.doc_tokens(docs))
            .filter(F.col("token").isin(uniq))
            .groupBy("doc_id")
            .agg(F.count_distinct("token").alias("rel"))
        )
        return _r(
            RE.rank_eval(ranked, rels, k=10),
            "dcg", "idcg", "ndcg", "precision", "recall",
        )

    def q_spell(spark, sf):
        # dictionary spell suggest: levenshtein ≤ 2 over the (token, df)
        # vocabulary, ranked (dist ASC, df DESC, token ASC) top 5
        vocab = TF.doc_frequencies(
            TF.term_frequencies(TF.doc_tokens(_docs(spark, sf)))
        )
        return PX.suggest(vocab, _SPELL_TERM, max_dist=2, k=5)

    def q_spell_batch(spark, sf):
        # SymSpell-style batch correction: every fixture term corrected
        # in ONE delete-variant equi-join against the vocabulary (no
        # per-term scan, no cross join), exact levenshtein post-filter,
        # per-term top-3 (dist ASC, df DESC, token ASC)
        vocab = TF.doc_frequencies(
            TF.term_frequencies(TF.doc_tokens(_docs(spark, sf)))
        )
        terms = spark.createDataFrame(
            [(t,) for t in _SPELL_BATCH], "term string"
        )
        return PX.spell_correct_batch(
            vocab, terms, max_dist=2, k=3, max_len=24
        )

    def q_boilerplate(spark, sf):
        # host-level boilerplate strip (CCNet-style): hosts from
        # doc_id % 20, every page suffixed with two host-frequent
        # footer lines that the operator must remove; the original
        # body line (unique per doc) must survive verbatim
        from searchengine_spark.operators import boilerplate as BP

        m = (F.col("doc_id") % 20).cast("string")
        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat(F.lit("h"), m).alias("host"),
            F.concat_ws(
                "\n",
                F.col("text"),
                F.concat(F.lit("copyright footer h"), m),
                F.lit("nav home about"),
            ).alias("text"),
        )
        return BP.strip_boilerplate(docs, min_df=2, min_frac=0.3)

    def q_triangles(spark, sf):
        # degree-ordered distributed triangle counting + local
        # clustering coefficient over the synthetic expander link
        # graph (same edge rules as link_rank/crawl_depth)
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return _r(GS.triangle_counts(edges), "clustering")

    def q_bpe_train(spark, sf):
        # corpus-scale BPE vocabulary induction: 6 greedy merges over
        # the weighted token vocabulary (one corpus shuffle total; each
        # merge iterates the tiny vocab frame). The DuckDB oracle
        # unrolls the identical 6 iterations as chained CTEs.
        from searchengine_spark.operators import bpe as BPE

        occurrences = TF.doc_tokens(_docs(spark, sf)).select(
            F.explode("tokens").alias("token")
        )
        return BPE.bpe_train(occurrences, n_merges=6)

    def q_bpe_encode(spark, sf):
        # apply the 6 learned merges back to the corpus: per-doc BPE
        # piece counts via a token-keyed join against the final vocab
        # (the corpus is never string-re-encoded)
        from searchengine_spark.operators import bpe as BPE

        occ = TF.doc_tokens(_docs(spark, sf)).select(
            "doc_id", F.explode("tokens").alias("token")
        )
        return BPE.bpe_piece_counts(occ, n_merges=6)

    def q_kmv_distinct(spark, sf):
        # KMV/bottom-k cardinality sketch over the token vocabulary:
        # md5-60bit hashing makes the k-th smallest hash — and hence
        # the estimate itself — bit-reproducible in DuckDB
        from searchengine_spark.operators import sketches as SK

        occ = TF.doc_tokens(_docs(spark, sf)).select(
            F.explode("tokens").alias("token")
        )
        return _r(SK.kmv_distinct(occ, "token", k=256), "est_distinct")

    def q_ltr_features(spark, sf):
        # LTR training-table export: BM25 + match breadth + doc length
        # + quality + PageRank assembled on the token-pruned candidate
        # set of the BM25 query terms
        from searchengine_spark.operators import ltr as LT

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return _r(
            LT.ltr_features(docs, _BM25_TERMS, edges),
            "bm25", "quality", "rank",
        )

    def q_funnel(spark, sf):
        # ordered-step funnel view -> click -> purchase with earliest-
        # completion semantics; pseudo-users event_id % 200 make the
        # conversion ladder non-trivial at sandbox row counts
        from searchengine_spark.operators import funnel as FN

        ev = spark.read.parquet(os.path.join(sf, "events.parquet")).select(
            (F.col("event_id") % 200).alias("user_id"), "ts", "event_type"
        )
        return _r(
            FN.funnel(ev, ["view", "click", "purchase"]), "conversion"
        )

    def q_adamic_adar(spark, sf):
        # Adamic-Adar link prediction over the expander link graph:
        # non-adjacent pairs scored by 1/ln(deg) over common neighbors,
        # w-sorted folded sum for bit-stable doubles
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return _r(GS.adamic_adar(edges, max_common_degree=64), "score")

    def q_kcore(spark, sf):
        # 4-core of the expander link graph via iterative peeling
        # (fixpoint in 3 rounds at this scale; oracle unrolls 8)
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return GS.k_core(edges, k=4)

    def q_ktruss(spark, sf):
        # 4-truss of the expander link graph: edge peel on triangle
        # support (>= 2 within the survivors) — the link-farm/mirror
        # clique detector one step up from k_core's node peel
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        expander = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        # plant a 5-clique at every doc_id = 0 (mod 50): organic
        # expander edges close almost no triangles and peel away; the
        # cliques (support 3 on every internal edge) are the 4-truss
        pairs = F.array(
            *[
                F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
                for i in range(5)
                for j in range(i + 1, 5)
            ]
        )
        cliques = (
            docs.filter(F.col("doc_id") % 50 == 0)
            .select("doc_id", F.explode(pairs).alias("p"))
            .select(
                (F.col("doc_id") + F.col("p.i")).alias("src"),
                (F.col("doc_id") + F.col("p.j")).alias("dst"),
            )
            .filter(F.col("dst") < n)
        )
        return GS.k_truss(expander.unionByName(cliques), k=4)

    def q_revisit(spark, sf):
        # WARC revisit-record resolution (identical-payload-digest
        # profile): first (ts, id)-ordered capture per (url, digest) is
        # the original, later equal-digest captures become pointers —
        # one min(struct) partial agg, no window
        from searchengine_spark.operators import recrawl as RC

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        caps = ev.select(
            F.col("user_id").alias("url"),
            F.col("ts"),
            F.col("event_type").alias("digest"),
            F.col("event_id").alias("capture_id"),
        )
        return RC.revisit_resolve(caps)

    def q_late_data(spark, sf):
        # watermark late-data census: replay the event log in a
        # bounded-jitter arrival order (deterministic ±(n/25)-event
        # displacement) and count what a 1-day watermark would drop,
        # per daily window — the delay-tuning number for the streaming
        # side, computed with the two-phase prefix-max (explicit bucket
        # sized to the synthetic arrival-id density)
        import math

        from searchengine_spark.operators.windows import late_data_census

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        n = ev.count()
        jm = 2 * max(1, n // 25) + 1
        # the `event_id % 1048576` low bits make `arrival` injective
        # ONLY while event_id < 2^20 (and n small enough that the
        # jitter stride never collides); past that, duplicate arrival
        # keys make the running-max watermark order ambiguous and the
        # Spark and DuckDB replays could silently diverge — fail loud
        # instead (the oracle documents the same bound at its jitter
        # formula). Raise the modulus in BOTH places to go bigger.
        max_id = ev.agg(F.max("event_id")).first()[0] or 0
        if max_id >= 1048576:
            raise ValueError(
                f"late_data arrival-key injectivity bound exceeded: "
                f"max(event_id) = {max_id} >= 2^20; enlarge the low-"
                f"bits modulus in q_late_data AND its oracle"
            )
        caps = ev.selectExpr(
            f"((event_id + (event_id * 7919) % {jm}) * 1048576"
            " + event_id % 1048576) AS arrival",
            "ts",
        )
        return late_data_census(
            caps,
            delay_seconds=86400,
            window_seconds=86400,
            order_col="arrival",
            bucket=1048576 * (math.isqrt(n) + 1),
        )

    def q_bowtie(spark, sf):
        # Broder bow-tie macro-structure census over a graph with a
        # planted IN fringe / OUT fringe / disconnected pairs around
        # the expander core — two frontier BFS passes + one groupBy
        from searchengine_spark.operators import linkrank as LR

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        core = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        f25 = docs.filter(F.col("doc_id") < 25)
        fringe_in = f25.select(
            (F.col("doc_id") + n).alias("src"),
            ((F.col("doc_id") * 3) % n).alias("dst"),
        )
        fringe_out = f25.select(
            ((F.col("doc_id") * 5) % n).alias("src"),
            (F.col("doc_id") + n + 25).alias("dst"),
        )
        isolated = docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") * 2 + n + 50).alias("src"),
            (F.col("doc_id") * 2 + n + 51).alias("dst"),
        )
        edges = core.unionByName(fringe_in).unionByName(
            fringe_out
        ).unionByName(isolated)
        return LR.bowtie_census(edges)

    def q_minhash_error(spark, sf):
        # MinHash calibration census: exact J >= 0.5 pairs with the
        # 16-perm portable-hash estimate beside the truth — sketch
        # error as hash-checked data (signatures only for pair docs)
        return DD.minhash_error(_docs(spark, sf), threshold=0.5, k=16)

    def q_bloom_fpr(spark, sf):
        # empirical Bloom FPR at ~4 bits/key: even-doc urls inserted,
        # odd-doc urls (anti-joined disjoint) probed — the urlseen fast
        # path's error rate measured as exact integers
        from searchengine_spark.operators.sketches import bloom_fpr_census
        from searchengine_spark.operators import urlmining as UM

        u = UM.url_fixture(_docs(spark, sf))
        return bloom_fpr_census(
            u.filter(F.col("doc_id") % 2 == 0),
            u.filter(F.col("doc_id") % 2 == 1),
        )

    def q_change_rate(spark, sf):
        # Cho-Garcia-Molina recrawl change-rate: captures = one row per
        # event, url = user_id, fingerprint = event_type; event_id
        # totalises capture order under equal timestamps
        from searchengine_spark.operators import recrawl as RC

        ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return _r(
            RC.change_rate(
                ev,
                url_col="user_id",
                ts_col="ts",
                fp_col="event_type",
                id_col="event_id",
            ),
            "gap_days",
            "lambda_day",
            "recrawl_days",
        )

    def q_cms_topk(spark, sf):
        # count-min-sketch heavy hitters over the token stream: w=16 x
        # d=3 counters force real collisions at fixture vocabulary
        # size; md5-60bit depth-salted hashing makes every counter —
        # and the min-of-rows estimate — bit-reproducible in DuckDB
        from searchengine_spark.operators import sketches as SK

        occ = TF.doc_tokens(_docs(spark, sf)).select(
            F.explode("tokens").alias("token")
        )
        est = SK.cms_estimates(occ, "token", w=16, d=3)
        return (
            est.orderBy(
                F.col("est_count").desc(), F.col("v").asc()
            )
            .limit(25)
            .select(
                F.col("v").alias("token"), "exact_count", "est_count"
            )
        )

    def q_host_budget(spark, sf):
        # largest-remainder apportionment of a 97-fetch round budget
        # across hosts (source), proportional to corpus bytes
        from searchengine_spark.operators import budget as BG

        hosts = (
            _docs(spark, sf)
            .groupBy(F.col("source").alias("host"))
            .agg(F.sum("n_chars").alias("score"))
        )
        return BG.host_budget(hosts, budget=97)

    def q_url_templates(spark, sf):
        # URL pattern census over the deterministic 5-family URL fixture
        # (crawl-trap detection): hex runs -> {H}, digit runs -> {N},
        # one groupBy((host, template)) with map-side partial agg
        from searchengine_spark.operators import urlmining as UM

        return UM.url_templates(UM.url_fixture(_docs(spark, sf)))

    def _cdx_fixture(spark, sf):
        # the shared URL fixture, augmented to exercise the two SURT
        # canonicalization rules: a www. host prefix on every third row
        # (must strip back to the bare-host key) and a second query arg
        # on the product family (args must sort). Same transforms, same
        # order, in the DuckDB fixture CTE.
        from searchengine_spark.operators import urlmining as UM

        d = F.col("doc_id")
        u = UM.url_fixture(_docs(spark, sf))
        u = u.withColumn(
            "url",
            F.when(
                d % 3 == 0,
                F.concat(F.lit("https://www."), F.expr("substring(url, 9)")),
            ).otherwise(F.col("url")),
        )
        return u.withColumn(
            "url",
            F.when(
                d % 5 == 1,
                F.concat(F.col("url"), F.lit("&a="), (d % 3).cast("string")),
            ).otherwise(F.col("url")),
        )

    def q_surt_keys(spark, sf):
        # SURT capture keys (IA/Heritrix canonical form): reversed
        # comma-joined host, www-stripped, sorted query args — pure
        # Column exprs (parse_url/regexp/array), zero UDF, zero shuffle
        from searchengine_spark.operators import cdx as CX

        return CX.cdx_index(_cdx_fixture(spark, sf)).select("doc_id", "surt")

    def q_cdx_range(spark, sf):
        # CDX subtree lookup: all captures under host h3's URL space as
        # ONE half-open lexicographic range [p, p̄) on the surt key —
        # pushdown-able comparisons, never a LIKE/startswith scan
        from searchengine_spark.operators import cdx as CX

        return CX.cdx_range(CX.cdx_index(_cdx_fixture(spark, sf)), "test,h3)/")

    def q_chunk_text(spark, sf):
        # overlapping 64-token windows at stride 48 (RAG/pretraining
        # chunking with an exact tail window): pure projection+explode,
        # no shuffle; chunk identity via md5 of the joined window
        return TD.chunk_text(_docs(spark, sf), win=64, stride=48)

    def q_containment(spark, sf):
        # directed shingle containment |g(a)∩g(b)|/|g(a)| ≥ 0.75 — the
        # asymmetric near-dup Jaccard misses (short doc quoted inside a
        # long one); exact via the same prefix-filter pre-join
        return _r(
            DD.containment_pairs(_docs(spark, sf), threshold=0.75),
            "containment",
        )

    def q_shard_assign(spark, sf):
        # rendezvous (HRW) fetch-shard assignment over the URL fixture:
        # shard = argmax_s md5-60bit(url#s), one per-row projection
        # (no UDF, no shuffle until the reporting groupBy)
        from searchengine_spark.operators import sharding as SH
        from searchengine_spark.operators import urlmining as UM

        return (
            SH.shard_assign(UM.url_fixture(_docs(spark, sf)), 8, key_col="url")
            .groupBy("shard")
            .agg(
                F.count("*").alias("n_urls"),
                F.min("url").alias("example_url"),
            )
        )

    def q_shard_moves(spark, sf):
        # the HRW minimal-movement property as data: per 8-shard id,
        # how many keys change shard when shard 7 is removed — nonzero
        # only for shard 7 itself (mod-N would move ~7/8 of every row)
        from searchengine_spark.operators import sharding as SH
        from searchengine_spark.operators import urlmining as UM

        df = SH.shard_assign(
            SH.shard_assign(
                UM.url_fixture(_docs(spark, sf)), 8,
                key_col="url", out_col="shard_8",
            ),
            7,
            key_col="url",
            out_col="shard_7",
        )
        return df.groupBy("shard_8").agg(
            F.count("*").alias("n_urls"),
            F.sum(
                F.when(F.col("shard_8") != F.col("shard_7"), 1).otherwise(0)
            ).alias("n_moved"),
        )

    def q_ring_assign(spark, sf):
        # consistent-hash ring (the >10^4-shard successor to HRW,
        # closing sharding.py's documented seam): shard = owner of the
        # first of 8x32 ring points clockwise from h60(url); the hash
        # stays JVM-codegen, the lookup is one vectorized searchsorted
        from searchengine_spark.operators import ring as RG
        from searchengine_spark.operators import urlmining as UM

        return (
            RG.ring_assign(
                UM.url_fixture(_docs(spark, sf)), 8, key_col="url", vnodes=32
            )
            .groupBy("shard")
            .agg(
                F.count("*").alias("n_urls"),
                F.min("url").alias("example_url"),
            )
        )

    def q_ring_moves(spark, sf):
        # the ring minimal-movement invariant as data: adding shard 8
        # to an 8-shard ring steals keys ONLY for the new shard —
        # n_moved_elsewhere must be identically zero per source shard
        from searchengine_spark.operators import ring as RG
        from searchengine_spark.operators import urlmining as UM

        df = RG.ring_assign(
            RG.ring_assign(
                UM.url_fixture(_docs(spark, sf)), 8,
                key_col="url", vnodes=32, out_col="shard_8",
            ),
            9,
            key_col="url",
            vnodes=32,
            out_col="shard_9",
        )
        return df.groupBy("shard_8").agg(
            F.count("*").alias("n_urls"),
            F.sum(
                F.when(F.col("shard_9") == 8, 1).otherwise(0)
            ).alias("n_to_new"),
            F.sum(
                F.when(
                    (F.col("shard_8") != F.col("shard_9"))
                    & (F.col("shard_9") != 8),
                    1,
                ).otherwise(0)
            ).alias("n_moved_elsewhere"),
        )

    def q_zorder_files(spark, sf):
        # Z-order (Morton) file layout census: rows keyed by the bit
        # interleave of h31(host) x scaled-day land in files whose zone
        # maps are bounded on BOTH axes at once — pure codegen integer
        # spreads, identical arithmetic text on the DuckDB side
        from searchengine_spark.operators import layout as LY

        d = _docs(spark, sf).select(
            "doc_id",
            F.expr(
                "concat('h', CAST(doc_id % 16 AS STRING), '.test')"
            ).alias("host"),
        )
        x_sql = (
            "(CAST(conv(substring(md5(host), 1, 15), 16, 10) AS BIGINT)"
            " >> 29)"
        )
        return LY.zorder_files(d, x_sql, "((doc_id % 365) << 22)", 6)

    def q_hll_distinct(spark, sf):
        # HyperLogLog distinct-token estimate per language from
        # explicit md5-60bit registers; the register harmonic sum stays
        # in exact int64 so the ESTIMATE itself is bit-reproducible in
        # DuckDB (shard registers merge by groupBy+max — tests/test_hll)
        from searchengine_spark.functions.text import tokens_sql
        from searchengine_spark.operators import sketches as SK

        occ = _docs(spark, sf).select(
            "lang", F.explode(F.expr(tokens_sql("text"))).alias("token")
        )
        return _r(
            SK.hll_distinct(occ, "token", ["lang"], p=8), "est_distinct"
        )

    def q_hll_error(spark, sf):
        # HLL calibration: per-lang estimate vs exact distinct count
        # and the relative error — sketch accuracy as data (est is
        # bit-reproducible, so the error column is too)
        from searchengine_spark.functions.text import tokens_sql
        from searchengine_spark.operators import sketches as SK

        occ = _docs(spark, sf).select(
            "lang", F.explode(F.expr(tokens_sql("text"))).alias("token")
        )
        est = SK.hll_distinct(occ, "token", ["lang"], p=8).select(
            "lang", F.round("est_distinct", 9).alias("est_distinct")
        )
        exact = occ.groupBy("lang").agg(
            F.countDistinct("token").alias("exact_distinct")
        )
        return est.join(exact, "lang").select(
            "lang",
            "est_distinct",
            "exact_distinct",
            F.round(
                (F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                9,
            ).alias("rel_err"),
        )

    def q_maxscore(spark, sf):
        # MaxScore-pruned exact BM25 top-10: term-UB suffix pruning
        # drops non-essential (stopword-class) terms from candidate
        # generation; the oracle is the BRUTE-FORCE bm25 SQL — the
        # pruned plan must reproduce it bit-for-bit
        w = RK.bm25_table(_docs(spark, sf))
        return _r(RK.maxscore_search(w, _BM25_TERMS, k=10), "score")

    def q_text_clean(spark, sf):
        # Unicode normalization stage: the corpus is pure ASCII, so a
        # deterministic mojibake suffix (decomposed accent, zero-width
        # space, BEL, tab runs, edge spaces) is grafted onto every 7th
        # doc — the oracle must reproduce NFC + strip + collapse on
        # exactly those codepoints, md5-compared
        docs = _docs(spark, sf).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(_NORM_SUFFIX)),
            ).otherwise(F.col("text")),
        )
        return TN.clean_text(docs).select(
            "doc_id",
            F.md5("clean").alias("clean_md5"),
            "n_chars_raw",
            "n_chars_clean",
        )

    def q_dsir_weights(spark, sf):
        # DSIR importance log-weights: hashed-unigram (md5-60bit mod
        # 128) target/source multinomial log-ratio summed per doc in
        # bucket-sorted fold order (the lm_score determinism pattern);
        # target exemplars = the lang='de' slice
        docs = _docs(spark, sf)
        occ = TF.doc_tokens(docs).select(
            "doc_id", F.explode("tokens").alias("token")
        )
        target = docs.filter(F.col("lang") == "de").select("doc_id")
        return _r(
            SP.dsir_log_weights(occ, target, n_buckets=128), "log_weight"
        )

    def q_dsir_sample(spark, sf):
        # Gumbel-top-k resampling over the DSIR weights — deterministic
        # (hash-derived Gumbels), so the SQL oracle reproduces the
        # exact sampled set and keys
        docs = _docs(spark, sf)
        occ = TF.doc_tokens(docs).select(
            "doc_id", F.explode("tokens").alias("token")
        )
        target = docs.filter(F.col("lang") == "de").select("doc_id")
        w = SP.dsir_log_weights(occ, target, n_buckets=128)
        return _r(SP.dsir_sample(w, k=40), "log_weight", "key")

    def q_postings_compress(spark, sf):
        # Delta-gap varint posting blobs: the oracle recomputes the
        # encoded byte count from pure gap arithmetic (a varint CASE
        # ladder in SQL) and fingerprints the ids; Spark must get
        # n_bytes from the REAL encoder and ids_md5 from a REAL decode
        # round-trip — a codec bug in either direction breaks the hash
        from searchengine_spark.operators import postcompress as PZ

        tf = TF.term_frequencies(TF.doc_tokens(_docs(spark, sf)))
        return PZ.roundtrip_digest(PZ.compress_postings(tf))

    def q_bmw(spark, sf):
        # Block-Max WAND exact BM25 top-10: doc-id-range block-max
        # metadata prunes whole posting blocks whose UB sum < theta
        # (the skip-index / zone-map axis, orthogonal to MaxScore's
        # term axis); the oracle is the same BRUTE-FORCE bm25 SQL —
        # the block-pruned plan must reproduce it bit-for-bit
        w = RK.bm25_table(_docs(spark, sf))
        return _r(RK.bmw_search(w, _BM25_TERMS, k=10, block_size=64), "score")

    def q_pld_census(spark, sf):
        # registrable-domain (PLD) politeness grouping over a
        # deterministic host fixture: subdomain shards collapse to one
        # budget key (incl. under a multi-part ccTLD the full PSL knows
        # — yamanashi.jp keeps THREE labels) while github.io-style
        # platform users stay separate
        from searchengine_spark.functions.urls import pld_col

        d = F.col("doc_id")
        host = (
            F.when(
                d % 5 == 0,
                F.concat(
                    F.lit("www.site"), (d % 20).cast("string"), F.lit(".co.uk")
                ),
            )
            .when(
                d % 5 == 1,
                F.concat(
                    F.lit("blog.site"), (d % 20).cast("string"), F.lit(".com")
                ),
            )
            .when(
                d % 5 == 2,
                F.concat(
                    F.lit("user"), (d % 50).cast("string"), F.lit(".github.io")
                ),
            )
            .when(
                d % 5 == 3,
                F.concat(
                    F.lit("cdn.site"),
                    (d % 10).cast("string"),
                    F.lit(".yamanashi.jp"),
                ),
            )
            .otherwise(
                F.concat(F.lit("site"), (d % 20).cast("string"), F.lit(".com"))
            )
        )
        return (
            _docs(spark, sf)
            .select(host.alias("host"))
            .select("host", pld_col("host").alias("pld"))
            .groupBy("pld")
            .agg(
                F.count("*").alias("n_hosts"),
                F.countDistinct("host").alias("n_distinct_hosts"),
            )
        )

    def q_length_quantiles(spark, sf):
        # exact doc-length percentiles (curation cutoffs) via bounded
        # histogram rank-selection: one value-frequency shuffle, a
        # coarse bucket table to the driver, boundary buckets walked —
        # never a global sort
        from searchengine_spark.operators.quantiles import exact_quantiles

        return exact_quantiles(
            _docs(spark, sf),
            "n_chars",
            [0.1, 0.25, 0.5, 0.75, 0.9, 0.99],
            bucket_width=64.0,
        )

    def q_doc_clusters(spark, sf):
        # spherical k-means over sparse tf·idf vectors: deterministic
        # first-k seeds, 2 Lloyd iterations, explicit-broadcast
        # centroid joins, eager-localCheckpoint generation handoff
        from searchengine_spark.operators.clustering import doc_clusters

        return _r(doc_clusters(_docs(spark, sf), k=4, iters=2), "cosine")

    def q_sitemap_seeds(spark, sf):
        # sitemap ingest → scored frontier seeds: normative pycore XML
        # parse (Arrow-batched) vs an oracle that derives ground truth
        # relationally from the same generative fixture — parser and
        # generator must invert each other exactly (incl. the spec
        # default 0.5 and the max-priority dedup rule)
        from searchengine_spark.functions.sitemap import (
            sitemap_fixture,
            sitemap_seeds,
        )

        return _r(sitemap_seeds(sitemap_fixture(_docs(spark, sf))), "score")

    def q_warc_ingest(spark, sf):
        # WARC ingest (Common-Crawl wire format → page rows): the
        # fixture builds one deterministic WARC blob per doc_id%16 host
        # (warcinfo + request records to skip, even hosts per-record
        # gzip'd, a corrupt record in host 0 to resync over), pycore
        # parses it back via mapInPandas, and the oracle reconstructs
        # the expected relational output generatively from documents —
        # builder and parser must invert each other exactly
        from searchengine_spark.sources.warc import (
            warc_fixture,
            warc_records,
        )

        return warc_records(warc_fixture(_docs(spark, sf))).select(
            "url",
            "warc_ts",
            "status",
            "content_type",
            F.length("html").alias("content_len"),
            F.md5("html").alias("body_md5"),
            "n_skipped",
        )

    def q_best_passage(spark, sf):
        # passage retrieval: densest query-term window per doc — one
        # pruned positional scan + one groupBy; window scan is in-row
        # array math over the hit positions only
        return PX.best_passage(
            PX.positional_postings(_docs(spark, sf)), _BM25_TERMS, window=16
        )

    def q_facets(spark, sf):
        # faceted result counts over the DNF match set: ONE matched
        # frame semi-joined into the attribute table, one exact count
        # per facet column
        return Q.facet_counts(_postings(spark, sf), _docs(spark, sf), _DNF)

    def q_keyness(spark, sf):
        # Dunning G² keyness between the parity-split corpus slices
        # (crawl-drift diagnostic): one token shuffle, per-row double
        # math from exact ints — no corpus-wide float sum
        return _r(TS.keyness(_docs(spark, sf)), "g2")

    def q_freq_spectrum(spark, sf):
        # vocabulary frequency spectrum (hapax count at freq=1)
        return TS.freq_spectrum(_docs(spark, sf))

    def q_bm25f(spark, sf):
        # field-weighted BM25 (simple BM25F) over the A6 fixture's
        # title/bold/body split — exact-int field-combined tf̃/dl̃,
        # one explode pass, the bm25_search pivot plan
        return _r(RK.bm25f_search(_docs(spark, sf), _BM25_TERMS, k=10), "score")

    def q_qlm_topk(spark, sf):
        # Dirichlet-smoothed query likelihood (Zhai-Lafferty): the LM
        # ranking family next to BM25 — same pruned-scan + fixed-order
        # pivot plan; collection stats are exact-long aggregates
        return _r(
            RK.qlm_search(_docs(spark, sf), _BM25_TERMS, k=10, mu=2000.0),
            "score",
        )

    def q_rocchio_expand(spark, sf):
        # Rocchio pseudo-relevance feedback: top-5 feedback docs
        # broadcast-prune the postings scan; centroid folds tf_idf in
        # doc_id order for bit-stable doubles
        return _r(
            RK.rocchio_expand(_docs(spark, sf), _BM25_TERMS, k_fb=5, m=5),
            "rocchio_weight",
        )

    def q_vocab_growth(spark, sf):
        # Heaps-law curve: corpus-order running token/type totals via a
        # TWO-PHASE prefix sum (bucket upsweep + in-bucket window) — no
        # global-order window anywhere (asserted in tests); bucket
        # self-sizes to ceil(sqrt(id_span)) so the upsweep stays bounded
        return TS.vocab_growth(_docs(spark, sf))

    def q_robots_gate(spark, sf):
        # RFC 9309 longest-match allow/deny over the URL fixture:
        # broadcast rule probe + map-side-combinable max(struct) —
        # struct ordering IS the precedence rule (len, then allow)
        from searchengine_spark.functions.robots import (
            apply_robots_rules,
            rules_fixture,
        )
        from searchengine_spark.operators import urlmining as UM

        urls = UM.url_fixture(_docs(spark, sf))
        return apply_robots_rules(urls, rules_fixture(urls))

    def q_winnow_fp(spark, sf):
        # SWA winnowing (MOSS): robust local fingerprints — per-row
        # nested-transform selection, array_distinct before the
        # explode, ZERO shuffles (plan-shape asserted in
        # tests/test_winnow.py)
        from searchengine_spark.operators.winnow import winnow_fingerprints

        return winnow_fingerprints(_docs(spark, sf), k=4, w=5)

    def q_winnow_matches(spark, sf):
        # MOSS match step: pairs sharing >= 2 winnow fingerprints —
        # only the ~2/(w+1)-density fingerprint rows shuffle
        from searchengine_spark.operators.winnow import fingerprint_matches

        return fingerprint_matches(_docs(spark, sf), k=4, w=5, min_shared=2)

    def q_gopher_rules(spark, sf):
        # published Gopher doc-quality rules; thresholds loosened to the
        # sandbox corpus scale (short synthetic docs) so both keep
        # outcomes appear in the graded result
        return _r(
            TS.gopher_rules(_docs(spark, sf), min_words=8, min_mean_len=2.0),
            "mean_word_len", "symbol_ratio", "bullet_ratio",
            "ellipsis_ratio", "alpha_ratio",
        )

    def q_c4_filters(spark, sf):
        # published C4 line+page cleaning rules (span dedup is the
        # separate span_dedup query)
        return TS.c4_filters(_docs(spark, sf), min_line_words=3)

    def q_semdedup(spark, sf):
        # SemDedup: IVF-cluster the embedding space, prune within-cluster
        # cosine near-dups to the lowest-id survivor
        return DD.semdedup(
            spark.read.parquet(os.path.join(sf, "embeddings.parquet")),
            threshold=0.7,
        )

    def q_lpa(spark, sf):
        # synchronous min-tie label propagation over the synthetic
        # expander link graph (same edge rules as link_rank/triangles);
        # 3 fixed iterations, oracle-unrolled
        from searchengine_spark.operators import graphstats as GS

        docs = _docs(spark, sf)
        n = docs.count()
        dsts = F.array(
            (F.col("doc_id") * 2 + 1) % n,
            (F.col("doc_id") * 3 + 7) % n,
            (F.col("doc_id") * 5 + 11) % n,
        )
        edges = docs.select(
            F.col("doc_id").alias("src"), F.explode(dsts).alias("dst")
        )
        return GS.lpa_communities(edges, n_iters=3)

    def q_fetch_schedule(spark, sf):
        # ST2 politeness virtual clock as a schedule export: per-host
        # crawl_delay = 0.5 * (1 + doc-count-derived host index % 4)
        from searchengine_spark.operators import urlmining as UM
        from searchengine_spark.operators.windows import fetch_schedule

        urls = UM.url_fixture(_docs(spark, sf)).select(
            "url",
            F.expr("lower(parse_url(url, 'HOST'))").alias("host"),
        )
        urls = urls.withColumn(
            "crawl_delay",
            (
                F.lit(0.5)
                * (1 + F.length("host").cast("bigint") % 4).cast("double")
            ),
        )
        return _r(fetch_schedule(urls), "sched_time")

    return _least_sampled_first({
        "lpa_communities": q_lpa,
        "fetch_schedule": q_fetch_schedule,
        "gopher_rules": q_gopher_rules,
        "c4_filters": q_c4_filters,
        "semdedup": q_semdedup,
        "tumbling_counts": q_tumbling,
        "tf": q_tf,
        "doc_freq": q_doc_freq,
        "idf": q_idf,
        "postings": q_postings,
        "index_update": q_index_update,
        "and_query": q_and,
        "not_query": q_not,
        "dnf_query": q_dnf,
        "topk": q_topk,
        "index_analytics": q_analytics,
        "window_quota": q_window_quota,
        "exact_dedup": q_exact_dedup,
        "ngram_pairs": q_ngram_pairs,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "embed_pairs": q_embed_pairs,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_probe": q_ann_lsh_probe,
        "token_stats": q_token_stats,
        "quality": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "media_features": q_media_features,
        "frame_sample": q_frame_sample,
        "seen_antijoin": q_seen_antijoin,
        "seen_antijoin_cuckoo": q_seen_antijoin_cuckoo,
        "tag_weights": q_tag_weights,
        "resolve_urls": q_resolve_urls,
        "tf_lemma": q_tf_lemma,
        "tf_stem": q_tf_stem,
        "json_ingest": q_json_ingest,
        "dup_clusters": q_dup_clusters,
        "link_rank": q_link_rank,
        "link_rank_weighted": q_link_rank_weighted,
        "hits_rank": q_hits_rank,
        "anchor_text": q_anchor_text,
        "ivf_topk": q_ivf_topk,
        "bpe_count": q_bpe_count,
        "sessions": q_sessions,
        "sample_stratified": q_sample_stratified,
        "mixture_sample": q_mixture_sample,
        "repetition": q_repetition,
        "index_size": q_index_size,
        "dict_size": q_dict_size,
        "lm_score": q_lm_score,
        "keep_best": q_keep_best,
        "curate": q_curate,
        "crawl_depth": q_crawl_depth,
        "opic": q_opic,
        "nb_classify": q_nb_classify,
        "decontaminate": q_decontaminate,
        "span_dedup": q_span_dedup,
        "exact_substr": q_exact_substr,
        "pii_scrub": q_pii_scrub,
        "pack_sequences": q_pack_sequences,
        "bm25": q_bm25,
        "mmr_rerank": q_mmr_rerank,
        "rrf_topk": q_rrf,
        "surt_keys": q_surt_keys,
        "cdx_range": q_cdx_range,
        "eliasfano_size": q_eliasfano,
        "clarity": q_clarity,
        "lm_trigram": q_lm_trigram,
        "cosine_pairs": q_cosine_pairs,
        "salsa_rank": q_salsa,
        "degree_tail": q_degree_tail,
        "soft404": q_soft404,
        "rake_keywords": q_rake,
        "harmonic": q_harmonic,
        "cdc_chunks": q_cdc_chunks,
        "page_directives": q_directives,
        "canonical_census": q_canonical_census,
        "stopword_census": q_stopwords,
        "anf_reach": q_anf,
        "burst_windows": q_burst,
        "neighborhood_fn": q_neighborhood_fn,
        "event_transitions": q_transitions,
        "doc_keywords": q_doc_keywords,
        "window_pmi": q_window_pmi,
        "novelty": q_novelty,
        "readability": q_readability,
        "mixture_report": q_mixture_report,
        "reciprocity": q_reciprocity,
        "prior_blend": q_prior_blend,
        "site_collapse": q_site_collapse,
        "sign_test": q_sign_test,
        "nqc": q_nqc,
        "rank_corr": q_rank_corr,
        "kn_bigrams": q_kn_bigrams,
        "lmjm_topk": q_lmjm,
        "zipf_fit": q_zipf,
        "pl2_topk": q_pl2,
        "salt_balance": q_salt_balance,
        "blocklist_gate": q_blocklist,
        "k_truss": q_ktruss,
        "revisit_resolve": q_revisit,
        "late_data": q_late_data,
        "bowtie": q_bowtie,
        "minhash_error": q_minhash_error,
        "bloom_fpr": q_bloom_fpr,
        "hll_error": q_hll_error,
        "suffix_query": q_suffix,
        "domain_split": q_domain_split,
        "sdm_topk": q_sdm,
        "pq_topk": q_pq_topk,
        "spam_mass": q_spam_mass,
        "mime_census": q_mime_census,
        "serp": q_serp,
        "pivoted_topk": q_pivoted,
        "assortativity": q_assortativity,
        "yule_k": q_yule_k,
        "assoc_rules": q_assoc_rules,
        "rich_club": q_rich_club,
        "fielded_query": q_fielded,
        "cluster_dilution": q_cluster_dilution,
        "gini_events": q_gini,
        "markov_stationary": q_markov_stationary,
        "colloc_g2": q_colloc_g2,
        "active_users": q_active_users,
        "funnel_latency": q_funnel_latency,
        "lsh_curve": q_lsh_curve,
        "session_paths": q_session_paths,
        "packing_waste": q_packing_waste,
        "crawl_delay": q_crawl_delay,
        "bom_census": q_bom_census,
        "stem_collapse": q_stem_collapse,
        "burst_mad": q_burst_mad,
        "burstiness": q_burstiness,
        "modularity": q_modularity,
        "pmi_expand": q_pmi_expand,
        "anchor_entropy": q_anchor_entropy,
        "path_census": q_path_census,
        "good_turing": q_good_turing,
        "cohort_retention": q_cohort,
        "crawl_delta": q_crawl_delta,
        "phrase_query": q_phrase,
        "colloc_pmi": q_colloc,
        "spell_suggest": q_spell,
        "spell_batch": q_spell_batch,
        "champions": q_champions,
        "snippets": q_snippets,
        "rank_eval": q_rank_eval,
        "redirects": q_redirects,
        "more_like_this": q_more_like_this,
        "mirror_hosts": q_mirror_hosts,
        "percolate": q_percolate,
        "prefix_query": q_prefix,
        "proximity": q_proximity,
        "cocitation": q_cocitation,
        "complete": q_complete,
        "textrank": q_textrank,
        "weighted_sample": q_weighted_sample,
        "ppr": q_ppr,
        "boilerplate": q_boilerplate,
        "triangles": q_triangles,
        "bpe_train": q_bpe_train,
        "funnel": q_funnel,
        "adamic_adar": q_adamic_adar,
        "k_core": q_kcore,
        "bpe_encode": q_bpe_encode,
        "kmv_distinct": q_kmv_distinct,
        "ltr_features": q_ltr_features,
        "change_rate": q_change_rate,
        "cms_topk": q_cms_topk,
        "host_budget": q_host_budget,
        "url_templates": q_url_templates,
        "chunk_text": q_chunk_text,
        "containment_pairs": q_containment,
        "shard_assign": q_shard_assign,
        "shard_moves": q_shard_moves,
        "ring_assign": q_ring_assign,
        "zorder_files": q_zorder_files,
        "ring_moves": q_ring_moves,
        "hll_distinct": q_hll_distinct,
        "maxscore_topk": q_maxscore,
        "bmw_topk": q_bmw,
        "postings_compress": q_postings_compress,
        "dsir_weights": q_dsir_weights,
        "dsir_sample": q_dsir_sample,
        "text_clean": q_text_clean,
        "pld_census": q_pld_census,
        "length_quantiles": q_length_quantiles,
        "winnow_fp": q_winnow_fp,
        "winnow_matches": q_winnow_matches,
        "robots_gate": q_robots_gate,
        "vocab_growth": q_vocab_growth,
        "qlm_topk": q_qlm_topk,
        "rocchio_expand": q_rocchio_expand,
        "bm25f_topk": q_bm25f,
        "keyness": q_keyness,
        "freq_spectrum": q_freq_spectrum,
        "facet_counts": q_facets,
        "best_passage": q_best_passage,
        "sitemap_seeds": q_sitemap_seeds,
        "doc_clusters_kmeans": q_doc_clusters,
        "warc_ingest": q_warc_ingest,
    })


# Order-preserving token list as a DuckDB list expression (no unnest —
# keeps document order for the rolling fingerprint); identical semantics
# to tokens_sql / pycore.tokenize.
_DUCK_TL = (
    "list_filter(list_transform(regexp_split_to_array(lower(text), "
    "'[^a-z0-9'']+'), t -> trim(t, ' ''')), "
    "t -> t <> '' AND length(t) <= 10000)"
)

# standalone (doc_id, token) row relation — unfiltered raw trim output;
# wrap with the usual token <> '' / length filter at the use site
_DUCK_TL_ROWS = (
    "SELECT doc_id, trim(t, ' ''') AS token FROM documents, "
    "unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS u(t)"
)

# positional postings (doc_id, pos, token), pos 0-based in the filtered
# token sequence — mirrors operators/positional.positional_postings
# (Spark posexplode; DuckDB indexed lambda is 1-based, hence i - 1)
_DUCK_POSIT = f"""
tokarr AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
posit AS (
  SELECT doc_id,
         unnest(list_transform(tl, (t, i) -> struct_pack(pos := i - 1,
                                                         token := t)),
                recursive := true)
  FROM tokarr WHERE len(tl) > 0
)"""


# BM25 weight CTE chain — identical expression tree to
# operators/ranking.bm25_table (double literals as e-notation so DuckDB
# parses DOUBLE, not DECIMAL)
_DUCK_BM25_WTS = f"""{_DUCK_TOKENS},
lens AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stat AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM lens),
fq AS (SELECT doc_id, token, count(*) AS f FROM tok2 GROUP BY doc_id, token),
idfq AS (
  SELECT token,
         ln(1.0e0 + (CAST((SELECT n FROM stat) AS DOUBLE) - df + 0.5e0)
                    / (df + 0.5e0)) AS idf
  FROM dfreq
),
wts AS (
  SELECT fq.doc_id, fq.token,
         idfq.idf * (CAST(f AS DOUBLE) * 2.2e0)
           / (CAST(f AS DOUBLE)
              + 1.2e0 * (1.0e0 - 0.75e0
                         + (0.75e0 * CAST(lens.dl AS DOUBLE))
                           / (CAST((SELECT sumdl FROM stat) AS DOUBLE)
                              / CAST((SELECT n FROM stat) AS DOUBLE)))) AS w
  FROM fq JOIN idfq USING (token) JOIN lens USING (doc_id)
)"""


def _duck_opic(rounds: int = 3, cash0: int = 1_000_000) -> str:
    """Unrolled OPIC rounds (operators/opic.py semantics, integer cash,
    largest-remainder splits, same-round dangling redistribution) over
    the q_opic synthetic link graph — one CTE pair per round; doc_ids
    are dense 0..n-1 so id itself is the redistribution rank."""
    head = f"""
WITH nn AS (SELECT count(*) AS c FROM documents),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src,
           unnest([(doc_id*2+1) % (SELECT c FROM nn),
                   (doc_id*3+7) % (SELECT c FROM nn),
                   (doc_id*5+11) % (SELECT c FROM nn)]) AS dst
    FROM documents WHERE doc_id % 11 <> 0)
),
er AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         count(*) OVER (PARTITION BY src) AS outdeg
  FROM e
),
s0 AS (SELECT doc_id AS id, CAST({cash0} AS BIGINT) AS cash,
              CAST(0 AS BIGINT) AS history FROM documents)"""
    body = []
    for k in range(rounds):
        body.append(f""",
snd{k} AS (
  SELECT er.dst,
         s.cash // er.outdeg
           + CASE WHEN er.idx < s.cash % er.outdeg THEN 1 ELSE 0 END
           AS amt
  FROM s{k} s JOIN er ON er.src = s.id
),
inc{k} AS (SELECT dst, sum(amt) AS inc FROM snd{k} GROUP BY dst),
dang{k} AS (
  SELECT coalesce(sum(cash), 0) AS d FROM s{k}
  WHERE id NOT IN (SELECT src FROM er)
),
s{k + 1} AS (
  SELECT s.id,
         CAST(coalesce(i.inc, 0)
              + (SELECT d FROM dang{k}) // (SELECT c FROM nn)
              + CASE WHEN s.id < (SELECT d FROM dang{k})
                                   % (SELECT c FROM nn)
                     THEN 1 ELSE 0 END AS BIGINT) AS cash,
         CAST(s.history + s.cash AS BIGINT) AS history
  FROM s{k} s LEFT JOIN inc{k} i ON i.dst = s.id
)""")
    tail = f"""
SELECT id, cash, history,
       round(CAST(history AS DOUBLE)
             / ({rounds}.0 * {cash0} * (SELECT c FROM nn)), 9) AS score
FROM s{rounds}"""
    return head + "".join(body) + tail


def _duck_bm25(terms: list[str], k: int) -> str:
    """BM25 oracle — fixed-order CASE pivot so the float sum is
    deterministic, matching bm25_search's column pivot."""
    case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in dict.fromkeys(t.lower() for t in terms)
    )
    inlist = ", ".join(
        f"'{t}'" for t in dict.fromkeys(t.lower() for t in terms)
    )
    return f"""
WITH {_DUCK_BM25_WTS},
scored AS (
  SELECT doc_id, {case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
)
SELECT doc_id, round(sc, 9) AS score FROM scored
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_mmr_sql(
    terms: list[str], k_page: int = 10, k_sel: int = 5, lam: float = 0.5
) -> str:
    """MMR oracle — the k_sel-step greedy loop unrolled as per-step
    argmax CTEs (same pattern as bpe_train / markov_stationary).
    Relevance is the RAW BM25 pivot score (bm25_search's expression
    tree before rounding); doc vectors are the raw tf-idf postings;
    cosine folds token-ordered exactly as pycore/mmr.cosine (Python
    left-assoc sum from 0.0), so every double matches the Spark side's
    pycore arithmetic bit-for-bit before the final shared round(,9)."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    inlist = ", ".join(f"'{t}'" for t in uniq)
    c1 = 1.0 - lam
    parts = [
        f"""WITH {_DUCK_BM25_WTS},
scored AS MATERIALIZED (
  SELECT doc_id, {case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
page AS MATERIALIZED (
  SELECT doc_id, sc FROM scored ORDER BY sc DESC, doc_id ASC LIMIT {k_page}
),
v AS MATERIALIZED (
  SELECT p.doc_id, po.token, po.tf_idf AS w
  FROM postings po JOIN page p USING (doc_id)
),
nrm AS MATERIALIZED (
  SELECT doc_id,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(w * w ORDER BY token)), (a, b) -> a + b)) AS n
  FROM v GROUP BY doc_id
),
cosp AS MATERIALIZED (
  SELECT da, db, CASE WHEN na.n = 0.0e0 OR nb.n = 0.0e0 THEN 0.0e0
                      ELSE dot / (na.n * nb.n) END AS c
  FROM (
    SELECT a.doc_id AS da, b.doc_id AS db,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(a.w * b.w ORDER BY a.token)), (x, y) -> x + y) AS dot
    FROM v a JOIN v b ON a.token = b.token AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) d JOIN nrm na ON na.doc_id = d.da JOIN nrm nb ON nb.doc_id = d.db
),
pick1 AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS rank,
         {lam!r} * sc - {c1!r} * 0.0e0 AS ms
  FROM page ORDER BY {lam!r} * sc - {c1!r} * 0.0e0 DESC, doc_id ASC LIMIT 1
),
sel1 AS (SELECT doc_id FROM pick1)"""
    ]
    for i in range(2, k_sel + 1):
        parts.append(
            f""",
cand{i} AS (
  SELECT p.doc_id,
         {lam!r} * p.sc - {c1!r} * greatest(coalesce(mx.m, 0.0e0), 0.0e0) AS ms
  FROM page p
  LEFT JOIN (
    SELECT da AS doc_id, max(c) AS m FROM cosp
    WHERE db IN (SELECT doc_id FROM sel{i - 1}) GROUP BY da
  ) mx ON mx.doc_id = p.doc_id
  WHERE p.doc_id NOT IN (SELECT doc_id FROM sel{i - 1})
),
pick{i} AS (
  SELECT doc_id, CAST({i - 1} AS BIGINT) AS rank, ms
  FROM cand{i} ORDER BY ms DESC, doc_id ASC LIMIT 1
),
sel{i} AS (
  SELECT doc_id FROM sel{i - 1} UNION ALL SELECT doc_id FROM pick{i}
)"""
        )
    union = "\nUNION ALL\n".join(
        f'SELECT rank, doc_id, round(ms, 9) AS mmr_score FROM pick{i}'
        for i in range(1, k_sel + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


def _duck_qlm(terms: list[str], k: int, mu: float) -> str:
    """Dirichlet query-likelihood oracle — mirrors qlm_search: fixed
    query-order sum of ln((f + mu*cf/total) / (dl + mu)); the prior
    (mu * cf) / total is left-assoc double math in both engines."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    score = " + ".join(
        f"ln((CAST(f{i} AS DOUBLE) + {mu!r} * "
        f"coalesce((SELECT c FROM qcf WHERE token = '{t}'), 0) "
        f"/ (SELECT t FROM qtot)) / (CAST(dl AS DOUBLE) + {mu!r}))"
        for i, t in enumerate(uniq)
    )
    return f"""
WITH {_DUCK_TOKENS},
qtot AS (SELECT count(*) AS t FROM tok2),
qcf AS (SELECT token, count(*) AS c FROM tok2
        WHERE token IN ({inlist}) GROUP BY token),
qdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
qpiv AS (
  SELECT doc_id, {pivs}
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
qsc AS (
  SELECT qpiv.doc_id, {score} AS sc
  FROM qpiv JOIN qdl USING (doc_id)
)
SELECT doc_id, round(sc, 9) AS score FROM qsc
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_lmjm(terms: list[str], k: int, lam: float) -> str:
    """Jelinek-Mercer oracle — mirrors lmjm_search: fixed query-order
    sum of ln((1-lam)*f/dl + lam*cf/total); the mix weight and prior
    are left-assoc double math in both engines (the Spark side's
    Python-computed prior lam*cf/total is the same op sequence)."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    c1 = 1.0 - lam
    # zero-cf guard mirrors lmjm_search: a query term absent from the
    # corpus is DROPPED on the Spark side, so the oracle contributes
    # literal 0.0 for it instead of ln(0) = -inf (x + 0.0 == x keeps
    # hash parity; same pattern as _duck_sdm's feat())
    score = " + ".join(
        f"CASE WHEN coalesce((SELECT c FROM qcf WHERE token = '{t}'), 0) = 0 "
        f"THEN 0.0e0 ELSE "
        f"ln({c1!r} * CAST(f{i} AS DOUBLE) / CAST(dl AS DOUBLE) + "
        f"{lam!r} * coalesce((SELECT c FROM qcf WHERE token = '{t}'), 0) "
        f"/ (SELECT t FROM qtot)) END"
        for i, t in enumerate(uniq)
    )
    return f"""
WITH {_DUCK_TOKENS},
qtot AS (SELECT count(*) AS t FROM tok2),
qcf AS (SELECT token, count(*) AS c FROM tok2
        WHERE token IN ({inlist}) GROUP BY token),
qdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
qpiv AS (
  SELECT doc_id, {pivs}
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
qsc AS (
  SELECT qpiv.doc_id, {score} AS sc
  FROM qpiv JOIN qdl USING (doc_id)
)
SELECT doc_id, round(sc, 9) AS score FROM qsc
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_pl2(terms: list[str], k: int, c: float = 1.0) -> str:
    """DFR PL2 oracle — compiles the SAME pl2_term_sql text the Spark
    operator does; lambda_t = cf/N and avgdl become scalar-subquery
    divisions of exact counts (one IEEE op each, bit-equal to the
    Spark side's int-literal divisions)."""
    from searchengine_spark.operators.ranking import pl2_term_sql

    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    avgdl = (
        "(CAST((SELECT t FROM qtot) AS DOUBLE)"
        " / CAST((SELECT n FROM qn) AS DOUBLE))"
    )
    score = " + ".join(
        pl2_term_sql(
            f"f{i}",
            "dl",
            f"(CAST(coalesce((SELECT c FROM qcf WHERE token = '{t}'), 0)"
            f" AS DOUBLE) / CAST((SELECT n FROM qn) AS DOUBLE))",
            avgdl,
            c,
        )
        for i, t in enumerate(uniq)
    )
    return f"""
WITH {_DUCK_TOKENS},
qtot AS (SELECT count(*) AS t FROM tok2),
qdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
qn AS (SELECT count(*) AS n FROM qdl),
qcf AS (SELECT token, count(*) AS c FROM tok2
        WHERE token IN ({inlist}) GROUP BY token),
qpiv AS (
  SELECT doc_id, {pivs}
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
qsc AS (
  SELECT qpiv.doc_id, ({score}) AS sc
  FROM qpiv JOIN qdl USING (doc_id)
)
SELECT doc_id, round(sc, 9) AS score FROM qsc
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_sdm(
    terms: list[str],
    k: int = 10,
    mu: float = 2000.0,
    lambdas: tuple = (0.85, 0.1, 0.05),
    window: int = 8,
) -> str:
    """Sequential-dependence-model oracle — mirrors positional.
    sdm_search: unigram pivot + per-adjacent-pair ordered (pb = pa+1)
    and unordered (|pa-pb| < window) counts from the positional CTE,
    Dirichlet features in fixed query order. The Spark side DROPS
    zero-cf features; here each feature is CASE-guarded to literal
    0.0, and x + 0.0 == x bit-exactly for the (never -0) log sums, so
    the scores still hash-match."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    lt, lo, lu = (float(x) for x in lambdas)
    inlist = ", ".join(f"'{t}'" for t in uniq)
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    pairs = list(zip(uniq, uniq[1:]))

    def feat(x_sql: str, cf_sql: str) -> str:
        return (
            f"CASE WHEN ({cf_sql}) > 0 THEN "
            f"ln((CAST({x_sql} AS DOUBLE) + {mu!r} * ({cf_sql}) "
            f"/ (SELECT t FROM tot)) / (CAST(dl AS DOUBLE) + {mu!r})) "
            f"ELSE 0.0e0 END"
        )

    parts = [_DUCK_POSIT.lstrip(), """
dl AS (SELECT doc_id, count(*) AS dl FROM posit GROUP BY doc_id),
tot AS (SELECT count(*) AS t FROM posit),
qp AS (SELECT doc_id, pos, token FROM posit
       WHERE token IN (%s)),
cfq AS (SELECT token, count(*) AS c FROM qp GROUP BY token),
piv AS (SELECT doc_id, %s FROM qp GROUP BY doc_id)""" % (inlist, pivs)]
    joins = []
    for i, (a, b) in enumerate(pairs):
        parts.append(f"""
od{i} AS (
  SELECT a.doc_id, count(*) AS o{i}
  FROM qp a JOIN qp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
   AND a.token = '{a}' AND b.token = '{b}'
  GROUP BY a.doc_id
),
cfo{i} AS (SELECT CAST(coalesce(sum(o{i}), 0) AS BIGINT) AS c
           FROM od{i}),
uw{i} AS (
  SELECT a.doc_id, count(*) AS u{i}
  FROM qp a JOIN qp b ON a.doc_id = b.doc_id
   AND abs(a.pos - b.pos) < {window}
   AND a.token = '{a}' AND b.token = '{b}'
  GROUP BY a.doc_id
),
cfu{i} AS (SELECT CAST(coalesce(sum(u{i}), 0) AS BIGINT) AS c
           FROM uw{i})""")
        joins.append(f"LEFT JOIN od{i} USING (doc_id) "
                     f"LEFT JOIN uw{i} USING (doc_id)")
    st = " + ".join(
        feat(f"f{i}",
             f"coalesce((SELECT c FROM cfq WHERE token = '{t}'), 0)")
        for i, t in enumerate(uniq)
    )
    so = " + ".join(
        feat(f"coalesce(o{i}, 0)", f"(SELECT c FROM cfo{i})")
        for i in range(len(pairs))
    ) or "0.0e0"
    su = " + ".join(
        feat(f"coalesce(u{i}, 0)", f"(SELECT c FROM cfu{i})")
        for i in range(len(pairs))
    ) or "0.0e0"
    score = f"{lt!r}e0 * ({st}) + {lo!r}e0 * ({so}) + {lu!r}e0 * ({su})"
    return (
        "WITH " + ",".join(parts)
        + f""",
sc AS (
  SELECT piv.doc_id, {score} AS sc
  FROM piv JOIN dl USING (doc_id) {' '.join(joins)}
)
SELECT doc_id, round(sc, 9) AS score FROM sc
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""
    )


def _duck_pivoted(terms: list[str], k: int, s: float = 0.2) -> str:
    """Pivoted-normalization VSM oracle — mirrors pivoted_search's
    expression tree (double-log tf, pivot norm, ln((N+1)/df))."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    norm = (
        f"(({1.0 - s!r}e0) + {s!r}e0 * CAST(dl AS DOUBLE) "
        f"/ (CAST((SELECT t FROM qtot) AS DOUBLE) "
        f"/ CAST((SELECT n FROM qn) AS DOUBLE)))"
    )
    parts = []
    for i, t in enumerate(uniq):
        dfq = (
            f"(SELECT count(DISTINCT doc_id) FROM tok2 "
            f"WHERE token = '{t}')"
        )
        parts.append(
            f"(CASE WHEN f{i} > 0 AND {dfq} > 0 THEN "
            f"(1.0e0 + ln(1.0e0 + ln(CAST(f{i} AS DOUBLE)))) / {norm} "
            f"* ln(CAST((SELECT n FROM qn) + 1 AS DOUBLE) "
            f"/ CAST({dfq} AS DOUBLE)) ELSE 0.0e0 END)"
        )
    score = " + ".join(parts)
    return f"""
WITH {_DUCK_TOKENS},
qtot AS (SELECT count(*) AS t FROM tok2),
qdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
qn AS (SELECT count(*) AS n FROM qdl),
qpiv AS (
  SELECT doc_id, {pivs}
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
qsc AS (
  SELECT qpiv.doc_id, ({score}) AS sc
  FROM qpiv JOIN qdl USING (doc_id)
)
SELECT doc_id, round(sc, 9) AS score FROM qsc
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_markov_stationary(n_iters: int = 8) -> str:
    """Unrolled pi = pi.P iterations over the event-transition matrix,
    prev-type-ordered folds per next state (the lm_score determinism
    pattern) — mirrors windows.markov_stationary exactly."""
    ctes = ["""seq AS (
  SELECT user_id, event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)""", """pc AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
)""", """tt AS (SELECT prev_type, sum(n) AS tot FROM pc
      GROUP BY prev_type)""", """pm AS (
  SELECT pc.prev_type, pc.next_type,
         CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
  FROM pc JOIN tt USING (prev_type)
)""", """st AS (
  SELECT DISTINCT t FROM (
    SELECT prev_type AS t FROM pm UNION ALL SELECT next_type FROM pm)
)""", """ns AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM st)""",
    "pi0 AS (SELECT t, 1.0e0 / (SELECT c FROM ns) AS pi FROM st)"]
    for k in range(1, n_iters + 1):
        ctes.append(f"""nx{k} AS (
  SELECT pm.next_type AS t,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(pi{k-1}.pi * pm.p ORDER BY pm.prev_type)),
           (a, b) -> a + b) AS pi
  FROM pi{k-1} JOIN pm ON pm.prev_type = pi{k-1}.t
  GROUP BY pm.next_type
)""")
        ctes.append(
            f"pi{k} AS (SELECT st.t, coalesce(nx{k}.pi, 0.0e0) AS pi "
            f"FROM st LEFT JOIN nx{k} USING (t))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT t AS event_type, round(pi, 9) AS p_stationary FROM pi{n_iters}"""
    )


def _duck_rrf(
    terms: list[str], k: int, k_rrf: int = 60, n_cand: int = 50,
    mu: float = 2000.0,
) -> str:
    """Reciprocal-rank-fusion oracle — mirrors rrf_fuse: the bm25 and
    qlm top-n_cand lists ranked by (score DESC, doc_id ASC) row_number,
    full-outer-joined, fused with the fixed two-term double sum
    1/(k_rrf+rb) + 1/(k_rrf+rq). Ranks are exact ints, so the only
    float math is the per-row fusion expression (bit-equal engines)."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    bm_case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    qscore = " + ".join(
        f"ln((CAST(f{i} AS DOUBLE) + {mu!r} * "
        f"coalesce((SELECT c FROM qcf WHERE token = '{t}'), 0) "
        f"/ (SELECT t FROM qtot)) / (CAST(dl AS DOUBLE) + {mu!r}))"
        for i, t in enumerate(uniq)
    )
    kd = float(k_rrf)
    return f"""
WITH {_DUCK_BM25_WTS},
bsc AS (
  SELECT doc_id, {bm_case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
brk AS (
  SELECT doc_id, row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS rb
  FROM bsc ORDER BY sc DESC, doc_id ASC LIMIT {n_cand}
),
qtot AS (SELECT count(*) AS t FROM tok2),
qcf AS (SELECT token, count(*) AS c FROM tok2
        WHERE token IN ({inlist}) GROUP BY token),
qdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
qpiv AS (
  SELECT doc_id, {pivs}
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
qsc AS (
  SELECT qpiv.doc_id, {qscore} AS sc
  FROM qpiv JOIN qdl USING (doc_id)
),
qrk AS (
  SELECT doc_id, row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS rq
  FROM qsc ORDER BY sc DESC, doc_id ASC LIMIT {n_cand}
),
fused AS (
  SELECT doc_id,
         coalesce(1.0e0 / ({kd!r} + rb), 0.0e0)
           + coalesce(1.0e0 / ({kd!r} + rq), 0.0e0) AS sc
  FROM brk FULL OUTER JOIN qrk USING (doc_id)
)
SELECT doc_id, round(sc, 9) AS score FROM fused
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_rank_corr(
    terms: list[str], n_cand: int = 50, mu: float = 2000.0
) -> str:
    """Kendall/Spearman oracle — same bm25 + qlm top-n_cand chains as
    _duck_rrf, then rankeval.rank_correlation's arithmetic: dense
    re-ranks inside the intersection, O(n^2) pair CTE (bounded by
    n_cand), exact int counts, two final IEEE divisions."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    bm_case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    qscore = " + ".join(
        f"ln((CAST(f{i} AS DOUBLE) + {mu!r} * "
        f"coalesce((SELECT c FROM qcf WHERE token = '{t}'), 0) "
        f"/ (SELECT t FROM qtot)) / (CAST(dl AS DOUBLE) + {mu!r}))"
        for i, t in enumerate(uniq)
    )
    return f"""
WITH {_DUCK_BM25_WTS},
bsc AS (
  SELECT doc_id, {bm_case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
brk AS (
  SELECT doc_id, sc AS sa
  FROM bsc ORDER BY sc DESC, doc_id ASC LIMIT {n_cand}
),
qtot AS (SELECT count(*) AS t FROM tok2),
qcf AS (SELECT token, count(*) AS c FROM tok2
        WHERE token IN ({inlist}) GROUP BY token),
qdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
qpiv AS (
  SELECT doc_id, {pivs}
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
qsc AS (
  SELECT qpiv.doc_id, {qscore} AS sc
  FROM qpiv JOIN qdl USING (doc_id)
),
qrk AS (
  SELECT doc_id, sc AS sb
  FROM qsc ORDER BY sc DESC, doc_id ASC LIMIT {n_cand}
),
com AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY sa DESC, doc_id ASC)
              AS BIGINT) AS ra,
         CAST(row_number() OVER (ORDER BY sb DESC, doc_id ASC)
              AS BIGINT) AS rb
  FROM brk JOIN qrk USING (doc_id)
),
pagg AS (
  SELECT
    CAST(coalesce(sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS concordant,
    CAST(coalesce(sum(CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) < 0
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS discordant
  FROM com x JOIN com y ON x.doc_id < y.doc_id
),
nagg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common,
         CAST(coalesce(sum((ra - rb) * (ra - rb)), 0) AS BIGINT) AS sum_d2
  FROM com
)
SELECT n_common, concordant, discordant,
       round(CASE WHEN n_common >= 2 THEN
         CAST(concordant - discordant AS DOUBLE)
           / (CAST(n_common * (n_common - 1) AS DOUBLE) / 2.0e0)
       END, 9) AS kendall_tau,
       sum_d2,
       round(CASE WHEN n_common >= 2 THEN
         1.0e0 - 6.0e0 * CAST(sum_d2 AS DOUBLE)
           / CAST(n_common * (n_common * n_common - 1) AS DOUBLE)
       END, 9) AS spearman_rho
FROM nagg, pagg"""



def _duck_zorder() -> str:
    """Z-order census oracle — the SAME morton_sql text the Spark side
    compiles (decimal masks, & | << >> on BIGINT are dialect-shared);
    only the h60 leaf differs per engine."""
    from searchengine_spark.operators.layout import morton_sql

    x = f"({_duck_h60('host')} >> 29)"
    y = "((doc_id % 365) << 22)"
    return f"""
WITH d AS (
  SELECT doc_id, 'h' || CAST(doc_id % 16 AS VARCHAR) || '.test' AS host
  FROM documents
),
k AS (
  SELECT {x} AS zx, CAST({y} AS BIGINT) AS zy,
         {morton_sql(x, y)} AS zkey
  FROM d
)
SELECT zkey >> 56 AS file_id, count(*) AS n_rows,
       count(DISTINCT zx) AS n_x, min(zy) AS min_y, max(zy) AS max_y
FROM k GROUP BY file_id"""


def _duck_eliasfano() -> str:
    """Elias-Fano size oracle — mirrors postcompress.eliasfano_sizes:
    exact 64-bit arithmetic throughout; the floor(log2) seed is
    boundary-repaired by the same ±1 CASE both engines apply, so libm
    log2 ULP differences cannot leak into the integer result."""
    return f"""
WITH {_DUCK_TOKENS},
uni AS (SELECT max(doc_id) + 1 AS u FROM postings),
dfp AS (SELECT token, count(*) AS n_postings FROM postings GROUP BY token),
mm AS (
  SELECT token, n_postings, (SELECT u FROM uni) AS u,
         CAST(floor(CAST((SELECT u FROM uni) AS DOUBLE) / n_postings)
              AS BIGINT) AS m
  FROM dfp),
cc AS (
  SELECT *, CAST(floor(log2(CAST(m AS DOUBLE))) AS BIGINT) AS c FROM mm),
ll AS (
  SELECT token, n_postings, u,
    CASE WHEN m <= 1 THEN 0
         WHEN CAST(power(2.0, CAST(c + 1 AS DOUBLE)) AS BIGINT) <= m THEN c + 1
         WHEN CAST(power(2.0, CAST(c AS DOUBLE)) AS BIGINT) > m THEN c - 1
         ELSE c END AS l
  FROM cc),
bb AS (
  SELECT token, n_postings,
    n_postings * l + n_postings
      + CAST(floor(CAST(u AS DOUBLE)
                   / CAST(power(2.0, CAST(l AS DOUBLE)) AS BIGINT))
             AS BIGINT) AS ef_bits
  FROM ll)
SELECT token, n_postings, ef_bits,
       CAST(floor((ef_bits + 7) / 8) AS BIGINT) AS ef_bytes
FROM bb"""


def _duck_clarity(terms: list[str], k_fb: int, mu: float) -> str:
    """Query-clarity oracle — mirrors ranking.clarity_score: QLM
    top-k_fb feedback set (same qsc CTEs as _duck_qlm), uniform-prior
    relevance model folded in doc_id order, KL sum folded in token
    order, log2 spelled ln(x)/ln(2) (ln is the parity-proven log)."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    pivs = ", ".join(
        f"sum(CASE WHEN token = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(uniq)
    )
    qscore = " + ".join(
        f"ln((CAST(f{i} AS DOUBLE) + {mu!r} * "
        f"coalesce((SELECT c FROM qcf WHERE token = '{t}'), 0) "
        f"/ (SELECT t FROM qtot)) / (CAST(dl AS DOUBLE) + {mu!r}))"
        for i, t in enumerate(uniq)
    )
    return f"""
WITH {_DUCK_TOKENS},
qtot AS (SELECT count(*) AS t FROM tok2),
qcf AS (SELECT token, count(*) AS c FROM tok2
        WHERE token IN ({inlist}) GROUP BY token),
qdl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
qpiv AS (
  SELECT doc_id, {pivs}
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
qsc AS (
  SELECT qpiv.doc_id, {qscore} AS sc
  FROM qpiv JOIN qdl USING (doc_id)
),
fb AS (SELECT doc_id FROM qsc ORDER BY sc DESC, doc_id ASC LIMIT {k_fb}),
nfb AS (SELECT count(*) AS k FROM fb),
cfall AS (SELECT token, count(*) AS cf FROM tok2 GROUP BY token),
fr AS (
  SELECT tok2.doc_id, token, count(*) AS f
  FROM tok2 JOIN fb USING (doc_id)
  GROUP BY tok2.doc_id, token
),
num AS (
  SELECT token,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list(CAST(f AS DOUBLE) / CAST(dl AS DOUBLE) ORDER BY fr.doc_id)),
      (a, b) -> a + b) AS num
  FROM fr JOIN qdl USING (doc_id)
  GROUP BY token
),
terms_t AS (
  SELECT token,
    (num / CAST((SELECT k FROM nfb) AS DOUBLE))
      * (ln((num / CAST((SELECT k FROM nfb) AS DOUBLE))
             / (CAST(cf AS DOUBLE) / CAST((SELECT t FROM qtot) AS DOUBLE)))
         / ln(2.0)) AS term
  FROM num JOIN cfall USING (token)
)
SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
  list(term ORDER BY token)), (a, b) -> a + b), 9) AS clarity
FROM terms_t"""


def _duck_prior_blend(
    terms: list[str], k: int = 10, lam: float = 0.25, n_cand: int = 50
) -> str:
    """Static-prior blend oracle — bm25 top-n_cand candidates joined
    to the unrolled-pagerank r5 table, sc + lam*ln(r), top-k."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    bm_case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    pr = ",\n".join(_pagerank_ctes(5, 0.85, False))
    return f"""
WITH {_DUCK_BM25_WTS},
{pr},
bsc AS (
  SELECT doc_id, {bm_case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
cand AS (SELECT doc_id, sc FROM bsc ORDER BY sc DESC, doc_id ASC
         LIMIT {n_cand}),
bl AS (
  SELECT cand.doc_id, sc + {lam!r} * ln(r5.r) AS sc2
  FROM cand JOIN r5 ON r5.id = cand.doc_id
)
SELECT doc_id, round(sc2, 9) AS score FROM bl
ORDER BY sc2 DESC, doc_id ASC LIMIT {k}"""


def _duck_site_collapse(
    terms: list[str], k: int = 10, per_host: int = 2, n_cand: int = 50
) -> str:
    """Site-collapse oracle — bm25 top-n_cand page, host-partitioned
    row_number cap, re-ranked top-k."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    inlist = ", ".join(f"'{t}'" for t in uniq)
    bm_case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    return f"""
WITH {_DUCK_BM25_WTS},
bsc AS (
  SELECT doc_id, {bm_case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
cand AS (SELECT doc_id, sc FROM bsc ORDER BY sc DESC, doc_id ASC
         LIMIT {n_cand}),
h AS (SELECT doc_id,
             'h' || CAST(doc_id % 16 AS VARCHAR) || '.test' AS host
      FROM documents),
rk AS (
  SELECT cand.doc_id, h.host, sc,
         row_number() OVER (PARTITION BY h.host
                            ORDER BY sc DESC, cand.doc_id ASC) AS r
  FROM cand JOIN h USING (doc_id)
)
SELECT doc_id, host, round(sc, 9) AS score FROM rk WHERE r <= {per_host}
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_rocchio(terms: list[str], k_fb: int, m: int) -> str:
    """Rocchio PRF oracle — bm25 top-k_fb feedback docs, then the
    tf_idf centroid folded in doc_id order (same sequential fold as
    Spark's aggregate(sort_array(...)))."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    inlist = ", ".join(f"'{t}'" for t in uniq)
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list(tf_idf ORDER BY doc_id)), (a, b) -> a + b)"
    )
    return f"""
WITH {_DUCK_BM25_WTS},
fbsc AS (
  SELECT doc_id, {case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
fb AS (SELECT doc_id FROM fbsc ORDER BY sc DESC, doc_id ASC LIMIT {k_fb}),
cent AS (
  SELECT token, {fold} / {float(k_fb)!r} AS rw
  FROM postings WHERE doc_id IN (SELECT doc_id FROM fb)
  GROUP BY token
)
SELECT token, round(rw, 9) AS rocchio_weight FROM cent
WHERE token NOT IN ({inlist})
ORDER BY rw DESC, token ASC LIMIT {m}"""


def _duck_tl(expr: str) -> str:
    """DuckDB ordered token list of an arbitrary string expression
    (same semantics as _DUCK_TL, which is fixed to the text column)."""
    return (
        f"list_filter(list_transform(regexp_split_to_array(lower({expr}), "
        "'[^a-z0-9'']+'), t -> trim(t, ' ''')), "
        "t -> t <> '' AND length(t) <= 10000)"
    )


def _duck_bm25f(terms: list[str], k: int) -> str:
    """BM25F oracle — mirrors ranking.bm25f_table: one concat'd
    (token, int field weight) unnest over the three fixture fields,
    exact-int tf̃/dl̃, Lucene idf, then the bm25_search CASE pivot."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    inlist = ", ".join(f"'{t}'" for t in uniq)
    fields = [
        ("substring(text, 1, 64)", 3),
        ("substring(text, 65, 64)", 2),
        ("substring(text, 129, greatest(length(text) - 128, 0))", 1),
    ]
    lists = [
        f"list_transform({_duck_tl(expr)}, "
        f"t -> {{'token': t, 'w': CAST({w} AS BIGINT)}})"
        for expr, w in fields
    ]
    # DuckDB 1.0 list_concat is binary — nest the concatenation
    cat = lists[0]
    for nxt in lists[1:]:
        cat = f"list_concat({cat}, {nxt})"
    return f"""
WITH bfx AS (
  SELECT doc_id, unnest({cat}) AS s FROM documents
),
bfe AS (SELECT doc_id, s.token AS token, s.w AS w FROM bfx),
bwtf AS (SELECT doc_id, token, CAST(sum(w) AS BIGINT) AS wtf
         FROM bfe GROUP BY doc_id, token),
bwdl AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS wdl
         FROM bfe GROUP BY doc_id),
bstat AS (SELECT count(*) AS n, sum(wdl) AS sumwdl FROM bwdl),
bdf AS (SELECT token, count(*) AS df FROM bwtf GROUP BY token),
bidf AS (
  SELECT token,
         ln(1.0e0 + (CAST((SELECT n FROM bstat) AS DOUBLE) - df + 0.5e0)
                    / (df + 0.5e0)) AS idf
  FROM bdf
),
bwts AS (
  SELECT bwtf.doc_id, bwtf.token,
         bidf.idf * (CAST(wtf AS DOUBLE) * 2.2e0)
           / (CAST(wtf AS DOUBLE)
              + 1.2e0 * (1.0e0 - 0.75e0
                         + (0.75e0 * CAST(bwdl.wdl AS DOUBLE))
                           / (CAST((SELECT sumwdl FROM bstat) AS DOUBLE)
                              / CAST((SELECT n FROM bstat) AS DOUBLE)))) AS w
  FROM bwtf JOIN bidf USING (token) JOIN bwdl USING (doc_id)
),
bscored AS (
  SELECT doc_id, {case} AS sc
  FROM bwts WHERE token IN ({inlist}) GROUP BY doc_id
)
SELECT doc_id, round(sc, 9) AS score FROM bscored
ORDER BY sc DESC, doc_id ASC LIMIT {k}"""


def _duck_doc_clusters(k: int, iters: int) -> str:
    """Spherical-k-means oracle — unrolled Lloyd iterations (the
    ivf/PageRank unrolled-CTE pattern): seed centroids = the k lowest
    doc vectors, per-iteration dot/norm folds in token order and
    centroid-mean folds in doc_id order via list_reduce (bit-equal to
    Spark's aggregate(sort_array(...))), assignment tie-break by
    (-cos, cluster) window rank ≡ Spark's min(struct)."""

    def fold(expr: str, key: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list({expr} ORDER BY {key})), (a, b) -> a + b)"
        )

    parts = [
        f"""sdk AS (SELECT doc_id FROM (SELECT DISTINCT doc_id FROM postings)
       ORDER BY doc_id LIMIT {k}),
cseed AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY doc_id) - 1 AS INT) AS cluster
          FROM sdk),
cent0 AS (SELECT cluster, token, tf_idf AS w
          FROM postings JOIN cseed USING (doc_id)),
dnorm AS (SELECT doc_id, sqrt({fold('tf_idf * tf_idf', 'token')}) AS dn
          FROM postings GROUP BY doc_id),
clus AS (SELECT CAST(unnest(range({k})) AS INT) AS cluster)"""
    ]
    for i in range(1, iters + 2):  # iters updates + 1 final assignment
        prev = f"cent{i - 1}"
        parts.append(
            f"""cn{i} AS (SELECT cluster, sqrt({fold('w * w', 'token')}) AS cn
        FROM {prev} GROUP BY cluster),
dots{i} AS (SELECT doc_id, cluster, {fold('tf_idf * w', 'token')} AS dot
            FROM postings JOIN {prev} USING (token)
            GROUP BY doc_id, cluster),
asg{i} AS (
  SELECT doc_id, cluster, cos FROM (
    SELECT d.doc_id, cl.cluster,
           CASE WHEN dt.dot IS NOT NULL AND d.dn * cn.cn > 0
                THEN dt.dot / (d.dn * cn.cn) ELSE 0.0 END AS cos,
           row_number() OVER (
             PARTITION BY d.doc_id
             ORDER BY -(CASE WHEN dt.dot IS NOT NULL AND d.dn * cn.cn > 0
                        THEN dt.dot / (d.dn * cn.cn) ELSE 0.0 END) ASC,
                      cl.cluster ASC) AS rn
    FROM dnorm d CROSS JOIN clus cl
    LEFT JOIN dots{i} dt ON dt.doc_id = d.doc_id AND dt.cluster = cl.cluster
    JOIN cn{i} cn ON cn.cluster = cl.cluster
  ) x WHERE rn = 1)"""
        )
        if i <= iters:
            parts.append(
                f"""sz{i} AS (SELECT cluster, count(*) AS n FROM asg{i} GROUP BY cluster),
cent{i} AS (
  SELECT cluster, token,
         {fold('tf_idf', 'doc_id')} / CAST(n AS DOUBLE) AS w
  FROM postings JOIN asg{i} USING (doc_id) JOIN sz{i} USING (cluster)
  GROUP BY cluster, token, n)"""
            )
    body = ",\n".join(parts)
    return f"""
WITH {_DUCK_TOKENS},
{body}
SELECT doc_id, cluster, round(cos, 9) AS cosine FROM asg{iters + 1}"""


def _duck_champions(k: int) -> str:
    """Impact-ordered index oracle: per-token top-k by (weight DESC,
    doc_id ASC) — the salted two-phase Spark plan is exact, so a plain
    window rank reproduces it."""
    return f"""
WITH {_DUCK_BM25_WTS},
ranked AS (
  SELECT token, doc_id, w,
         CAST(row_number() OVER (PARTITION BY token
                                 ORDER BY w DESC, doc_id ASC) AS BIGINT) AS rk
  FROM wts
)
SELECT token, doc_id, round(w, 9) AS weight, rk FROM ranked WHERE rk <= {k}"""


def _duck_snippets(terms: list[str], window: int) -> str:
    inlist = ", ".join(f"'{t.lower()}'" for t in dict.fromkeys(terms))
    w, span = window, 2 * window
    return f"""
WITH {_DUCK_POSIT},
firsts AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS first_pos
  FROM posit WHERE token IN ({inlist}) GROUP BY doc_id
)
SELECT t.doc_id, first_pos,
       array_to_string(
         tl[greatest(1, first_pos + 1 - {w})
            : greatest(1, first_pos + 1 - {w}) + {span}], ' ') AS snippet
FROM tokarr t JOIN firsts USING (doc_id)"""


def _duck_phrase(phrase: list[str]) -> str:
    """Adjusted-offset phrase oracle over the positional CTE."""
    parts = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, pos - {i} AS start, {i} AS slot "
        f"FROM posit WHERE token = '{t.lower()}'"
        for i, t in enumerate(phrase)
    )
    return f"""
WITH {_DUCK_POSIT},
cand AS (
{parts}
),
starts AS (
  SELECT doc_id, start FROM cand WHERE start >= 0
  GROUP BY doc_id, start HAVING count(DISTINCT slot) = {len(phrase)}
)
SELECT doc_id, count(*) AS n_occ FROM starts GROUP BY doc_id"""


_DUCK_COLLOC = f"""
WITH {_DUCK_POSIT},
big AS (
  SELECT unnest(list_transform(tl[1:len(tl)-1],
                               (x, i) -> struct_pack(a := x, b := tl[i+1])),
                recursive := true)
  FROM tokarr WHERE len(tl) > 1
),
cab AS (SELECT a, b, count(*) AS n_ab FROM big GROUP BY a, b),
uni AS (SELECT token, count(*) AS n_x FROM posit GROUP BY token),
tot AS (SELECT (SELECT count(*) FROM posit) AS t,
               (SELECT count(*) FROM big) AS bcnt)
SELECT cab.a, cab.b, n_ab,
       round(ln((CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
                / (CAST(bcnt AS DOUBLE) * CAST(ua.n_x AS DOUBLE)
                   * CAST(ub.n_x AS DOUBLE))), 9) AS pmi
FROM cab JOIN uni ua ON cab.a = ua.token JOIN uni ub ON cab.b = ub.token, tot
WHERE n_ab >= 5"""


def _duck_rank_eval(terms: list[str], k: int) -> str:
    """nDCG/P/R oracle — same rank tie-breaks, ln-ratio log2, and
    rank-ordered running sums as operators/rankeval.rank_eval."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    inlist = ", ".join(f"'{t}'" for t in uniq)
    gain = (
        "(pow(2.0e0, CAST(rel AS DOUBLE)) - 1.0e0)"
        " / (ln(CAST({rk} AS DOUBLE) + 1.0e0) / ln(2.0e0))"
    )
    return f"""
WITH {_DUCK_BM25_WTS},
scored AS (
  SELECT doc_id, {case} AS sc
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
page0 AS (
  SELECT doc_id, sc,
         CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS BIGINT) AS rk
  FROM scored
),
rels AS (
  SELECT doc_id, CAST(count(DISTINCT token) AS BIGINT) AS rel
  FROM tok2 WHERE token IN ({inlist}) GROUP BY doc_id
),
page AS (
  SELECT p.rk, p.doc_id, coalesce(r.rel, 0) AS rel
  FROM page0 p LEFT JOIN rels r USING (doc_id) WHERE p.rk <= {k}
),
cum AS (
  SELECT rk, doc_id, rel,
         sum({gain.format(rk='rk')}) OVER (ORDER BY rk
             ROWS UNBOUNDED PRECEDING) AS dcg,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER (ORDER BY rk
             ROWS UNBOUNDED PRECEDING) AS hits
  FROM page
),
ideal0 AS (
  SELECT rel,
         CAST(row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS BIGINT)
           AS irk
  FROM rels ORDER BY rel DESC, doc_id ASC LIMIT {k}
),
ideal AS (
  SELECT irk AS rk,
         sum({gain.format(rk='irk')}) OVER (ORDER BY irk
             ROWS UNBOUNDED PRECEDING) AS idcg
  FROM ideal0
),
nrel AS (SELECT count(*) AS n FROM rels WHERE rel > 0)
SELECT c.rk, c.doc_id, c.rel, round(c.dcg, 9) AS dcg,
       round(i.idcg, 9) AS idcg, round(c.dcg / i.idcg, 9) AS ndcg,
       round(CAST(c.hits AS DOUBLE) / CAST(c.rk AS DOUBLE), 9) AS precision,
       round(CAST(c.hits AS DOUBLE)
             / CAST((SELECT n FROM nrel) AS DOUBLE), 9) AS recall
FROM cum c JOIN ideal i ON c.rk = i.rk"""


def _duck_percolate(alerts: list[tuple[int, str]]) -> str:
    """Percolation oracle — the registry VALUES rows derive from the
    SAME parse_query call as the Spark registry, so the two stay in
    lockstep with the fixture."""
    from searchengine_spark.operators.query import parse_query

    rows = []
    for qid, qstr in alerts:
        for cid, terms in enumerate(parse_query(qstr)):
            for t in dict.fromkeys(terms):
                rows.append(f"({qid}, {cid}, '{t}')")
    values = ", ".join(rows)
    return f"""
WITH {_DUCK_TOKENS},
dt AS (SELECT DISTINCT doc_id, token FROM tok2),
reg AS (SELECT * FROM (VALUES {values}) AS v(query_id, conj_id, term)),
need AS (SELECT query_id, conj_id, count(*) AS k FROM reg
         GROUP BY query_id, conj_id),
hits AS (
  SELECT r.query_id, r.conj_id, d.doc_id,
         count(DISTINCT d.token) AS got
  FROM dt d JOIN reg r ON d.token = r.term
  GROUP BY r.query_id, r.conj_id, d.doc_id
)
SELECT DISTINCT CAST(h.query_id AS BIGINT) AS query_id, h.doc_id
FROM hits h JOIN need USING (query_id, conj_id) WHERE got = k"""


def _duck_ppr(n_iters: int = 5, damping: float = 0.85) -> str:
    """Personalized-PageRank oracle over the q_link_rank graph, seeds
    doc_id % 100 == 0. Out-degree is 3 everywhere (no dangling), so the
    engine's dmass scalar is exactly 0.0 each iteration — mirrored as
    + 0.0e0*p."""
    d = damping
    edge_selects = [
        f"  SELECT doc_id AS src, (doc_id*{a}+{b}) % (SELECT c FROM nn)"
        f" AS dst FROM documents"
        for a, b in [(2, 1), (3, 7), (5, 11)]
    ]
    ctes = [
        "nn AS (SELECT count(*) AS c FROM documents)",
        "e AS (\n" + "\n  UNION ALL\n".join(edge_selects) + "\n)",
        "deg AS (SELECT src, count(*) AS dg FROM e GROUP BY src)",
        "sn AS (SELECT count(*) AS c FROM documents WHERE doc_id % 100 = 0)",
        """pv AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 100 = 0
              THEN 1.0e0/CAST((SELECT c FROM sn) AS DOUBLE)
              ELSE 0.0e0 END AS p
  FROM documents
)""",
        "r0 AS (SELECT id, p AS r FROM pv)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT pv.id,
         (1.0e0 - {d}e0)*pv.p
           + {d}e0*(COALESCE(s.v, 0.0e0) + 0.0e0*pv.p) AS r
  FROM pv LEFT JOIN (
    SELECT e.dst AS id, sum(r{k-1}.r*1.0e0/deg.dg) AS v
    FROM e JOIN r{k-1} ON r{k-1}.id = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) s ON s.id = pv.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS doc_id, round(r, 9) AS rank FROM r{n_iters}"
    )


def _duck_textrank(n_iters: int = 5, damping: float = 0.85) -> str:
    """TextRank oracle — unrolled weighted-PageRank chain (same
    iteration arithmetic as _pagerank_sql) over the adjacent-token
    co-occurrence graph. The symmetric graph has no dangling vertices,
    so the engine's dangling-mass scalar is exactly 0.0 and adding it
    is an IEEE no-op."""
    d = damping
    ctes = [
        f"tokarr AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents)",
        """big AS (
  SELECT unnest(list_transform(tl[1:len(tl)-1],
                               (x, i) -> struct_pack(a := x, b := tl[i+1])),
                recursive := true)
  FROM tokarr WHERE len(tl) > 1
)""",
        """pd AS (
  SELECT least(a, b) AS x, greatest(a, b) AS y, count(*) AS w
  FROM big WHERE a <> b GROUP BY least(a, b), greatest(a, b)
)""",
        """e AS (
  SELECT x AS src, y AS dst, CAST(w AS DOUBLE) AS w FROM pd
  UNION ALL
  SELECT y AS src, x AS dst, CAST(w AS DOUBLE) AS w FROM pd
)""",
        "vv AS (SELECT DISTINCT src AS id FROM e "
        "UNION SELECT DISTINCT dst AS id FROM e)",
        "nn AS (SELECT count(*) AS c FROM vv)",
        "deg AS (SELECT src, sum(w) AS dg FROM e GROUP BY src)",
        "r0 AS (SELECT id, 1.0e0/(SELECT c FROM nn) AS r FROM vv)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT vv.id,
         (1.0e0 - {d}e0)/(SELECT c FROM nn)
           + {d}e0*(COALESCE(s.v, 0.0e0) + 0.0e0) AS r
  FROM vv LEFT JOIN (
    SELECT e.dst AS id, sum(r{k-1}.r*e.w/deg.dg) AS v
    FROM e JOIN r{k-1} ON r{k-1}.id = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) s ON s.id = vv.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS token, round(r, 9) AS rank FROM r{n_iters}"
    )


def _duck_more_like_this(qid: int, k: int) -> str:
    """Sparse-cosine oracle — list_reduce over token-ordered lists is
    the same sequential fold as Spark's aggregate(sort_array(...))."""
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list({x} ORDER BY token)), (a, b) -> a + b)"
    )
    return f"""
WITH {_DUCK_TOKENS},
norms AS (
  SELECT doc_id, sqrt({fold.format(x='tf_idf * tf_idf')}) AS nrm
  FROM postings GROUP BY doc_id
),
qv AS (SELECT token, tf_idf AS qw FROM postings WHERE doc_id = {qid}),
dots AS (
  SELECT p.doc_id, {fold.format(x='p.tf_idf * qv.qw')} AS dot
  FROM postings p JOIN qv USING (token)
  WHERE p.doc_id <> {qid} GROUP BY p.doc_id
),
qn AS (SELECT nrm AS qnrm FROM norms WHERE doc_id = {qid}),
cosd AS (
  SELECT d.doc_id, d.dot / (n.nrm * (SELECT qnrm FROM qn)) AS c
  FROM dots d JOIN norms n USING (doc_id)
)
SELECT doc_id, round(c, 9) AS cosine FROM cosd
ORDER BY c DESC, doc_id ASC LIMIT {k}"""


# redirect resolution oracle: the sequential walk (recursive CTE) the
# distributed pointer-doubling plan must agree with; same 64-hop bound,
# same loop rule (unterminated within the bound ⇒ loop)
_DUCK_REDIRECTS = """
WITH RECURSIVE rpages AS (
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 50 = 0 THEN NULL
              WHEN doc_id % 50 = 48 THEN 'u' || CAST(doc_id + 1 AS VARCHAR)
              ELSE 'u' || CAST(doc_id - 1 AS VARCHAR) END AS redirect_to
  FROM documents
),
walk AS (
  SELECT url AS origin, redirect_to AS cur, CAST(1 AS BIGINT) AS hops
  FROM rpages WHERE redirect_to IS NOT NULL
  UNION ALL
  SELECT w.origin, p.redirect_to, w.hops + 1
  FROM walk w JOIN rpages p ON w.cur = p.url
  WHERE p.redirect_to IS NOT NULL AND w.hops < 64
),
term AS (
  SELECT origin, cur AS final_url, hops
  FROM walk
  WHERE cur NOT IN (SELECT url FROM rpages WHERE redirect_to IS NOT NULL)
)
SELECT r.origin AS url, t.final_url, t.hops AS n_hops,
       t.final_url IS NULL AS is_loop
FROM (SELECT url AS origin FROM rpages WHERE redirect_to IS NOT NULL) r
LEFT JOIN term t USING (origin)
UNION ALL
SELECT url, url AS final_url, CAST(0 AS BIGINT) AS n_hops, FALSE AS is_loop
FROM rpages WHERE redirect_to IS NULL"""


def _duck_spell(term: str, max_dist: int, k: int) -> str:
    t = term.lower()
    return f"""
WITH {_DUCK_TOKENS},
cand AS (
  SELECT token, df, CAST(levenshtein(token, '{t}') AS BIGINT) AS dist
  FROM dfreq WHERE abs(length(token) - {len(t)}) <= {max_dist}
    AND token <> '{t}'
)
SELECT token, df, dist FROM cand WHERE dist <= {max_dist}
ORDER BY dist ASC, df DESC, token ASC LIMIT {k}"""


def _duck_spell_batch(
    terms: list[str], max_dist: int, k: int, max_len: int
) -> str:
    """Brute oracle for spell_correct_batch: per fixture term, full
    levenshtein scan of the capped vocabulary (the Spark side's delete-
    variant join is a candidate superset of exactly this set)."""
    vals = ", ".join(f"('{t.lower()}')" for t in terms)
    return f"""
WITH {_DUCK_TOKENS},
q(term) AS (VALUES {vals}),
cand AS (
  SELECT q.term, d.token, d.df,
         CAST(levenshtein(d.token, q.term) AS BIGINT) AS dist
  FROM q CROSS JOIN dfreq d
  WHERE length(d.token) <= {max_len} AND d.token <> q.term
),
ranked AS (
  SELECT term, token, df, dist,
         row_number() OVER (
           PARTITION BY term ORDER BY dist ASC, df DESC, token ASC
         ) AS rnk
  FROM cand WHERE dist <= {max_dist}
)
SELECT term, token, df, dist FROM ranked WHERE rnk <= {k}"""

# distinct word-3-gram strings (stride 3, ragged tail kept) — the string
# form of the fingerprint (hash-free: Jaccard over gram strings equals
# Jaccard over xxhash64 gram hashes absent 64-bit collisions)
_DUCK_GRAMS = (
    "list_distinct(list_transform(range(CAST(ceil(len(tl)/3.0) AS BIGINT)), "
    "i -> array_to_string(tl[i*3+1 : i*3+3], '')))"
)

# host mirror detection oracle — mirrors operators/mirrors.mirror_pairs:
# per-host distinct gram-string sets, df-cut at 16 hosts/gram, exact
# intersection counts, Jaccard ≥ 0.04 (e-notation = DOUBLE literal)
_DUCK_MIRROR_HOSTS = f"""
WITH hosted AS (
  SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS host, text FROM documents
  UNION ALL
  SELECT 'm7' AS host, text FROM documents WHERE doc_id % 20 = 7
),
t AS (SELECT host, {_DUCK_TL} AS tl FROM hosted),
hg0 AS (
  SELECT DISTINCT host, g
  FROM t, unnest({_DUCK_GRAMS}) AS u(g) WHERE len(tl) > 0
),
gc AS (SELECT g, count(*) AS nh FROM hg0 GROUP BY g),
hg AS (SELECT host, hg0.g FROM hg0 JOIN gc USING (g) WHERE nh <= 16),
sz AS (SELECT host, count(*) AS sz FROM hg GROUP BY host),
inter AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
  FROM hg a JOIN hg b ON a.g = b.g AND a.host < b.host
  GROUP BY a.host, b.host
)
SELECT host_a, host_b, n_shared,
       round(CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared), 9)
         AS jaccard
FROM inter JOIN sz sa ON host_a = sa.host JOIN sz sb ON host_b = sb.host
WHERE CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared) >= 0.04e0"""

_DUCK_NGRAM_PAIRS = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g AS (SELECT doc_id, {_DUCK_GRAMS} AS gs FROM toks)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / len(list_distinct(list_concat(a.gs, b.gs))), 9) AS j
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.gs, b.gs)) > 0
  AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
      / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7"""

_DUCK_COS = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)

_DUCK_QCOS = (
    "CASE WHEN list_dot_product(q.qv, q.qv) = 0.0 OR "
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) = 0.0 "
    "THEN 0.0 ELSE "
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) / "
    "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(q.qv, q.qv))) END"
)

# ---- tag_weights (A6): DuckDB rebuilds the same html fixture slices and
# sums tag weights per token occurrence (title 3.0 / b 1.25) ------------
_TAGW_T = TW.HTML_TITLE_LEN
_TAGW_B = TW.HTML_BOLD_LEN
_DUCK_TAG_WEIGHTS = f"""
WITH seg AS (
  SELECT doc_id, substring(text, 1, {_TAGW_T}) AS s,
         CAST(3.0 AS DOUBLE) AS w FROM documents
  UNION ALL
  SELECT doc_id, substring(text, {_TAGW_T + 1}, {_TAGW_B}) AS s,
         CAST(1.25 AS DOUBLE) AS w
  FROM documents
),
stok AS (
  SELECT doc_id, w, trim(t, ' ''') AS token
  FROM seg, unnest(regexp_split_to_array(lower(s), '[^a-z0-9'']+')) AS u(t)
)
SELECT doc_id AS url, token, round(sum(w), 9) AS weight
FROM stok WHERE token <> '' AND length(token) <= 10000
GROUP BY doc_id, token"""

# ---- anchor_text: DuckDB rebuilds the q_anchor_text fixture's known
# target-id arithmetic + anchor slices and tokenizes with the shared
# idiom; self-links (tid = doc_id) excluded to match the operator ------
_DUCK_ANCHOR_TEXT = """
WITH nn AS (SELECT count(*) AS c FROM documents),
pair AS (
  SELECT (doc_id*2+1) % (SELECT c FROM nn) AS tid, doc_id,
         substring(text, 1, 32) AS anchor FROM documents
  UNION ALL
  SELECT (doc_id*3+7) % (SELECT c FROM nn), doc_id,
         substring(text, 33, 32) FROM documents
),
pair2 AS (
  SELECT 'https://docs.test/' || CAST(tid AS VARCHAR) AS target, anchor
  FROM pair WHERE tid <> doc_id
),
atok AS (
  SELECT target, trim(t, ' ''') AS token
  FROM pair2,
       unnest(regexp_split_to_array(lower(anchor), '[^a-z0-9'']+')) AS u(t)
)
SELECT target AS target_url, token, count(*) AS weight
FROM atok WHERE token <> '' AND length(token) <= 10000
GROUP BY target, token"""


# the anchor-postings statement re-shaped into a CTE chain so entropy
# (and future anchor analytics) can build on it
_DUCK_ANCHOR_POSTINGS_CTE = _DUCK_ANCHOR_TEXT.replace(
    "\nSELECT target AS target_url",
    ",\nap AS (\n  SELECT target AS target_url", 1
) + "\n)"
assert _DUCK_ANCHOR_POSTINGS_CTE != _DUCK_ANCHOR_TEXT + "\n)", (
    "_DUCK_ANCHOR_TEXT changed; update the ap-CTE surgery"
)

# ---- tf_lemma (F3): the token pipeline with the shipped lemma map
# applied in tok2 — the exact CASE both engines share ------------------
_DUCK_TOKENS_LEMMA = _DUCK_TOKENS.replace(
    "SELECT doc_id, token FROM tok WHERE",
    f"SELECT doc_id, {lemma_case_sql('token', FIXTURE_LEMMAS)} AS token "
    "FROM tok WHERE",
)

# ---- tf_stem (F3 open-vocabulary): the synthetic documents corpus has
# a CLOSED 31-token vocabulary (identical at every sf — verified across
# sf0.001/0.01/0.1), so the oracle applies a literal token→porter_stem
# CASE generated from the normative pycore stemmer; the Spark side runs
# the real open-vocabulary UDF. Open-vocab correctness (words outside
# this list) is pytest's job: tests/test_stemmer.py golden + parity.
_STEM_EXTRA_VOCAB = [
    "merge", "merges", "merged", "merging",
    "query", "queries", "queried",
    "connect", "connection", "connects",
]

FIXTURE_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
_DUCK_TOKENS_STEM = _DUCK_TOKENS.replace(
    "SELECT doc_id, token FROM tok WHERE",
    f"SELECT doc_id, {stem_case_sql('token', FIXTURE_VOCAB)} AS token "
    "FROM tok WHERE",
)

# ---- traindata operators (operators/traindata.py): decontamination,
# span dedup, PII scrub, sequence packing — window/list arithmetic with
# exact DuckDB equivalents ----------------------------------------------

# distinct sliding word 5-grams of the ordered token list (matches
# traindata._sliding_grams with n=5)
_DUCK_GRAMS5 = (
    "CASE WHEN len(tl) < 5 THEN [] ELSE list_distinct(list_transform("
    "range(len(tl) - 4), i -> array_to_string(tl[i+1 : i+5], ' '))) END"
)

_DUCK_DECONTAMINATE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g AS (
  SELECT doc_id, doc_id % 97 = 0 AS is_eval, {_DUCK_GRAMS5} AS gs FROM toks
),
ev AS (
  SELECT DISTINCT gr FROM (SELECT unnest(gs) AS gr FROM g WHERE is_eval)
),
tr AS (SELECT doc_id, gs FROM g WHERE NOT is_eval),
x AS (SELECT doc_id, unnest(gs) AS gr FROM tr),
hits AS (
  SELECT doc_id, count(*) AS c FROM x JOIN ev USING (gr) GROUP BY doc_id
)
SELECT tr.doc_id, len(tr.gs) AS n_grams,
       CAST(coalesce(h.c, 0) AS BIGINT) AS n_hit,
       CAST(coalesce(h.c, 0) > 0 AS INTEGER) AS contaminated
FROM tr LEFT JOIN hits h USING (doc_id)"""

# non-overlapping 8-token spans, exploded with their index (matches
# traindata._span_list with k=8; the frame_sample oracle's range-unnest
# pattern)
_DUCK_SPAN_DEDUP = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
x AS (
  SELECT doc_id, CAST(i AS INTEGER) AS span_idx,
         array_to_string(tl[(i*8+1):(i*8+8)], ' ') AS span
  FROM toks, unnest(range(CAST(ceil(len(tl) / 8.0) AS BIGINT))) AS r(i)
),
rk AS (
  SELECT doc_id, span_idx,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
  FROM x
)
SELECT doc_id, count(*) AS n_spans,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 9) AS kept_frac
FROM rk GROUP BY doc_id"""

# the deterministic PII fixture (matches traindata.pii_table) + the
# RE2 regexes shared verbatim with the Spark side
_DUCK_PII_TEXT = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || "
    "CAST((doc_id // 256) % 256 AS VARCHAR) || '.7 or +1-555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

_DUCK_PII_SCRUB = f"""
WITH p AS (SELECT doc_id, {_DUCK_PII_TEXT} AS t FROM documents)
SELECT doc_id,
  len(regexp_extract_all(t, '{TD.EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(
    regexp_replace(t, '{TD.EMAIL_RE}', '<EMAIL>', 'g'),
    '{TD.IPV4_RE}')) AS n_ips,
  len(regexp_extract_all(t, '{TD.PHONE_RE}')) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(
    t, '{TD.EMAIL_RE}', '<EMAIL>', 'g'),
    '{TD.IPV4_RE}', '<IP>', 'g'),
    '{TD.PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
FROM p"""

_DUCK_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, source AS shard, len({_DUCK_TL}) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) - n_tokens AS BIGINT) AS tok_offset
  FROM t
)
SELECT doc_id, shard, n_tokens, tok_offset,
       tok_offset // 512 AS first_seq,
       (tok_offset + greatest(n_tokens, 1) - 1) // 512 AS last_seq
FROM o"""


def _pagerank_ctes(
    n_iters: int = 5, damping: float = 0.85, weighted: bool = False
) -> list[str]:
    """Unrolled fixed-iteration PageRank over the same deterministic
    synthetic doc link graph as q_link_rank — one CTE per iteration,
    identical arithmetic (teleport + damped in-link shares; the graph
    has out-degree 3 everywhere, so no dangling term). weighted=True
    is the q_link_rank_weighted variant: edge j of doc d carries
    w = (d+j)%3 + 1, deg = Σw, shares r·w/deg."""
    teleport = f"{1.0 - damping}/(SELECT c FROM nn)"
    edge_selects = []
    for j, (a, b) in enumerate([(2, 1), (3, 7), (5, 11)]):
        w = f", CAST((doc_id+{j}) % 3 + 1 AS DOUBLE) AS w" if weighted else ""
        edge_selects.append(
            f"  SELECT doc_id AS src, (doc_id*{a}+{b}) % (SELECT c FROM nn)"
            f" AS dst{w} FROM documents"
        )
    deg = (
        "deg AS (SELECT src, sum(w) AS d FROM e GROUP BY src)"
        if weighted
        else "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)"
    )
    share = "r{k}.r*e.w/deg.d" if weighted else "r{k}.r/deg.d"
    ctes = [
        "nn AS (SELECT count(*) AS c FROM documents)",
        "e AS (\n" + "\n  UNION ALL\n".join(edge_selects) + "\n)",
        deg,
        "r0 AS (SELECT doc_id AS id, 1.0/(SELECT c FROM nn) AS r FROM documents)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT docs.doc_id AS id,
         {teleport} + {damping}*COALESCE(s.v, 0) AS r
  FROM documents docs LEFT JOIN (
    SELECT e.dst AS id, sum({share.format(k=k - 1)}) AS v
    FROM e JOIN r{k-1} ON r{k-1}.id = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) s ON s.id = docs.doc_id
)"""
        )
    return ctes


def _pagerank_sql(
    n_iters: int = 5, damping: float = 0.85, weighted: bool = False
) -> str:
    ctes = _pagerank_ctes(n_iters, damping, weighted)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id AS doc_id, round(r, 9) AS rank FROM r{n_iters}"
    )


def _hits_sql(n_iters: int = 5) -> str:
    """Unrolled fixed-iteration HITS over the q_hits_rank graph: one
    authority CTE + one hub CTE per iteration (a_k(v)=Σ_{u→v}h_{k-1}(u),
    h_k(u)=Σ_{u→v}a_k(v), no in-loop normalization), single final L1
    scaling done as ×(1/sum) to match the engine's arithmetic exactly."""
    ctes = [
        "nn AS (SELECT count(*) AS c FROM documents)",
        """e AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
)""",
        # CAST: DuckDB reads bare 1.0 as DECIMAL, which would thread
        # decimal arithmetic through the chain and break value parity
        "h0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) AS h FROM documents)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(
            f"""a{k} AS (
  SELECT docs.doc_id AS id, COALESCE(s.v, CAST(0 AS DOUBLE)) AS a
  FROM documents docs LEFT JOIN (
    SELECT e.dst AS id, sum(h{k-1}.h) AS v FROM e
    JOIN h{k-1} ON h{k-1}.id = e.src GROUP BY e.dst
  ) s ON s.id = docs.doc_id
)"""
        )
        ctes.append(
            f"""h{k} AS (
  SELECT docs.doc_id AS id, COALESCE(s.v, CAST(0 AS DOUBLE)) AS h
  FROM documents docs LEFT JOIN (
    SELECT e.src AS id, sum(a{k}.a) AS v FROM e
    JOIN a{k} ON a{k}.id = e.dst GROUP BY e.src
  ) s ON s.id = docs.doc_id
)"""
        )
    k = n_iters
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a{k}.id AS doc_id,
       round(a{k}.a * (CAST(1.0 AS DOUBLE)/(SELECT sum(a) FROM a{k})), 9) AS authority,
       round(h{k}.h * (CAST(1.0 AS DOUBLE)/(SELECT sum(h) FROM h{k})), 9) AS hub
FROM a{k} JOIN h{k} ON a{k}.id = h{k}.id"""
    )


def _duck_soft404() -> str:
    """Soft-404 oracle — the q_soft404 fixture CASE, then the same cue
    contains() sum + token-count gate as textstats.soft404_scores
    (phrases/min imported, single-sourced)."""
    from searchengine_spark.operators.textstats import (
        SOFT404_MIN_TOKENS,
        SOFT404_PHRASES,
    )

    cues = " + ".join(
        f"CASE WHEN contains(lower(text), '{p}') THEN 1 ELSE 0 END"
        for p in SOFT404_PHRASES
    )
    return f"""
WITH fx AS (
  SELECT doc_id,
         CASE WHEN doc_id % 29 = 0
              THEN 'Error 404 Not Found. The page you requested does not exist.'
              WHEN doc_id % 31 = 0 THEN text || ' page not found'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len({_duck_tl("text")}) AS BIGINT) AS n_tokens,
       CAST({cues} AS BIGINT) AS n_cues,
       ({cues}) > 0 AND len({_duck_tl("text")}) < {SOFT404_MIN_TOKENS}
         AS is_soft404
FROM fx"""


def _duck_rake(k: int, max_phrase: int) -> str:
    """RAKE oracle — mirrors positional.rake_keywords: running-stopword
    window segmentation, exact-int degree/freq, position-ordered
    phrase-score folds, (score DESC, phrase ASC) top-k. MATERIALIZED
    CTEs (the lm_trigram lesson: DuckDB inlines unnest CTEs into
    multi-join plans and blows up)."""
    from searchengine_spark.operators.textstats import STOPWORDS

    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH toks AS MATERIALIZED (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
tp AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(len(tl)),
                i -> struct_pack(pos := i, token := tl[i + 1])),
                recursive := true)
  FROM toks WHERE len(tl) >= 1
),
seg AS MATERIALIZED (
  SELECT doc_id, pos, token, grp FROM (
    SELECT doc_id, pos, token, token IN ({stops}) AS is_stop,
           sum(CASE WHEN token IN ({stops}) THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM tp
  ) WHERE NOT is_stop
),
plen AS (SELECT doc_id, grp, count(*) AS plen FROM seg GROUP BY doc_id, grp),
member AS MATERIALIZED (
  SELECT seg.doc_id, seg.grp, seg.pos, seg.token, plen.plen
  FROM seg JOIN plen USING (doc_id, grp) WHERE plen <= {max_phrase}
),
wstat AS (
  SELECT doc_id, token, count(*) AS freq, sum(plen) AS degree
  FROM member GROUP BY doc_id, token
),
scored AS (
  SELECT m.doc_id, m.grp, m.pos,
         CAST(degree AS DOUBLE) / freq AS ratio, m.token
  FROM member m JOIN wstat USING (doc_id, token)
),
ph AS (
  SELECT doc_id, grp,
         string_agg(token, ' ' ORDER BY pos) AS phrase,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(ratio ORDER BY pos)), (a, b) -> a + b) AS score
  FROM scored GROUP BY doc_id, grp
),
uq AS (SELECT DISTINCT doc_id, phrase, score FROM ph),
rk AS (
  SELECT doc_id, phrase, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, phrase ASC) AS r
  FROM uq
)
SELECT doc_id, phrase, round(score, 9) AS score FROM rk WHERE r <= {k}"""


_DUCK_DIRECTIVE_FX = """
dfx AS (
  SELECT doc_id,
    '<html><head>' ||
    CASE WHEN doc_id % 7 = 0
         THEN '<meta name="robots" content="noindex,nofollow">'
         WHEN doc_id % 7 = 3
         THEN '<meta name="robots" content="noindex">'
         ELSE '' END ||
    CASE WHEN doc_id % 5 = 0
         THEN '<link rel="canonical" href="' || ch || '">'
         WHEN doc_id % 5 = 2
         THEN '<link href="' || ch || '" rel="canonical">'
         ELSE '' END ||
    '<title>T' || CAST(doc_id AS VARCHAR) || '</title></head><body>' ||
    substring(text, 1, 200) || '</body></html>' AS html
  FROM (
    SELECT doc_id, text,
           'https://h' || CAST(doc_id % 16 AS VARCHAR) || '.test/canon/'
             || CAST(doc_id % 50 AS VARCHAR) AS ch
    FROM documents
  )
)"""


def _duck_anf(radius: int = 3, p: int = 4) -> str:
    """HyperANF oracle — unrolled register max-merges over the DISTINCT
    synthetic edge set, then the _duck_hll estimate arithmetic applied
    to the final register table (same constants, same exact-int
    harmonic sum)."""
    m = 1 << p
    rem = 60 - p
    mask = (1 << rem) - 1
    num = (0.7213 / (1.0 + 1.079 / m)) * m * m * float(1 << 53)
    e_raw = (
        f"{num!r} / CAST(raw_present + "
        f"({m} - n_registers) * {1 << 53} AS DOUBLE)"
    )
    ctes = [
        "nn AS (SELECT count(*) AS c FROM documents)",
        """e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
  )
)""",
        f"""h0 AS (
  SELECT doc_id AS node,
         {_duck_h60("CAST(doc_id AS VARCHAR)")} AS hv
  FROM documents
)""",
        f"""r0 AS (
  SELECT node, hv >> {rem} AS idx,
         CASE WHEN (hv & {mask}) > 0
              THEN {rem} - (length(bin(hv & {mask})) - 1)
              ELSE {rem + 1} END AS r
  FROM h0
)""",
    ]
    for k in range(1, radius + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT node, idx, max(r) AS r FROM (
    SELECT node, idx, r FROM r{k-1}
    UNION ALL
    SELECT e.src AS node, q.idx, q.r
    FROM e JOIN r{k-1} q ON q.node = e.dst
  ) GROUP BY node, idx
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
a AS (SELECT node,
             CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER))
               AS BIGINT) AS raw_present,
             CAST(count(*) AS BIGINT) AS n_registers
      FROM r{radius} GROUP BY node)
SELECT node AS doc_id, n_registers,
  round(CASE WHEN {e_raw} <= {2.5 * m!r} AND n_registers < {m}
        THEN {float(m)!r}
             * ln({float(m)!r} / CAST({m} - n_registers AS DOUBLE))
        ELSE {e_raw} END, 9) AS est_reach
FROM a"""
    )


def _duck_nf(max_radius: int = 3, p: int = 4) -> str:
    """Neighborhood-function oracle — the _duck_anf register chain
    with a per-radius estimate table, each summed by a node-ordered
    fold; effective diameter = min r with N(r) >= 0.9*N(max)."""
    m = 1 << p
    rem = 60 - p
    mask = (1 << rem) - 1
    num = (0.7213 / (1.0 + 1.079 / m)) * m * m * float(1 << 53)
    e_raw = (
        f"{num!r} / CAST(raw_present + "
        f"({m} - n_registers) * {1 << 53} AS DOUBLE)"
    )
    est_case = (
        f"CASE WHEN {e_raw} <= {2.5 * m!r} AND n_registers < {m} "
        f"THEN {float(m)!r} * ln({float(m)!r} / "
        f"CAST({m} - n_registers AS DOUBLE)) ELSE {e_raw} END"
    )
    ctes = [
        "nn AS (SELECT count(*) AS c FROM documents)",
        """e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
    UNION ALL
    SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
  )
)""",
        f"""h0 AS (
  SELECT doc_id AS node, {_duck_h60("CAST(doc_id AS VARCHAR)")} AS hv
  FROM documents
)""",
        f"""r0 AS (
  SELECT node, hv >> {rem} AS idx,
         CASE WHEN (hv & {mask}) > 0
              THEN {rem} - (length(bin(hv & {mask})) - 1)
              ELSE {rem + 1} END AS r
  FROM h0
)""",
    ]
    for k in range(1, max_radius + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT node, idx, max(r) AS r FROM (
    SELECT node, idx, r FROM r{k-1}
    UNION ALL
    SELECT e.src AS node, q.idx, q.r
    FROM e JOIN r{k-1} q ON q.node = e.dst
  ) GROUP BY node, idx
)"""
        )
    for k in range(max_radius + 1):
        ctes.append(
            f"""s{k} AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list(est ORDER BY node)), (a, b) -> a + b) AS s
  FROM (
    SELECT node, {est_case} AS est FROM (
      SELECT node,
             CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER))
               AS BIGINT) AS raw_present,
             CAST(count(*) AS BIGINT) AS n_registers
      FROM r{k} GROUP BY node
    )
  )
)"""
        )
    sums = " UNION ALL ".join(
        f"SELECT {k} AS r, (SELECT s FROM s{k}) AS est_pairs"
        for k in range(max_radius + 1)
    )
    ctes.append(f"sums AS ({sums})")
    ctes.append(
        f"""eff AS (
  SELECT min(r) AS er FROM sums
  WHERE est_pairs >= 0.9e0 * (SELECT est_pairs FROM sums
                              WHERE r = {max_radius})
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT r, round(est_pairs, 9) AS est_pairs,
       r = (SELECT er FROM eff) AS is_effective_diameter
FROM sums"""
    )


def _duck_directives() -> str:
    from searchengine_spark.operators.directives import (
        _CANON_HR,
        _CANON_RL,
        _NOFOLLOW,
        _NOINDEX,
    )

    return f"""
WITH {_DUCK_DIRECTIVE_FX}
SELECT doc_id,
       regexp_matches(html, '{_NOINDEX}') AS noindex,
       regexp_matches(html, '{_NOFOLLOW}') AS nofollow,
       coalesce(nullif(regexp_extract(html, '{_CANON_RL}', 1), ''),
                nullif(regexp_extract(html, '{_CANON_HR}', 1), ''))
         AS canonical_url
FROM dfx"""


def _duck_canonical_census() -> str:
    from searchengine_spark.operators.directives import _CANON_HR, _CANON_RL

    return f"""
WITH {_DUCK_DIRECTIVE_FX},
u AS ({_DUCK_URL_FIXTURE_ID}),
dd AS (
  SELECT doc_id,
         coalesce(nullif(regexp_extract(html, '{_CANON_RL}', 1), ''),
                  nullif(regexp_extract(html, '{_CANON_HR}', 1), ''))
           AS canonical_url
  FROM dfx
)
SELECT coalesce(dd.canonical_url, u.url) AS target_url,
       count(*) AS n_pages
FROM dd JOIN u USING (doc_id)
GROUP BY 1"""


def _salsa_sql(n_iters: int = 5) -> str:
    """Unrolled SALSA over the q_salsa graph (same edge CTE as
    _hits_sql): h_k(u)=Σ a_{k-1}(v)/ind(v), a_k(v)=Σ h_k(u)/od(u),
    init a=1, single final L1 scaling as ×(1/sum)."""
    ctes = [
        "nn AS (SELECT count(*) AS c FROM documents)",
        """e AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
)""",
        "od AS (SELECT src AS id, count(*) AS od FROM e GROUP BY src)",
        "ind AS (SELECT dst AS id, count(*) AS ind FROM e GROUP BY dst)",
        "a0 AS (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) AS a FROM documents)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(
            f"""h{k} AS (
  SELECT docs.doc_id AS id, COALESCE(s.v, CAST(0 AS DOUBLE)) AS h
  FROM documents docs LEFT JOIN (
    SELECT e.src AS id, sum(a{k-1}.a / ind.ind) AS v FROM e
    JOIN a{k-1} ON a{k-1}.id = e.dst
    JOIN ind ON ind.id = e.dst
    GROUP BY e.src
  ) s ON s.id = docs.doc_id
)"""
        )
        ctes.append(
            f"""a{k} AS (
  SELECT docs.doc_id AS id, COALESCE(s.v, CAST(0 AS DOUBLE)) AS a
  FROM documents docs LEFT JOIN (
    SELECT e.dst AS id, sum(h{k}.h / od.od) AS v FROM e
    JOIN h{k} ON h{k}.id = e.src
    JOIN od ON od.id = e.src
    GROUP BY e.dst
  ) s ON s.id = docs.doc_id
)"""
        )
    k = n_iters
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a{k}.id AS doc_id,
       round(a{k}.a * (CAST(1.0 AS DOUBLE)/(SELECT sum(a) FROM a{k})), 9) AS authority,
       round(h{k}.h * (CAST(1.0 AS DOUBLE)/(SELECT sum(h) FROM h{k})), 9) AS hub
FROM a{k} JOIN h{k} ON a{k}.id = h{k}.id"""
    )


def _sampling_thresholds() -> dict[str, int]:
    from searchengine_spark.operators.sampling import mixture_thresholds

    return mixture_thresholds(MIXTURE_WEIGHTS)


# ---- 60-bit md5-derived hashes (dedup.SIMHASH_BITS rationale): md5
# exists in both engines; the int value is rebuilt from the first 15 hex
# chars by digit arithmetic -------------------------------------------


def _duck_h60(expr: str) -> str:
    """DuckDB bigint of the first 60 bits of md5(expr)."""
    return (
        "CAST(list_sum(list_transform(range(15), i -> "
        f"CAST(strpos('0123456789abcdef', substring(md5({expr}), "
        "CAST(i + 1 AS INTEGER), 1)) - 1 AS BIGINT)"
        " * (CAST(1 AS BIGINT) << CAST((14 - i) * 4 AS INTEGER)))) AS BIGINT)"
    )


_DUCK_DSIR = f"""
bocc AS (
  SELECT doc_id, {_duck_h60("token")} % 128 AS bucket FROM tok2
),
tgt AS (SELECT doc_id FROM documents WHERE lang = 'de'),
cs AS (SELECT bucket, count(*) AS cs FROM bocc GROUP BY bucket),
ct AS (
  SELECT bucket, count(*) AS ct FROM bocc
  WHERE doc_id IN (SELECT doc_id FROM tgt) GROUP BY bucket
),
tots AS (
  SELECT (SELECT count(*) FROM bocc) AS ts,
         (SELECT count(*) FROM bocc
          WHERE doc_id IN (SELECT doc_id FROM tgt)) AS tt
),
ratio AS (
  SELECT b.bucket,
         ln((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0e0)
            / (CAST(tots.tt AS DOUBLE) + 128.0e0))
       - ln((CAST(COALESCE(cs.cs, 0) AS DOUBLE) + 1.0e0)
            / (CAST(tots.ts AS DOUBLE) + 128.0e0)) AS logr
  FROM (SELECT unnest(range(128)) AS bucket) b
  LEFT JOIN cs ON cs.bucket = b.bucket
  LEFT JOIN ct ON ct.bucket = b.bucket, tots
),
pdb AS (
  SELECT doc_id, bucket, count(*) AS nb FROM bocc GROUP BY doc_id, bucket
),
dterm AS (
  SELECT doc_id, pdb.bucket, nb, CAST(nb AS DOUBLE) * logr AS term
  FROM pdb JOIN ratio ON ratio.bucket = pdb.bucket
),
dsirw AS (
  SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(term ORDER BY bucket)),
                     (a, x) -> a + x) AS log_weight
  FROM dterm GROUP BY doc_id
)
"""


def _duck_winnow(k: int, w: int) -> str:
    """CTE block ending in `winfp` = robust-winnowing fingerprints
    (doc_id, pos, fp) — the DuckDB mirror of
    operators/winnow.winnow_fingerprints: same md5-60bit gram hashes,
    same rightmost-min window rule, row-level DISTINCT standing in for
    Spark's in-row array_distinct."""
    # _duck_h60 binds its inner lambda var as `i`; the gram-position
    # var here must not shadow it — use g/j/q.
    gram = _duck_h60(f"array_to_string(list_slice(tl, g + 1, g + {k}), ' ')")
    mn = "list_min(list_slice(hl, j + 1, j + we))"
    return f"""
wtl AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
whl AS (
  SELECT doc_id,
         list_transform(range(len(tl) - {k} + 1), g -> {gram}) AS hl
  FROM wtl WHERE len(tl) >= {k}
),
whw AS (SELECT doc_id, hl, least({w}, len(hl)) AS we FROM whl),
wsel AS (
  SELECT doc_id,
    unnest(list_transform(range(len(hl) - we + 1), j ->
      {{'pos': j + list_max(list_transform(range(we), q ->
           CASE WHEN hl[j + q + 1] = {mn} THEN q + 1 ELSE 0 END)) - 1,
        'fp': {mn}}})) AS s
  FROM whw
),
winfp AS (
  SELECT DISTINCT doc_id, CAST(s.pos AS INT) AS pos,
         CAST(s.fp AS BIGINT) AS fp
  FROM wsel
)"""


_DUCK_H60 = _duck_h60("token")
_DUCK_SIMHASH_PAIRS = f"""
WITH tok AS (
  SELECT doc_id, trim(t, ' ''') AS token
  FROM documents,
       unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS u(t)
),
tok2 AS (
  SELECT doc_id, token FROM tok WHERE token <> '' AND length(token) <= 10000
),
th AS (SELECT doc_id, {_DUCK_H60} AS h FROM tok2),
bt AS (
  SELECT doc_id, b.range AS b,
         sum(CAST((h >> CAST(b.range AS INTEGER)) & 1 AS BIGINT)) AS ones,
         count(*) AS n
  FROM th CROSS JOIN range(60) b GROUP BY doc_id, b.range
),
sig0 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN 2 * ones > n
                  THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
  FROM bt GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id, coalesce(s.sig, CAST(0 AS BIGINT)) AS sig
  FROM documents d LEFT JOIN sig0 s USING (doc_id)
),
banded AS (
  SELECT doc_id, sig, b.range AS band_id,
         (sig >> CAST(b.range * 15 AS INTEGER)) & 32767 AS band_val
  FROM sig CROSS JOIN range(4) b
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_val = r.band_val
   AND l.doc_id < r.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.sig, sb.sig)) <= 3"""


# ---- ann_lsh: the SAME seeded hyperplane literals as the Spark side
# (Python repr round-trips doubles exactly in both engines); the bucket
# dot product is a sequential left fold in both, so the sign bits agree
# bit-for-bit ----------------------------------------------------------
def _duck_bucket_bits(planes: list[list[float]]) -> str:
    bits = []
    for i, plane in enumerate(planes):
        plit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        dot = (
            f"list_reduce(list_transform(range(1, {len(plane) + 1}), "
            f"i -> v[CAST(i AS INTEGER)] * ({plit})[CAST(i AS INTEGER)]), "
            "(a, x) -> a + x)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0.0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


_ANN_DIM = 64  # testdata embeddings dimension (all sf dirs)
_ANN_PLANES = SS._hyperplanes(_ANN_DIM, 4, 11)  # matches q_ann_lsh

_DUCK_VCOS = (
    "CASE WHEN list_dot_product(q.qv, q.qv) = 0.0 OR "
    "list_dot_product(b.v, b.v) = 0.0 THEN 0.0 ELSE "
    "list_dot_product(b.v, q.qv) / "
    "(sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))) END"
)

_DUCK_ANN_LSH = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_duck_bucket_bits(_ANN_PLANES)} AS bucket FROM e),
q AS (SELECT bucket AS qbucket, v AS qv FROM b WHERE vec_id = 0)
SELECT b.vec_id, round({_DUCK_VCOS}, 9) AS cosine
FROM b, q WHERE b.bucket = q.qbucket
ORDER BY {_DUCK_VCOS} DESC, b.vec_id ASC LIMIT 10"""


def _duck_dot(vexpr: str, plane: list[float]) -> str:
    """Sequential-fold ⟨vexpr, plane⟩ — the same left-fold order as the
    Spark aggregate/zip_with and Python sum, so doubles agree bitwise."""
    plit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
    return (
        f"list_reduce(list_transform(range(1, {len(plane) + 1}), "
        f"i -> {vexpr}[CAST(i AS INTEGER)] * ({plit})[CAST(i AS INTEGER)]), "
        "(a, x) -> a + x)"
    )


# ann_lsh_probe: 6 planes, margin-ordered multi-probe (query bucket +
# the 6 single-plane flips ordered by |⟨q, plane⟩|) — mirrors
# simsearch.probe_buckets' single-flip regime exactly (same fold
# arithmetic, same (abs(margin), plane-index) tie-break).
_ANN_PLANES6 = SS._hyperplanes(_ANN_DIM, 6, 11)  # matches q_ann_lsh_probe
_DUCK_ANN_LSH_PROBE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_duck_bucket_bits(_ANN_PLANES6)} AS bucket FROM e),
q AS (SELECT bucket AS qbucket, v AS qv FROM b WHERE vec_id = 0),
m(mask, ad, i) AS ({" UNION ALL ".join(
    f"SELECT {1 << i}, abs({_duck_dot('q.qv', p)}), {i} FROM q"
    for i, p in enumerate(_ANN_PLANES6)
)}),
flips AS (SELECT mask FROM m ORDER BY ad, i LIMIT 6),
probes AS (
  SELECT qbucket AS pb FROM q
  UNION ALL
  SELECT xor(q.qbucket, flips.mask) FROM flips, q
)
SELECT b.vec_id, round({_DUCK_VCOS}, 9) AS cosine
FROM b, q WHERE b.bucket IN (SELECT pb FROM probes)
ORDER BY {_DUCK_VCOS} DESC, b.vec_id ASC LIMIT 10"""

# ---- dup_clusters: connected components via recursive CTE over the
# exact near-dup edge set (symmetric closure; min reachable id) ---------
_DUCK_DUP_CLUSTERS = f"""
WITH RECURSIVE toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g AS (SELECT doc_id, {_DUCK_GRAMS} AS gs FROM toks),
p AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.gs, b.gs)) > 0
    AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7
),
edg AS (
  SELECT da AS src, db AS dst FROM p
  UNION ALL
  SELECT db AS src, da AS dst FROM p
),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  UNION
  SELECT edg.dst AS v, reach.r FROM reach JOIN edg ON edg.src = reach.v
)
SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v"""

# ---- ivf_topk: Lloyd-TRAINED quantizer replayed in SQL ---------------
# The Spark side trains train_iters deterministic Lloyd iterations on
# the first train_sample vectors by id (simsearch.train_centroids):
# every fold has a DEFINED order (dims in order for distances; members
# in vec_id order for the mean sums), so DuckDB reproduces the exact
# same IEEE doubles by running the identical iteration arithmetic —
# assignment (argmin seq-fold d2, cid tie-break) and per-dim ordered
# list folds below mirror the Python loops statement for statement.
_IVF_IDX = "CAST(i AS INTEGER)"
_DUCK_IVF_D2 = (
    f"list_reduce(list_transform(range(1, {_ANN_DIM + 1}), "
    f"i -> ({{a}}[{_IVF_IDX}] - {{b}}[{_IVF_IDX}]) * "
    f"({{a}}[{_IVF_IDX}] - {{b}}[{_IVF_IDX}])), (acc, x) -> acc + x)"
)


def _duck_ivf_assign_ctes(
    n_centroids: int = 8, iters: int = 2, sample: int = 256
) -> list[str]:
    """Shared CTE chain ending in af(vec_id, cid): the Lloyd-trained
    coarse-quantizer assignment replay (ivf_topk and semdedup oracles)."""
    d2 = _DUCK_IVF_D2
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {sample})",
        (
            f"c0 AS (SELECT vec_id AS cid, v AS cv FROM samp "
            f"ORDER BY vec_id LIMIT {n_centroids})"
        ),
    ]
    for t in range(iters):
        ctes.append(
            f"""a{t} AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, x.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY x.d2, x.cid) AS rn
    FROM (SELECT s.vec_id, s.v, c.cid,
                 {d2.format(a="s.v", b="c.cv")} AS d2
          FROM samp s CROSS JOIN c{t} c) x
  ) w WHERE rn = 1)"""
        )
        ctes.append(
            f"""s{t} AS (
  SELECT cid, r.range AS j,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(v[CAST(r.range AS INTEGER)] ORDER BY vec_id)),
           (a, b) -> a + b) AS sm,
         count(*) AS n
  FROM a{t} CROSS JOIN range(1, {_ANN_DIM + 1}) r GROUP BY cid, r.range)"""
        )
        ctes.append(
            f"m{t} AS (SELECT cid, list(sm / n ORDER BY j) AS cv "
            f"FROM s{t} GROUP BY cid)"
        )
        ctes.append(
            f"c{t + 1} AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv "
            f"FROM c{t} c LEFT JOIN m{t} m USING (cid))"
        )
    cf = f"c{iters}"
    ctes.append(
        f"""af AS (
  SELECT vec_id, cid FROM (
    SELECT x.vec_id, x.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY x.d2, x.cid) AS rn
    FROM (SELECT e.vec_id, c.cid, {d2.format(a="e.v", b="c.cv")} AS d2
          FROM e CROSS JOIN {cf} c) x
  ) w WHERE rn = 1)"""
    )
    return ctes


def _duck_pq_sql(
    m: int = 4, ksub: int = 8, iters: int = 2, sample: int = 256,
    k: int = 10, qid: int = 0,
) -> str:
    """Product-quantization ADC oracle — replays pq_topk end to end:
    per-subspace Lloyd on v[lo:hi] slices (the ivf CTE chain with a
    subspace suffix), full-table codes by per-(vec, subspace) argmin,
    query distance table from the qid vector, ADC = j-ordered fold of
    the m lookups. Every fold has a defined order; x[1]-init
    list_reduce equals the Spark 0.0-seeded fold bit-exactly."""
    sub = _ANN_DIM // m
    d2s = (
        f"list_reduce(list_transform(range(1, {sub + 1}), "
        f"i -> (({{a}}[{_IVF_IDX}] - {{b}}[{_IVF_IDX}])) * "
        f"(({{a}}[{_IVF_IDX}] - {{b}}[{_IVF_IDX}]))), (acc, x) -> acc + x)"
    )
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        f"samp AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {sample})",
        f"qv AS (SELECT v FROM e WHERE vec_id = {qid})",
    ]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        ctes.append(
            f"sub{j} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM samp)"
        )
        ctes.append(
            f"c0_{j} AS (SELECT vec_id AS cid, v AS cv FROM sub{j} "
            f"ORDER BY vec_id LIMIT {ksub})"
        )
        for t in range(iters):
            ctes.append(
                f"""a{t}_{j} AS (
  SELECT vec_id, v, cid FROM (
    SELECT x.vec_id, x.v, x.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY x.d2, x.cid) AS rn
    FROM (SELECT s.vec_id, s.v, c.cid,
                 {d2s.format(a="s.v", b="c.cv")} AS d2
          FROM sub{j} s CROSS JOIN c{t}_{j} c) x
  ) w WHERE rn = 1)"""
            )
            ctes.append(
                f"""s{t}_{j} AS (
  SELECT cid, r.range AS dj,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(v[CAST(r.range AS INTEGER)] ORDER BY vec_id)),
           (a, b) -> a + b) AS sm,
         count(*) AS n
  FROM a{t}_{j} CROSS JOIN range(1, {sub + 1}) r GROUP BY cid, r.range)"""
            )
            ctes.append(
                f"m{t}_{j} AS (SELECT cid, list(sm / n ORDER BY dj) AS cv "
                f"FROM s{t}_{j} GROUP BY cid)"
            )
            ctes.append(
                f"c{t + 1}_{j} AS (SELECT c.cid, coalesce(m.cv, c.cv) AS cv "
                f"FROM c{t}_{j} c LEFT JOIN m{t}_{j} m USING (cid))"
            )
        cf = f"c{iters}_{j}"
        ctes.append(
            f"""code{j} AS (
  SELECT vec_id, cid FROM (
    SELECT x.vec_id, x.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY x.d2, x.cid) AS rn
    FROM (SELECT e.vec_id, c.cid,
                 {d2s.format(a=f"e.v[{lo}:{hi}]", b="c.cv")} AS d2
          FROM e CROSS JOIN {cf} c) x
  ) w WHERE rn = 1)"""
        )
        ctes.append(
            f"""dt{j} AS (
  SELECT c.cid, {d2s.format(a="q.qs", b="c.cv")} AS dq
  FROM {cf} c CROSS JOIN
       (SELECT v[{lo}:{hi}] AS qs FROM qv) q)"""
        )
        ctes.append(
            f"adc{j} AS (SELECT code{j}.vec_id, dt{j}.dq "
            f"FROM code{j} JOIN dt{j} USING (cid))"
        )
    unions = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, dq FROM adc{j}" for j in range(m)
    )
    ctes.append(f"lk AS ({unions})")
    ctes.append(
        """sc AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(dq ORDER BY j)),
                     (a, b) -> a + b) AS d2
  FROM lk GROUP BY vec_id)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT vec_id, round(d2, 9) AS approx_d2 FROM sc
ORDER BY d2 ASC, vec_id ASC LIMIT {k}"""
    )


def _duck_ivf_sql(
    n_centroids: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    sample: int = 256,
    k: int = 10,
) -> str:
    d2 = _DUCK_IVF_D2
    cf = f"c{iters}"
    ctes = _duck_ivf_assign_ctes(n_centroids, iters, sample)
    ctes += [
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)",
        f"qd AS (SELECT c.cid, {d2.format(a='c.cv', b='q.qv')} AS d2 "
        f"FROM {cf} c, q)",
        f"probes AS (SELECT cid FROM qd ORDER BY d2, cid LIMIT {nprobe})",
        (
            "b AS (SELECT e.vec_id, e.v FROM e JOIN af USING (vec_id) "
            "WHERE af.cid IN (SELECT cid FROM probes))"
        ),
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT b.vec_id, round({_DUCK_VCOS}, 9) AS cosine"
        + f"\nFROM b, q ORDER BY {_DUCK_VCOS} DESC, b.vec_id ASC LIMIT {k}"
    )


_DUCK_IVF = _duck_ivf_sql()


def _duck_semdedup_sql(threshold: float = 0.7) -> str:
    """SemDedup oracle: replay the coarse-quantizer assignment (shared
    CTEs), then prune b iff a lower-id cluster-mate has cosine >=
    threshold (raw list_dot_product cosine — same parity basis as the
    embed_pairs oracle; the corpus has no zero vectors)."""
    ctes = _duck_ivf_assign_ctes()
    body = f"""pr AS (
  SELECT DISTINCT bf.vec_id AS vid
  FROM af aaf JOIN af bf ON aaf.cid = bf.cid AND aaf.vec_id < bf.vec_id
  JOIN embeddings a ON a.vec_id = aaf.vec_id
  JOIN embeddings b ON b.vec_id = bf.vec_id
  WHERE {_DUCK_COS} >= {threshold})"""
    return (
        "WITH " + ",\n".join(ctes + [body])
        + "\nSELECT af.vec_id, af.cid, "
        + "(af.vec_id IN (SELECT vid FROM pr)) AS pruned FROM af"
    )


# ---- media_features / frame_sample: the media fixture's payload is the
# utf-8 bytes of `text`, and the testdata text is pure ASCII, so DuckDB
# walks it character-wise (char == byte) — byte histogram bins, Shannon
# entropy, and stride-sampled 256-byte block fingerprints all recompute
# exactly (frame hash = md5-60bit, see multimodal.frame_sample) --------
_DUCK_MEDIA_FEATURES = """
WITH m AS (SELECT doc_id AS media_id, text FROM documents),
byte AS (
  SELECT media_id,
         ascii(substring(text, CAST(i + 1 AS INTEGER), 1)) // 16 AS bin
  FROM m, unnest(range(length(text))) AS r(i)
),
cnt AS (SELECT media_id, bin, count(*) AS c FROM byte GROUP BY media_id, bin),
tot AS (SELECT media_id, length(text) AS n_bytes FROM m),
ent AS (
  SELECT cnt.media_id,
         -sum((CAST(c AS DOUBLE) / n_bytes)
              * log2(CAST(c AS DOUBLE) / n_bytes)) AS entropy
  FROM cnt JOIN tot USING (media_id) GROUP BY cnt.media_id
)
SELECT t.media_id, t.n_bytes, round(coalesce(e.entropy, 0.0), 9) AS entropy
FROM tot t LEFT JOIN ent e USING (media_id)"""

_DUCK_FRAME_SAMPLE = f"""
WITH v AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2),
blk AS (
  SELECT media_id, CAST(i AS INTEGER) AS bi,
         substring(text, CAST(i * 256 + 1 AS INTEGER), 256) AS b
  FROM v, unnest(range(CAST(ceil(length(text) / 256.0) AS BIGINT))) AS r(i)
)
SELECT media_id, CAST(bi // 4 AS INTEGER) AS frame_idx,
       {_duck_h60("b")} AS frame_hash
FROM blk WHERE bi % 4 = 0"""

_EN = ", ".join(f"'{w}'" for w in TS.STOPWORDS["en"])

# rounded-9 quality score as reusable CTEs (keep_best / curate oracles);
# same arithmetic as the `quality` oracle, one column (doc_id, qq)
_DUCK_QQ = f"""tq AS (SELECT doc_id, text, {_DUCK_TL} AS tl FROM documents),
q AS (
  SELECT doc_id,
         round(0.4*(CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))
                       AS DOUBLE) / length(text) END)
         + 0.4*least(1.0, 5.0*(CASE WHEN len(tl) = 0 THEN 0.0
             ELSE CAST(len(list_filter(tl, t -> t IN ({_EN}))) AS DOUBLE)
                  / len(tl) END))
         + 0.2*least(1.0, CAST(len(tl) AS DOUBLE)/256.0), 9) AS qq
  FROM tq
)"""

_LANG_HITS = ", ".join(
    "len(list_filter(tl, t -> t IN ("
    + ", ".join(f"'{w}'" for w in TS.STOPWORDS[lang])
    + f"))) AS h_{lang}"
    for lang in TS.LANG_ORDER
)
_LANG_BEST = "greatest(" + ", ".join(f"h_{lang}" for lang in TS.LANG_ORDER) + ")"
_LANG_CASE = (
    "CASE WHEN " + _LANG_BEST + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN h_{lang} = {_LANG_BEST} THEN '{lang}'" for lang in TS.LANG_ORDER
    )
    + " END"
)


_DUCK_DNF_PREFIX = (
    f"WITH {_DUCK_TOKENS}, {_duck_and(_DNF[0])}, "
    + _duck_and(_DNF[1])
    .replace("hits AS", "hits2 AS")
    .replace("andq AS", "andq2 AS")
    .replace("JOIN hits USING", "JOIN hits2 USING")
    + """,
unioned AS (
  SELECT doc_id, tf_idf, 0 AS conj FROM andq
  UNION ALL
  SELECT doc_id, tf_idf, 1 AS conj FROM andq2
),
firstwin AS (
  SELECT doc_id, tf_idf,
         row_number() OVER (PARTITION BY doc_id ORDER BY conj) AS rn
  FROM unioned
)"""
)

_DUCK_TOPK = (
    _DUCK_DNF_PREFIX
    + """
SELECT doc_id, round(tf_idf,9) AS tf_idf FROM firstwin WHERE rn = 1
ORDER BY tf_idf ASC, doc_id ASC LIMIT 5"""
)


# host-level boilerplate strip: mirrors operators/boilerplate.py over
# the same synthetic host/footer construction as q_boilerplate. The
# frequency bar compares df (int) against n_docs * 0.3 after the same
# int->double promotions as the Spark Column expression.
_DUCK_BOILERPLATE = """
WITH d AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
         text || chr(10) || 'copyright footer h'
              || CAST(doc_id % 20 AS VARCHAR)
              || chr(10) || 'nav home about' AS text
  FROM documents
),
l AS (
  SELECT doc_id, host,
         unnest(list_transform(string_split(text, chr(10)),
                (x, i) -> struct_pack(pos := i, raw := x)),
                recursive := true)
  FROM d
),
tl AS (SELECT doc_id, host, pos, raw, trim(raw) AS line FROM l),
tot AS (SELECT host, count(DISTINCT doc_id) AS n_docs FROM d GROUP BY host),
dfl AS (
  SELECT host, line, count(*) AS df
  FROM (SELECT DISTINCT host, doc_id, line FROM tl WHERE line <> '')
  GROUP BY host, line
),
freqset AS (
  SELECT dfl.host, dfl.line FROM dfl JOIN tot USING (host)
  WHERE df >= 2 AND CAST(df AS DOUBLE) >= CAST(n_docs AS DOUBLE) * 0.3e0
),
kept AS (
  SELECT tl.doc_id, tl.pos, tl.raw
  FROM tl LEFT JOIN freqset fs ON tl.host = fs.host AND tl.line = fs.line
  WHERE fs.line IS NULL
),
agg AS (
  SELECT doc_id, string_agg(raw, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
nl AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM d)
SELECT d.doc_id,
       coalesce(agg.clean_text, '') AS clean_text,
       CAST(coalesce(agg.n_kept, 0) AS INT) AS n_kept,
       CAST(nl.n_lines - coalesce(agg.n_kept, 0) AS INT) AS n_dropped
FROM d JOIN nl USING (doc_id) LEFT JOIN agg USING (doc_id)"""

# triangle counting over the synthetic expander graph: the oracle
# enumerates each triangle once at its id-minimum corner (a < b < c);
# the Spark operator enumerates it at its degree-order-minimum corner —
# the SET of triangles is identical, which is the point of the check
_DUCK_TRIANGLES = """
WITH nn AS (SELECT count(*) AS c FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
  GROUP BY node
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pern AS (
  SELECT node, count(*) AS triangles
  FROM (SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY node
)
SELECT deg.node, deg.degree,
       coalesce(pern.triangles, 0) AS triangles,
       round(CASE WHEN deg.degree >= 2 THEN
               (2.0e0 * CAST(coalesce(pern.triangles, 0) AS DOUBLE))
               / (CAST(deg.degree AS DOUBLE)
                  * CAST(deg.degree - 1 AS DOUBLE))
             ELSE 0.0e0 END, 9) AS clustering
FROM deg LEFT JOIN pern USING (node)"""


# ordered-step funnel with earliest-completion semantics: step k's
# per-user time is the min event time of type k STRICTLY after the
# user's step-(k-1) time; conversion vs funnel entry
_DUCK_FUNNEL = """
WITH ev AS (
  SELECT event_id % 200 AS user_id, ts, event_type FROM events
),
s1 AS (SELECT user_id, min(ts) AS t FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT ev.user_id, min(ev.ts) AS t FROM ev JOIN s1 USING (user_id)
       WHERE ev.event_type = 'click' AND ev.ts > s1.t GROUP BY ev.user_id),
s3 AS (SELECT ev.user_id, min(ev.ts) AS t FROM ev JOIN s2 USING (user_id)
       WHERE ev.event_type = 'purchase' AND ev.ts > s2.t GROUP BY ev.user_id),
c AS (
  SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'click', count(*) FROM s2
  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
)
SELECT step_idx, step, n_users,
       round(CAST(n_users AS DOUBLE)
             / (SELECT CAST(n_users AS DOUBLE) FROM c WHERE step_idx = 1),
             9) AS conversion
FROM c"""

# shared expander-graph canonical-edge prefix for the graph oracles
_DUCK_EXPANDER_E = """
nn AS (SELECT count(*) AS c FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst
)"""

# Adamic-Adar: same degree-cut + w-sorted fold as the Spark operator
_DUCK_ADAMIC_ADAR = f"""
WITH {_DUCK_EXPANDER_E},
adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT w, count(*) AS deg FROM adj GROUP BY w),
cent AS (SELECT adj.w, adj.n, deg.deg FROM adj JOIN deg USING (w)
         WHERE deg <= 64),
wed AS (
  SELECT x.n AS node_a, y.n AS node_b, x.w AS w,
         1.0e0 / ln(CAST(x.deg AS DOUBLE)) AS val
  FROM cent x JOIN cent y ON x.w = y.w AND x.n < y.n
),
nonadj AS (
  SELECT wed.* FROM wed
  LEFT JOIN e ON e.a = wed.node_a AND e.b = wed.node_b
  WHERE e.a IS NULL
)
SELECT node_a, node_b, count(*) AS n_common,
       round(list_reduce(list_prepend(0.0e0, list(val ORDER BY w)),
                         (acc, v) -> acc + v), 9) AS score
FROM nonadj GROUP BY node_a, node_b"""


def _duck_kcore(k: int, rounds: int) -> str:
    """Unrolled k-core peel: each round keeps edges with both ends
    alive, recomputes degrees, drops nodes under k. ``rounds`` must be
    >= the peel's fixpoint depth (extra rounds are idempotent); the
    Spark operator iterates to the fixpoint and raises if truncated,
    so agreement here is also a convergence check."""
    # every per-round CTE is MATERIALIZED: DuckDB inlines CTEs by
    # default, and a{i-1} appearing twice per round would otherwise
    # expand the plan tree 2^rounds-fold (observed: fd exhaustion from
    # hundreds of parquet re-opens at rounds=8)
    parts = [
        _DUCK_EXPANDER_E.replace("e AS (", "e AS MATERIALIZED ("),
        "a0 AS MATERIALIZED (SELECT a AS node FROM e UNION SELECT b FROM e)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""ee{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e
  JOIN a{i - 1} x ON e.a = x.node JOIN a{i - 1} y ON e.b = y.node
),
d{i} AS MATERIALIZED (
  SELECT node, count(*) AS core_degree
  FROM (SELECT a AS node FROM ee{i} UNION ALL SELECT b FROM ee{i})
  GROUP BY node
),
a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE core_degree >= {k})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, core_degree FROM d{rounds} WHERE core_degree >= {k}"
    )


def _duck_ktruss(k: int, rounds: int) -> str:
    """Unrolled k-truss edge peel over the expander fixture: each round
    enumerates triangles at their min-ID corner (pure id-ordered wedge
    join — the triangle SET is orientation-independent, so support
    matches the Spark side's degree-ordered enumeration), credits the
    three id-canonical edges, drops edges under k-2. ``rounds`` must
    cover the fixpoint depth (extra rounds idempotent; the Spark
    operator raises if its own loop is truncated). Every CTE is
    MATERIALIZED — the k_core lesson about 2^rounds inlining."""
    clique_pairs = ", ".join(
        f"({i}, {j})" for i in range(5) for j in range(i + 1, 5)
    )
    base = _DUCK_EXPANDER_E.replace("e0 AS (", "ex0 AS MATERIALIZED (", 1)
    base = base.replace(
        """e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst
)""",
        f"""cl0 AS MATERIALIZED (
  SELECT doc_id + p.i AS src, doc_id + p.j AS dst
  FROM documents CROSS JOIN (VALUES {clique_pairs}) p(i, j)
  WHERE doc_id % 50 = 0 AND doc_id + p.j < (SELECT c FROM nn)
),
ee0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM (SELECT src, dst FROM ex0 UNION ALL SELECT src, dst FROM cl0)
  WHERE src <> dst
)""",
        1,
    )
    parts = [base]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""tri{i} AS MATERIALIZED (
  SELECT x.a AS t1, x.b AS t2, y.b AS t3
  FROM ee{p} x JOIN ee{p} y ON x.a = y.a AND x.b < y.b
  JOIN ee{p} z ON z.a = x.b AND z.b = y.b
),
te{i} AS MATERIALIZED (
  SELECT t1 AS a, t2 AS b FROM tri{i}
  UNION ALL SELECT t1, t3 FROM tri{i}
  UNION ALL SELECT t2, t3 FROM tri{i}
),
sup{i} AS MATERIALIZED (
  SELECT e.a, e.b, coalesce(s.c, 0) AS support
  FROM ee{p} e LEFT JOIN
    (SELECT a, b, count(*) AS c FROM te{i} GROUP BY a, b) s
    USING (a, b)
),
ee{i} AS MATERIALIZED (
  SELECT a, b FROM sup{i} WHERE support >= {k - 2}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT a, b, CAST(support AS BIGINT) AS support "
        + f"FROM sup{rounds} WHERE support >= {k - 2}"
    )


def _duck_bpe_chain(n_merges: int) -> str:
    """Unrolled BPE merge CTE chain mirroring operators/bpe._train:
    v0 = char-encoded weighted vocabulary; each iteration counts
    adjacent "|x |y " pairs, takes the argmax (count DESC, pair ASC)
    and applies the greedy left-to-right replace. DuckDB string
    literals keep backslashes (standard SQL), hence the single-
    backslash chunk regex vs the Spark-side doubled one. Every v{k}
    is MATERIALIZED — the chain references each v{k-1} three times
    (pair scan + two argmax scalar subqueries), so inlining would
    expand the plan tree 3^n_merges-fold."""
    from searchengine_spark.operators.bpe import CHUNK_RE_DUCK

    parts = [
        """v0 AS MATERIALIZED (
  SELECT token AS tok, count(*) AS freq,
         regexp_replace(token, '(.)', '|\\1 ', 'g') AS enc
  FROM tok2 GROUP BY token
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""c{k} AS (
  SELECT freq, regexp_extract_all(enc, '{CHUNK_RE_DUCK}') AS c FROM v{k - 1}
),
p{k} AS (
  SELECT u.p AS pair, sum(freq) AS f
  FROM c{k}, unnest(list_filter(list_transform(c,
       (x, i) -> CASE WHEN i < len(c) THEN x || c[i + 1] END),
       y -> y IS NOT NULL)) AS u(p)
  GROUP BY pair
),
b{k} AS MATERIALIZED (SELECT pair, f FROM p{k}
                      ORDER BY f DESC, pair ASC LIMIT 1),
v{k} AS MATERIALIZED (
  SELECT tok, freq, replace(enc, (SELECT pair FROM b{k}),
                       replace((SELECT pair FROM b{k}), ' |', '')) AS enc
  FROM v{k - 1}
)"""
        )
    return "WITH " + _DUCK_TOKENS + ",\n" + ",\n".join(parts) + "\n"


def _duck_bpe(n_merges: int) -> str:
    selects = [
        f"SELECT {k} AS \"rank\", "
        f"ltrim(string_split(pair, ' ')[1], '|') AS \"left\", "
        f"ltrim(string_split(pair, ' ')[2], '|') AS \"right\", "
        f"CAST(f AS BIGINT) AS freq FROM b{k}"
        for k in range(1, n_merges + 1)
    ]
    return _duck_bpe_chain(n_merges) + "\nUNION ALL\n".join(selects)


def _duck_bpe_encode(n_merges: int) -> str:
    """Per-doc piece counts under the final merged vocabulary."""
    from searchengine_spark.operators.bpe import CHUNK_RE_DUCK

    return (
        _duck_bpe_chain(n_merges)
        + f""", vt AS (
  SELECT tok AS token,
         len(regexp_extract_all(enc, '{CHUNK_RE_DUCK}')) AS np
  FROM v{n_merges}
)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(np) AS BIGINT) AS n_pieces
FROM tok2 JOIN vt USING (token) GROUP BY doc_id"""
    )


def _duck_ltr(terms: list[str]) -> str:
    """LTR feature assembly: BM25 pivot + match breadth on the pruned
    candidate set, joined to doc length (tq's token list), quality
    (qq) and a NESTED full PageRank query (its CTE names scope inside
    `pr AS (...)`, so they can't clash with the wts/tq bundles)."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    case = " + ".join(
        f"coalesce(max(CASE WHEN token = '{t}' THEN w END), 0.0e0)"
        for t in uniq
    )
    inlist = ", ".join(f"'{t}'" for t in uniq)
    return f"""
WITH {_DUCK_BM25_WTS},
{_DUCK_QQ},
pr AS ({_pagerank_sql()}),
cand AS (
  SELECT doc_id, {case} AS bm25, count(DISTINCT token) AS n_matched
  FROM wts WHERE token IN ({inlist}) GROUP BY doc_id
),
dl AS (SELECT doc_id, len(tl) AS doc_len FROM tq)
SELECT cand.doc_id, round(cand.bm25, 9) AS bm25, cand.n_matched,
       dl.doc_len, q.qq AS quality, pr.rank AS rank
FROM cand JOIN dl USING (doc_id) JOIN q USING (doc_id)
JOIN pr USING (doc_id)"""


def _duck_kmv(k: int) -> str:
    """KMV bottom-k distinct sketch over the token vocabulary — the
    k smallest distinct md5-60bit hashes reproduce bit-identically,
    so even the ESTIMATE is value-checked ((k-1)*2^60 / h_k, exact
    count when fewer than k distinct values exist)."""
    return f"""
WITH {_DUCK_TOKENS},
ht AS (SELECT DISTINCT {_duck_h60("token")} AS h FROM tok2),
top AS (SELECT h FROM ht ORDER BY h LIMIT {k}),
a AS (SELECT count(*) AS n_kept, max(h) AS kth_hash FROM top)
SELECT n_kept, kth_hash,
       round(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
             ELSE (CAST({k - 1} AS DOUBLE)
                   * CAST(1152921504606846976 AS DOUBLE))
                  / CAST(kth_hash AS DOUBLE) END, 9) AS est_distinct
FROM a"""


_DUCK_CHANGE_RATE = """
WITH cap AS (
  SELECT user_id AS url, ts AS cap_ts,
         CASE WHEN lag(event_type) OVER w IS NOT NULL
               AND event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
agg AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_caps,
         CAST(sum(chg) AS BIGINT) AS n_changed,
         date_diff('microseconds', min(cap_ts), max(cap_ts)) AS span_us
  FROM cap GROUP BY url HAVING count(*) >= 2
),
d1 AS (
  SELECT url, n_caps, n_changed,
         CAST(span_us AS DOUBLE) / CAST(n_caps - 1 AS DOUBLE)
           / 86400.0e6 AS gap_days,
         -ln((CAST(n_caps - 1 - n_changed AS DOUBLE) + 0.5e0)
             / (CAST(n_caps - 1 AS DOUBLE) + 0.5e0)) AS r_hat
  FROM agg
),
d2 AS (
  SELECT url, n_caps, n_changed, gap_days,
         CASE WHEN gap_days > 0.0e0 THEN r_hat / gap_days
              ELSE 0.0e0 END AS lambda_day
  FROM d1
)
SELECT url, n_caps, n_changed, round(gap_days, 9) AS gap_days,
       round(lambda_day, 9) AS lambda_day,
       round(CASE WHEN lambda_day <= 0.0e0 THEN 365.0e0
             ELSE least(365.0e0, greatest(1.0e0 / 24, 1.0e0 / lambda_day))
             END, 9) AS recrawl_days
FROM d2"""


def _duck_cms(w: int, d: int, k: int) -> str:
    """Count-min sketch replay: identical depth-salted md5-60bit
    bucketing, bucket-wise sum, min over depths — integers
    throughout, so the estimate itself is value-checked."""
    h = _duck_h60("concat(CAST(depth AS VARCHAR), ':', v)")
    return f"""
WITH {_DUCK_TOKENS},
freq AS (
  SELECT token AS v, CAST(count(*) AS BIGINT) AS n
  FROM tok2 GROUP BY token
),
dep AS (SELECT CAST(unnest(range({d})) AS BIGINT) AS depth),
kb AS (
  SELECT v, n, depth, {h} % {w} AS bucket FROM freq CROSS JOIN dep
),
sk AS (
  SELECT depth, bucket, CAST(sum(n) AS BIGINT) AS c
  FROM kb GROUP BY depth, bucket
),
est AS (
  SELECT v, n, min(c) AS est_count
  FROM kb JOIN sk USING (depth, bucket) GROUP BY v, n
)
SELECT v AS token, n AS exact_count, est_count FROM est
ORDER BY est_count DESC, token LIMIT {k}"""


def _duck_host_budget(budget: int) -> str:
    """Largest-remainder apportionment — pure int64 arithmetic, the
    straightforward window formulation (the Spark side's bucketed
    threshold selection is a plan optimization, same result set)."""
    return f"""
WITH h AS (
  SELECT source AS host, CAST(sum(n_chars) AS BIGINT) AS score
  FROM documents GROUP BY source
),
t AS (SELECT CAST(sum(score) AS BIGINT) AS s FROM h),
b AS (
  SELECT host, score,
         CASE WHEN s > 0 THEN CAST({budget} AS BIGINT) * score // s
              ELSE CAST(0 AS BIGINT) END AS base,
         CASE WHEN s > 0 THEN CAST({budget} AS BIGINT) * score % s
              ELSE CAST(0 AS BIGINT) END AS rem
  FROM h CROSS JOIN t
),
r AS (
  SELECT host, score, base, rem,
         row_number() OVER (ORDER BY rem DESC, host) AS rk
  FROM b
),
x AS (SELECT CAST({budget} - sum(base) AS BIGINT) AS extra FROM b)
SELECT host, score,
       CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM r CROSS JOIN x"""

# URL template census over the 5-family fixture (urlmining.url_fixture);
# regexes are RE2-safe and identical to urlmining.HOST_RE/HEX_RUN_RE/
# DIGIT_RUN_RE (DuckDB needs the explicit 'g' flag Spark implies)
_DUCK_URL_TEMPLATES = """
WITH u AS (
  SELECT 'https://h' || CAST(doc_id % 16 AS VARCHAR) || '.test' ||
    CASE doc_id % 5
      WHEN 0 THEN '/article/' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/product/' || CAST(doc_id AS VARCHAR)
                  || '?ref=' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 2 THEN '/tag/' || lang || '/page/' || CAST(doc_id % 50 AS VARCHAR)
      WHEN 3 THEN '/s/' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
      ELSE '/static/about'
    END AS url
  FROM documents
),
t AS (
  SELECT
    regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
    regexp_replace(regexp_replace(
      regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://[^/?#]+', ''),
      '[0-9a-f]{8,}', '{H}', 'g'), '[0-9]+', '{N}', 'g') AS template,
    url
  FROM u
)
SELECT host, template, count(*) AS n_urls,
       count(DISTINCT url) AS n_distinct_urls, min(url) AS example_url
FROM t GROUP BY host, template"""

# overlapping 64/48 token chunking — same start-set construction as
# traindata.chunk_text (full-stride starts + exact-tail start, distinct)
_DUCK_CHUNK_TEXT = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
t2 AS (SELECT doc_id, tl, len(tl) AS n FROM toks WHERE len(tl) > 0),
s AS (
  SELECT doc_id, tl, n,
         unnest(list_distinct(list_append(
           list_transform(
             range(CAST(floor(greatest(n - 64, 0) / 48.0) AS BIGINT) + 1),
             i -> i * 48),
           greatest(n - 64, 0)))) AS start
  FROM t2
)
SELECT doc_id, CAST(start AS INTEGER) AS start_tok,
       CAST(least(64, n - start) AS INTEGER) AS n_tok,
       md5(array_to_string(tl[start + 1 : start + 64], ' ')) AS chunk_hash
FROM s"""

# directed containment over stride-3 gram sets (exact; the Spark side's
# xxhash64 gram hashing is count-preserving so string-gram intersection
# sizes match, as with ngram_pairs)
_DUCK_CONTAINMENT = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g0 AS (SELECT doc_id, {_DUCK_GRAMS} AS gs FROM toks),
g AS (SELECT doc_id, gs FROM g0 WHERE len(gs) > 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  round(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(a.gs), 9)
    AS containment
FROM g a JOIN g b ON a.doc_id <> b.doc_id
WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(a.gs) >= 0.75"""

# ---- rendezvous (HRW) sharding over the URL fixture: weights are the
# repo-wide md5-60bit hash of url#shard, argmax = first max position
# (operators/sharding.py); fixture CTE identical to _DUCK_URL_TEMPLATES
_DUCK_URL_FIXTURE = """
  SELECT 'https://h' || CAST(doc_id % 16 AS VARCHAR) || '.test' ||
    CASE doc_id % 5
      WHEN 0 THEN '/article/' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/product/' || CAST(doc_id AS VARCHAR)
                  || '?ref=' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 2 THEN '/tag/' || lang || '/page/' || CAST(doc_id % 50 AS VARCHAR)
      WHEN 3 THEN '/s/' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
      ELSE '/static/about'
    END AS url
  FROM documents"""

# same fixture, carrying doc_id (robots_gate needs the row identity).
# Built by prefix surgery on the shared literal; the assert keeps a
# future rewording of the fixture SQL from silently yielding a
# doc_id-less subquery and a confusing oracle failure far from here.
_DUCK_URL_FIXTURE_ID = _DUCK_URL_FIXTURE.replace(
    "SELECT 'https://h'", "SELECT doc_id, 'https://h'", 1
)
assert _DUCK_URL_FIXTURE_ID != _DUCK_URL_FIXTURE, (
    "_DUCK_URL_FIXTURE changed; update the doc_id-projection surgery"
)

from searchengine_spark.operators.query import _prefix_upper as _q_prefix_upper

# cdx_range's half-open upper bound, computed by the SAME helper the
# Spark operator uses (operators/query.py:_prefix_upper) so the two
# engines can never disagree on the bound.
_cdx_upper = _q_prefix_upper("test,h3)/")


# ---- SURT/CDX oracle: the url fixture augmented exactly like
# q_surt_keys/_cdx_fixture (www. prefix on doc_id%3==0 FIRST, then the
# second query arg on doc_id%5==1), then the SURT built from string
# ops — reversed comma-joined www-stripped host, ')' separator,
# lowercase path, sorted query args (functions/urls.py:surt_col).
_DUCK_SURT = f"""
u AS ({_DUCK_URL_FIXTURE_ID}),
aug1 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN 'https://www.' || substr(url, 9) ELSE url END AS url
  FROM u),
aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 1
              THEN url || '&a=' || CAST(doc_id % 3 AS VARCHAR)
              ELSE url END AS url
  FROM aug1),
parts AS (
  SELECT doc_id, url,
         split_part(substr(url, 9), '/', 1) AS hostp,
         substr(substr(url, 9),
                length(split_part(substr(url, 9), '/', 1)) + 1) AS rest
  FROM aug),
parts2 AS (
  SELECT doc_id, url, hostp,
         split_part(rest, '?', 1) AS pathp,
         CASE WHEN contains(rest, '?')
              THEN substr(rest, length(split_part(rest, '?', 1)) + 2)
              ELSE '' END AS q
  FROM parts),
surts AS (
  SELECT doc_id, url,
         array_to_string(list_reverse(string_split(
           regexp_replace(lower(hostp), '^www\\d*\\.', ''), '.')), ',')
         || ')' || lower(pathp)
         || CASE WHEN q = '' THEN ''
                 ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&')
            END AS surt
  FROM parts2)
"""


def _duck_lpa_ctes(n_iters: int = 3) -> list[str]:
    """Unrolled synchronous min-tie label propagation over the expander
    edge fixture (same edge rules as the triangles/link_rank oracles)."""
    ctes = [
        "nn AS (SELECT count(*) AS c FROM documents)",
        """e0 AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
)""",
        (
            "e AS (SELECT DISTINCT least(src, dst) AS a, "
            "greatest(src, dst) AS b FROM e0 WHERE src <> dst)"
        ),
        "und AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e)",
        "l0 AS (SELECT DISTINCT v AS node, v AS label FROM und)",
    ]
    for i in range(1, n_iters + 1):
        ctes.append(
            f"""c{i} AS (
  SELECT und.v, l.label, count(*) AS cnt
  FROM und JOIN l{i - 1} l ON l.node = und.n GROUP BY und.v, l.label)"""
        )
        ctes.append(
            f"""b{i} AS (
  SELECT v AS node, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i}) x WHERE rn = 1)"""
        )
        ctes.append(
            f"l{i} AS (SELECT l.node, coalesce(b.label, l.label) AS label "
            f"FROM l{i - 1} l LEFT JOIN b{i} b USING (node))"
        )
    return ctes


def _duck_lpa_sql(n_iters: int = 3) -> str:
    ctes = _duck_lpa_ctes(n_iters)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, label FROM l{n_iters}"
    )


_DUCK_FETCH_SCHEDULE = f"""
WITH u AS ({_DUCK_URL_FIXTURE}),
h AS (
  SELECT url, lower(split_part(split_part(url, '://', 2), '/', 1)) AS host
  FROM u
),
d AS (
  SELECT url, host,
         0.5 * CAST(1 + length(host) % 4 AS DOUBLE) AS crawl_delay
  FROM h
)
SELECT url, host,
  row_number() OVER (PARTITION BY host ORDER BY url ASC) AS rk,
  round((row_number() OVER (PARTITION BY host ORDER BY url ASC) - 1)
        * crawl_delay, 9) AS sched_time
FROM d"""


_DUCK_HRW_W = _duck_h60("url || '#' || CAST(s AS VARCHAR)")


def _duck_shard(ws: str) -> str:
    return f"CAST(list_position({ws}, list_max({ws})) - 1 AS INTEGER)"


_DUCK_SHARD_ASSIGN = f"""
WITH u AS ({_DUCK_URL_FIXTURE}),
w AS (SELECT url, list_transform(range(8), s -> {_DUCK_HRW_W}) AS ws FROM u),
a AS (SELECT url, {_duck_shard('ws')} AS shard FROM w)
SELECT shard, count(*) AS n_urls, min(url) AS example_url
FROM a GROUP BY shard"""

_DUCK_SHARD_MOVES = f"""
WITH u AS ({_DUCK_URL_FIXTURE}),
w AS (SELECT url,
        list_transform(range(8), s -> {_DUCK_HRW_W}) AS w8,
        list_transform(range(7), s -> {_DUCK_HRW_W}) AS w7
      FROM u),
a AS (SELECT {_duck_shard('w8')} AS shard_8, {_duck_shard('w7')} AS shard_7
      FROM w)
SELECT shard_8, count(*) AS n_urls,
       CAST(sum(CASE WHEN shard_8 <> shard_7 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved
FROM a GROUP BY shard_8"""


_DUCK_SNIFF = __import__("searchengine_spark.operators.multimodal", fromlist=["sniff_mime_sql"]).sniff_mime_sql("payload")

def _duck_ring_cte(n_shards: int, vnodes: int) -> str:
    """CTE body ``ring{n}``: the (point, shard) circle of
    operators/ring.ring_points — h60('ring!s!v') per (shard, vnode),
    shard as INTEGER to match the pandas_udf('int') Spark column."""
    pt = _duck_h60("'ring!' || CAST(s AS VARCHAR) || '!' || CAST(v AS VARCHAR)")
    return f"""ring{n_shards} AS (
  SELECT CAST(s AS INTEGER) AS shard, {pt} AS pt
  FROM (SELECT unnest(range({n_shards})) AS s),
       (SELECT unnest(range({vnodes})) AS v)
)"""


def _duck_ring_owner(ring: str) -> str:
    """Scalar successor lookup on CTE ``ring``: first point >= hv,
    wrapping to the global minimum — ties (2^-60) break by (pt, shard)
    exactly like ring.ring_points' sort."""
    return f"""coalesce(
  (SELECT r.shard FROM {ring} r WHERE r.pt >= k.hv
   ORDER BY r.pt, r.shard LIMIT 1),
  (SELECT r.shard FROM {ring} r ORDER BY r.pt, r.shard LIMIT 1))"""


_DUCK_RING_ASSIGN = f"""
WITH u AS ({_DUCK_URL_FIXTURE}),
{_duck_ring_cte(8, 32)},
k AS (SELECT url, {_duck_h60("url")} AS hv FROM u),
a AS (SELECT k.url, {_duck_ring_owner("ring8")} AS shard FROM k)
SELECT shard, count(*) AS n_urls, min(url) AS example_url
FROM a GROUP BY shard"""


_DUCK_RING_MOVES = f"""
WITH u AS ({_DUCK_URL_FIXTURE}),
{_duck_ring_cte(8, 32)},
{_duck_ring_cte(9, 32)},
k AS (SELECT url, {_duck_h60("url")} AS hv FROM u),
a AS (SELECT k.url, {_duck_ring_owner("ring8")} AS shard_8,
             {_duck_ring_owner("ring9")} AS shard_9 FROM k)
SELECT shard_8, count(*) AS n_urls,
       CAST(sum(CASE WHEN shard_9 = 8 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_to_new,
       CAST(sum(CASE WHEN shard_8 <> shard_9 AND shard_9 <> 8
                THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere
FROM a GROUP BY shard_8"""


def duck_pld_case() -> str:
    """The full-PSL registrable-domain CASE in DuckDB dialect, generated
    from the SAME pycore.psl.branch_spec() the Spark pld_sql generator
    consumes (one rule source, two dialects). Expects columns `hl`
    (lowercased host) and `l` (string_split(hl, '.')); DuckDB's
    negative list slice clamps at the list head, giving the identical
    degrade-to-whole-host totality pld_sql gets from try_element_at +
    concat_ws NULL-skip."""
    from searchengine_spark.pycore.psl import branch_spec

    def last(n: int) -> str:
        return f"array_to_string(l[-{n}:], '.')"

    parts = [
        "CASE WHEN hl IS NULL THEN NULL",
        "WHEN len(l) <= 1 OR regexp_matches(hl, '^[0-9.]+$') THEN hl",
    ]
    for kind, d, rule_set, rd in branch_spec():
        in_list = ", ".join(f"'{r}'" for r in rule_set)
        if kind == "exc":
            parts.append(f"WHEN {last(d)} IN ({in_list}) THEN {last(d)}")
        else:
            parts.append(
                f"WHEN len(l) >= {rd - 1} AND {last(d)} IN ({in_list}) "
                f"THEN {last(rd)}"
            )
    parts.append(f"ELSE {last(2)} END")
    return " ".join(parts)


# registrable-domain census: fixture hosts (incl. multi-part-ccTLD,
# wildcard and platform suffixes) + the full-PSL rules in DuckDB ops
def _duck_pld_census() -> str:
    return f"""
WITH hosts AS (
  SELECT CASE doc_id % 5
    WHEN 0 THEN 'www.site' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk'
    WHEN 1 THEN 'blog.site' || CAST(doc_id % 20 AS VARCHAR) || '.com'
    WHEN 2 THEN 'user' || CAST(doc_id % 50 AS VARCHAR) || '.github.io'
    WHEN 3 THEN 'cdn.site' || CAST(doc_id % 10 AS VARCHAR)
                || '.yamanashi.jp'
    ELSE 'site' || CAST(doc_id % 20 AS VARCHAR) || '.com'
  END AS host
  FROM documents
),
s AS (SELECT host, lower(host) AS hl, string_split(lower(host), '.') AS l
      FROM hosts),
p AS (SELECT host, {duck_pld_case()} AS pld FROM s)
SELECT pld, count(*) AS n_hosts, count(DISTINCT host) AS n_distinct_hosts
FROM p GROUP BY pld"""


def _duck_hll(p: int) -> str:
    """Per-lang HLL distinct-token estimate — identical registers
    (md5-60bit: top p bits index, leading-zeros+1 of the remainder via
    length(bin(x))-1 integer arithmetic) and identical exact-int64
    harmonic sum as sketches.hll_distinct; the numeric constants are
    the same Python doubles the Spark side embeds."""
    m = 1 << p
    rem = 60 - p
    mask = (1 << rem) - 1
    num = (0.7213 / (1.0 + 1.079 / m)) * m * m * float(1 << 53)
    e_raw = (
        f"{num!r} / CAST(raw_present + "
        f"({m} - n_registers) * {1 << 53} AS DOUBLE)"
    )
    return f"""
WITH tok AS (
  SELECT lang, trim(t, ' ''') AS token
  FROM documents,
       unnest(regexp_split_to_array(lower(text), '[^a-z0-9'']+')) AS u(t)
),
tok2 AS (SELECT lang, token FROM tok
         WHERE token <> '' AND length(token) <= 10000),
h AS (SELECT lang, {_duck_h60("token")} AS hv FROM tok2),
b AS (SELECT lang, hv >> {rem} AS idx,
             CASE WHEN (hv & {mask}) > 0
                  THEN {rem} - (length(bin(hv & {mask})) - 1)
                  ELSE {rem + 1} END AS rho
      FROM h),
regs AS (SELECT lang, idx, max(rho) AS r FROM b GROUP BY lang, idx),
a AS (SELECT lang,
             CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER))
               AS BIGINT) AS raw_present,
             CAST(count(*) AS BIGINT) AS n_registers
      FROM regs GROUP BY lang)
SELECT lang, n_registers,
  round(CASE WHEN {e_raw} <= {2.5 * m!r} AND n_registers < {m}
        THEN {float(m)!r}
             * ln({float(m)!r} / CAST({m} - n_registers AS DOUBLE))
        ELSE {e_raw} END, 9) AS est_distinct
FROM a"""


def oracle_sql() -> dict[str, str]:
    return {
        # Gopher rules: words = whitespace runs over lower(text), lines =
        # non-blank newline splits; thresholds mirror q_gopher_rules
        # (min_words=8, min_mean_len=2.0, rest published defaults)
        "gopher_rules": """
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS ws,
    list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS ls,
    length(text) - length(replace(text, '#', '')) AS hashes,
    (length(text) - length(replace(text, '...', ''))) / 3 AS ells
  FROM documents
),
b AS (
  SELECT doc_id, len(ws) AS n_words,
    CASE WHEN len(ws) = 0 THEN 0.0 ELSE
      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(ws, x -> CAST(length(x) AS BIGINT))),
        (a, x) -> a + x) AS DOUBLE) / len(ws) END AS mean_word_len,
    CASE WHEN len(ws) = 0 THEN 0.0 ELSE
      CAST(hashes + ells AS DOUBLE) / len(ws) END AS symbol_ratio,
    CASE WHEN len(ls) = 0 THEN 0.0 ELSE
      CAST(len(list_filter(ls, l -> substring(ltrim(l), 1, 1) IN
        ('-', '*', '•'))) AS DOUBLE) / len(ls) END AS bullet_ratio,
    CASE WHEN len(ls) = 0 THEN 0.0 ELSE
      CAST(len(list_filter(ls, l -> length(rtrim(l)) >= 3 AND
        substring(rtrim(l), length(rtrim(l)) - 2, 3) = '...')) AS DOUBLE)
        / len(ls) END AS ellipsis_ratio,
    CASE WHEN len(ws) = 0 THEN 0.0 ELSE
      CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        / len(ws) END AS alpha_ratio,
    len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
      sw -> list_contains(ws, sw))) AS stop_hits
  FROM w
)
SELECT doc_id, n_words, round(mean_word_len, 9) AS mean_word_len,
  round(symbol_ratio, 9) AS symbol_ratio,
  round(bullet_ratio, 9) AS bullet_ratio,
  round(ellipsis_ratio, 9) AS ellipsis_ratio,
  round(alpha_ratio, 9) AS alpha_ratio, stop_hits,
  (n_words >= 8 AND n_words <= 100000
   AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
   AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
   AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
   AND stop_hits >= 2) AS keep
FROM b""",
        # C4 line+page rules; min_line_words=3 mirrors q_c4_filters
        "c4_filters": """
WITH l AS (
  SELECT doc_id, text,
    list_filter(string_split(text, chr(10)), x -> trim(x) != '') AS ls
  FROM documents
),
b AS (
  SELECT doc_id, len(ls) AS n_lines,
    len(list_filter(ls, l ->
      len(list_filter(regexp_split_to_array(lower(l), '\\s+'),
          x -> x != '')) >= 3
      AND substring(rtrim(l), length(rtrim(l)), 1) IN ('.', '!', '?', '"')
      AND NOT contains(lower(l), 'javascript'))) AS kept_lines,
    (length(text) - length(replace(text, '.', '')))
      + (length(text) - length(replace(text, '!', '')))
      + (length(text) - length(replace(text, '?', ''))) AS n_sentences,
    contains(lower(text), 'lorem ipsum') AS has_lorem,
    contains(text, '{') AS has_brace
  FROM l
)
SELECT doc_id, n_lines, kept_lines, n_sentences, has_lorem, has_brace,
  (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
   AND kept_lines >= 1) AS keep
FROM b""",
        "semdedup": _duck_semdedup_sql(),
        "lpa_communities": _duck_lpa_sql(3),
        "fetch_schedule": _DUCK_FETCH_SCHEDULE,
        "tf": f"WITH {_DUCK_TOKENS} SELECT doc_id, token, round(tf, 9) AS tf FROM tf",
        "doc_freq": f"WITH {_DUCK_TOKENS} SELECT token, df FROM dfreq",
        "idf": f"WITH {_DUCK_TOKENS} SELECT token, round(idf, 9) AS idf FROM idf",
        "postings": (
            f"WITH {_DUCK_TOKENS} SELECT doc_id, token, round(tf,9) AS tf, "
            "round(idf,9) AS idf, round(tf_idf,9) AS tf_idf FROM postings"
        ),
        # incremental update must converge to the batch rebuild — the
        # oracle IS the plain postings query over the unmodified corpus
        "index_update": (
            f"WITH {_DUCK_TOKENS} SELECT doc_id, token, round(tf,9) AS tf, "
            "round(idf,9) AS idf, round(tf_idf,9) AS tf_idf FROM postings"
        ),
        "and_query": (
            f"WITH {_DUCK_TOKENS}, {_duck_and(_AND_TERMS)} "
            "SELECT doc_id, round(tf_idf,9) AS tf_idf FROM andq"
        ),
        "not_query": (
            f"WITH {_DUCK_TOKENS}, {_duck_and(_NOT_TERMS)} "
            "SELECT doc_id, round(tf_idf,9) AS tf_idf FROM andq "
            "WHERE doc_id NOT IN (SELECT doc_id FROM postings WHERE token IN ("
            + ", ".join(f"'{t}'" for t in _NOT_EXCLUDE)
            + "))"
        ),
        "dnf_query": (
            _DUCK_DNF_PREFIX
            + "\nSELECT doc_id, round(tf_idf,9) AS tf_idf FROM firstwin WHERE rn = 1"
        ),
        "topk": _DUCK_TOPK,
        "resolve_urls": (
            "SELECT doc_id, 'https://docs.test/' || CAST(doc_id AS VARCHAR)"
            f" AS url, tf_idf FROM ({_DUCK_TOPK})"
        ),
        "tag_weights": _DUCK_TAG_WEIGHTS,
        "tf_lemma": (
            f"WITH {_DUCK_TOKENS_LEMMA} "
            "SELECT doc_id, token, round(tf, 9) AS tf FROM tf"
        ),
        "tf_stem": (
            f"WITH {_DUCK_TOKENS_STEM} "
            "SELECT doc_id, token, round(tf, 9) AS tf FROM tf"
        ),
        "json_ingest": (
            "SELECT 'https://docs.test/' || CAST(doc_id AS VARCHAR) AS url, "
            "md5(text) AS content_md5, 'utf-8' AS encoding FROM documents"
        ),
        "simhash_pairs": _DUCK_SIMHASH_PAIRS,
        "ann_lsh": _DUCK_ANN_LSH,
        "ann_lsh_probe": _DUCK_ANN_LSH_PROBE,
        "dup_clusters": _DUCK_DUP_CLUSTERS,
        "link_rank": _pagerank_sql(),
        "link_rank_weighted": _pagerank_sql(weighted=True),
        "hits_rank": _hits_sql(),
        "salsa_rank": _salsa_sql(),
        # soft-404 content gate over the injected fixture — one
        # contains() per cue phrase, token count from the normative
        # tokenizer, flag = cues AND short
        "soft404": _duck_soft404(),
        # RAKE top-3 phrases per doc — stopword-boundary segmentation
        # via a per-doc running-sum window, exact-int word stats,
        # position-ordered phrase folds
        "rake_keywords": _duck_rake(k=3, max_phrase=4),
        # page-level REP directives over the q_directives html fixture —
        # identical RE2 regexes (patterns single-sourced from the
        # operator module), nullif('') both engines
        "page_directives": _duck_directives(),
        "canonical_census": _duck_canonical_census(),
        # HyperANF — unrolled register max-merges + the shared HLL
        # estimate arithmetic
        "anf_reach": _duck_anf(radius=3, p=4),
        "neighborhood_fn": _duck_nf(max_radius=3, p=4),
        # Markov transition matrix — lag window per user stream with
        # event-id tie-break, exact-int row normalization
        "markov_stationary": _duck_markov_stationary(8),
        "funnel_latency": """
WITH ev AS (
  SELECT event_id % 200 AS user_id, ts, event_type FROM events
),
s1 AS (SELECT user_id, min(ts) AS t0 FROM ev
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT ev.user_id, min(ev.ts) AS t FROM ev JOIN s1 USING (user_id)
       WHERE ev.event_type = 'click' AND ev.ts > s1.t0
       GROUP BY ev.user_id),
s3 AS (SELECT ev.user_id, min(ev.ts) AS t FROM ev JOIN s2 USING (user_id)
       WHERE ev.event_type = 'purchase' AND ev.ts > s2.t
       GROUP BY ev.user_id),
lat AS (
  SELECT (epoch_us(s3.t) - epoch_us(s1.t0)) // 1000000 AS v
  FROM s1 JOIN s3 USING (user_id)
),
r AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS rn
      FROM lat),
cnt AS (SELECT CAST(count(*) AS BIGINT) AS c FROM lat)
  SELECT 0.25e0 AS p,
         (SELECT CAST(v AS DOUBLE) FROM r WHERE rn =
           least(greatest(1, CAST(ceil(0.25e0 * (SELECT c FROM cnt))
                              AS BIGINT)), (SELECT c FROM cnt)))
           AS latency_s,
         (SELECT c FROM cnt) AS n_converted
  UNION ALL
  SELECT 0.5e0 AS p,
         (SELECT CAST(v AS DOUBLE) FROM r WHERE rn =
           least(greatest(1, CAST(ceil(0.5e0 * (SELECT c FROM cnt))
                              AS BIGINT)), (SELECT c FROM cnt)))
           AS latency_s,
         (SELECT c FROM cnt) AS n_converted
  UNION ALL
  SELECT 0.9e0 AS p,
         (SELECT CAST(v AS DOUBLE) FROM r WHERE rn =
           least(greatest(1, CAST(ceil(0.9e0 * (SELECT c FROM cnt))
                              AS BIGINT)), (SELECT c FROM cnt)))
           AS latency_s,
         (SELECT c FROM cnt) AS n_converted""",
        "lsh_curve": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g AS (SELECT doc_id, {_DUCK_GRAMS} AS gs FROM toks),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
           / len(list_distinct(list_concat(a.gs, b.gs))) AS j
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.gs, b.gs)) > 0
    AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.5
)
SELECT doc_a, doc_b, round(j, 9) AS j,
       round(1.0e0 - ((((((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j)))) * (((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j))))) * ((((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j)))) * (((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j)))))) * (((((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j)))) * (((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j))))) * ((((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j)))) * (((1.0e0 - (j * j)) * (1.0e0 - (j * j))) * ((1.0e0 - (j * j)) * (1.0e0 - (j * j))))))), 9) AS p_capture
FROM pr""",
        "session_paths": """
WITH m AS (
  SELECT user_id AS u, ts AS t, event_id AS i, event_type AS y,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_t
  FROM events
),
mk AS (
  SELECT u, t, i, y,
         CASE WHEN prev_t IS NULL
                   OR epoch_us(t) - epoch_us(prev_t) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM m
),
sg AS (
  SELECT u, t, i, y,
         sum(new_sess) OVER (PARTITION BY u ORDER BY t, i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sess
  FROM mk
),
pth AS (
  SELECT u, sess, string_agg(y, '>' ORDER BY t, i) AS path
  FROM sg GROUP BY u, sess
)
SELECT path, count(*) AS n_sessions
FROM pth GROUP BY path HAVING count(*) >= 3""",
        "packing_waste": f"""
WITH pd AS (
  SELECT source AS shard,
         greatest(len({_DUCK_TL}), 0) AS n_tokens
  FROM documents
),
a AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(CAST(ceil(n_tokens / 512.0) AS BIGINT)) AS BIGINT)
           AS padded_seqs
  FROM pd GROUP BY shard
)
SELECT shard, n_docs, total_tokens,
       CAST(ceil(total_tokens / 512.0) AS BIGINT) AS concat_seqs,
       padded_seqs,
       padded_seqs - CAST(ceil(total_tokens / 512.0) AS BIGINT)
         AS seqs_saved
FROM a""",
        "bom_census": """
WITH media AS (
  SELECT unhex(['EFBBBF', 'FFFE', 'FEFF', 'FFFE0000',
                ''][CAST(doc_id % 5 + 1 AS INTEGER)])
           || encode(text) AS payload
  FROM documents
)
SELECT CASE WHEN substring(hex(payload), 1, 8) = 'FFFE0000' THEN 'utf-32-le' WHEN substring(hex(payload), 1, 8) = '0000FEFF' THEN 'utf-32-be' WHEN substring(hex(payload), 1, 6) = 'EFBBBF' THEN 'utf-8-bom' WHEN substring(hex(payload), 1, 4) = 'FFFE' THEN 'utf-16-le' WHEN substring(hex(payload), 1, 4) = 'FEFF' THEN 'utf-16-be' ELSE 'none' END AS bom, count(*) AS n_payloads
FROM media GROUP BY 1""",
        "stem_collapse": f"""
WITH sdoc AS (
  SELECT doc_id,
         text || ' ' || CASE doc_id % 3
           WHEN 0 THEN 'merge merges merged merging'
           WHEN 1 THEN 'query queries queried'
           ELSE 'connect connection connects' END AS text
  FROM documents
),
stok AS (
  SELECT doc_id, trim(t, ' ' || chr(39)) AS token FROM sdoc,
       unnest(regexp_split_to_array(lower(text),
              '[^a-z0-9' || chr(39) || ']+')) AS u(t)
),
stok2 AS (
  SELECT token, {stem_case_sql("token", FIXTURE_VOCAB + _STEM_EXTRA_VOCAB)} AS stem
  FROM stok WHERE token <> '' AND length(token) <= 10000
),
pf AS (SELECT stem, token, count(*) AS n FROM stok2
       GROUP BY stem, token)
SELECT stem, CAST(count(DISTINCT token) AS BIGINT) AS n_forms,
       CAST(sum(n) AS BIGINT) AS n_occ
FROM pf GROUP BY stem HAVING count(DISTINCT token) >= 2""",
        "burst_mad": """
WITH counts AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) * 3600 AS ws,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, (epoch_us(ts) // 3600000000) * 3600
),
wm AS (
  SELECT event_type, ws, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n ASC, ws ASC) AS rk,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM counts
),
med AS (
  SELECT event_type,
         max(CASE WHEN rk = CAST(ceil(cnt / 2.0) AS BIGINT)
                  THEN n END) AS med
  FROM wm GROUP BY event_type
),
dev AS (
  SELECT wm.event_type, wm.ws, wm.n, wm.cnt, med.med,
         abs(wm.n - med.med) AS dev
  FROM wm JOIN med USING (event_type)
),
dm AS (
  SELECT event_type, ws, n, cnt, med, dev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY dev ASC, ws ASC) AS drk
  FROM dev
),
mad AS (
  SELECT event_type,
         max(CASE WHEN drk = CAST(ceil(cnt / 2.0) AS BIGINT)
                  THEN dev END) AS mad
  FROM dm GROUP BY event_type
)
SELECT d.event_type, d.ws AS window_start, d.n AS n_events,
       d.med, mad.mad
FROM dev d JOIN mad USING (event_type)
WHERE d.dev > 3 * mad.mad""",
        "crawl_delay": r"""
WITH bodies AS (
  SELECT 'h' || CAST(doc_id % 16 AS VARCHAR) || '.test' AS host,
         CASE WHEN doc_id % 5 = 0
              THEN 'User-agent: *' || chr(10) || 'Disallow: /tmp'
                   || chr(10)
              WHEN doc_id % 7 = 0
              THEN 'User-agent: *' || chr(10) || 'Crawl-delay: fast'
                   || chr(10)
              ELSE 'User-agent: *' || chr(10) || 'Crawl-delay: '
                   || CAST(doc_id % 9 AS VARCHAR) || chr(10)
                   || 'Disallow: /private' || chr(10)
         END AS body
  FROM documents WHERE doc_id % 3 <> 2
),
p AS (
  SELECT host,
         greatest(coalesce(try_cast(regexp_extract(body,
           '(?i)crawl-delay:\s*([0-9]+)', 1) AS BIGINT), 1), 1)
           AS crawl_delay_s
  FROM bodies
)
SELECT host, crawl_delay_s,
       round(1.0e0 / CAST(crawl_delay_s AS DOUBLE), 9) AS max_qps
FROM p""",
        "colloc_g2": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
bi AS (
  SELECT unnest(list_transform(range(len(tl) - 1),
         i -> struct_pack(a := tl[i + 1], b := tl[i + 2])),
         recursive := true)
  FROM toks WHERE len(tl) >= 2
),
cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM bi
        GROUP BY a, b),
ra AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS r_a FROM cab GROUP BY a),
cb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS c_b FROM cab GROUP BY b),
bt AS (SELECT CAST(sum(n_ab) AS BIGINT) AS s FROM cab),
cells AS (
  SELECT cab.a, cab.b, n_ab,
         n_ab AS k11, r_a - n_ab AS k12, c_b - n_ab AS k21,
         (SELECT s FROM bt) - r_a - c_b + n_ab AS k22,
         r_a, c_b, (SELECT s FROM bt) AS bt
  FROM cab JOIN ra USING (a) JOIN cb USING (b)
  WHERE n_ab >= 5
)
SELECT a, b, n_ab,
  round(2.0e0 * (
    (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE) * ln(CAST(k11 AS DOUBLE)
      * CAST(bt AS DOUBLE) / (CAST(r_a AS DOUBLE) * CAST(c_b AS DOUBLE)))
      ELSE 0.0e0 END)
    + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE) * ln(CAST(k12 AS DOUBLE)
      * CAST(bt AS DOUBLE) / (CAST(r_a AS DOUBLE)
      * CAST((bt - c_b) AS DOUBLE))) ELSE 0.0e0 END)
    + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE) * ln(CAST(k21 AS DOUBLE)
      * CAST(bt AS DOUBLE) / (CAST((bt - r_a) AS DOUBLE)
      * CAST(c_b AS DOUBLE))) ELSE 0.0e0 END)
    + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE) * ln(CAST(k22 AS DOUBLE)
      * CAST(bt AS DOUBLE) / (CAST((bt - r_a) AS DOUBLE)
      * CAST((bt - c_b) AS DOUBLE))) ELSE 0.0e0 END)
  ), 9) AS g2
FROM cells""",
        "active_users": """
WITH ud AS (
  SELECT DISTINCT user_id AS u,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS dau
        FROM ud GROUP BY day),
wau AS (
  SELECT d.day, CAST(count(DISTINCT ud.u) AS BIGINT) AS wau
  FROM days d JOIN ud ON ud.day <= d.day AND ud.day > d.day - 7
  GROUP BY d.day
),
mau AS (
  SELECT d.day, CAST(count(DISTINCT ud.u) AS BIGINT) AS mau
  FROM days d JOIN ud ON ud.day <= d.day AND ud.day > d.day - 30
  GROUP BY d.day
)
SELECT dau.day, dau.dau, wau.wau, mau.mau,
       round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE), 9)
         AS stickiness
FROM dau JOIN wau USING (day) JOIN mau USING (day)""",
        "event_transitions": """
WITH seq AS (
  SELECT user_id, event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
pc AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
),
tt AS (SELECT prev_type, sum(n) AS tot FROM pc GROUP BY prev_type)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS p
FROM pc JOIN tt USING (prev_type)""",
        # per-doc top-5 tf-idf keywords — doc-partitioned row_number
        "doc_keywords": f"""
WITH {_DUCK_TOKENS},
rk AS (
  SELECT doc_id, token, tf_idf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf_idf DESC, token ASC) AS rk
  FROM postings
)
SELECT doc_id, token, round(tf_idf, 9) AS tf_idf, rk
FROM rk WHERE rk <= 5""",
        # +-w window PMI — the collocations formula over the banded
        # position self-join (MATERIALIZED: unnest CTE feeds a self-join)
        "window_pmi": f"""
WITH toks AS MATERIALIZED (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
tp AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(len(tl)),
                i -> struct_pack(pos := i, token := tl[i + 1])),
                recursive := true)
  FROM toks WHERE len(tl) >= 1
),
pr AS MATERIALIZED (
  SELECT a.token AS a, b.token AS b
  FROM tp a JOIN tp b
    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 5
),
cab AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b),
cx AS (SELECT token, count(*) AS n_x FROM tp GROUP BY token),
tot AS (SELECT (SELECT count(*) FROM tp) AS t,
               (SELECT count(*) FROM pr) AS pcnt)
SELECT cab.a, cab.b, n_ab,
  round(ln((CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
           / (CAST(pcnt AS DOUBLE) * CAST(na.n_x AS DOUBLE)
              * CAST(nb.n_x AS DOUBLE))), 9) AS pmi
FROM cab JOIN cx na ON na.token = cab.a
JOIN cx nb ON nb.token = cab.b, tot
WHERE n_ab >= 5""",
        # corpus-order novelty — distinct 8-grams, min-doc_id ownership
        "novelty": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g AS MATERIALIZED (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(tl) - 7),
                  i -> array_to_string(list_slice(tl, i + 1, i + 8), ' ')))
             AS gram
    FROM toks WHERE len(tl) >= 8
  )
),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
per AS (
  SELECT g.doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM g JOIN f USING (gram) GROUP BY g.doc_id
)
SELECT t.doc_id, coalesce(n_grams, 0) AS n_grams,
       coalesce(n_novel, 0) AS n_novel,
       round(CASE WHEN n_grams IS NULL OR n_grams = 0 THEN 0.0e0
                  ELSE CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)
             END, 9) AS novelty
FROM toks t LEFT JOIN per USING (doc_id)""",
        # data-mixture KL report — bucket counts vs the literal target
        # mixture (same Python doubles as _MIXTURE_TARGETS)
        "mixture_report": f"""
WITH tgt(bucket, target_share) AS (VALUES {", ".join(
            f"('{k}', {v!r})" for k, v in sorted(_MIXTURE_TARGETS.items())
        )}),
c AS (SELECT lang AS bucket, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT count(*) AS tot FROM documents)
SELECT c.bucket, n,
  round(CAST(n AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE), 9) AS share,
  coalesce(target_share, 0.0e0) AS target_share,
  round(CASE WHEN target_share IS NOT NULL AND target_share > 0.0e0
    THEN (CAST(n AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE))
         * ln((CAST(n AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE))
              / target_share)
    ELSE 0.0e0 END, 9) AS kl_term,
  round(CASE WHEN target_share IS NOT NULL AND target_share > 0.0e0
    THEN (CAST(n AS DOUBLE) / CAST((SELECT tot FROM t) AS DOUBLE))
         / target_share
    ELSE 0.0e0 END, 9) AS ratio
FROM c LEFT JOIN tgt USING (bucket)""",
        # reciprocity — distinct directed edges with the reverse edge
        # present (self-loops excluded)
        "reciprocity": """
WITH nn AS (SELECT count(*) AS c FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
r AS (SELECT count(*) AS nr FROM e
      WHERE EXISTS (SELECT 1 FROM e x
                    WHERE x.src = e.dst AND x.dst = e.src)),
n AS (SELECT count(*) AS ne FROM e)
SELECT ne AS n_edges, nr AS n_reciprocal,
       round(CASE WHEN ne = 0 THEN 0.0e0
                  ELSE CAST(nr AS DOUBLE) / CAST(ne AS DOUBLE) END, 9)
         AS reciprocity
FROM n, r""",
        # Flesch reading ease — published constants, integer counts,
        # one fixed float expression
        "readability": f"""
WITH s AS (
  SELECT doc_id,
    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sents,
    len({_DUCK_TL}) AS n_words,
    coalesce(list_sum(list_transform({_DUCK_TL},
      t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))), 0)
      AS n_syllables
  FROM documents
)
SELECT doc_id, CAST(n_sents AS BIGINT) AS n_sents,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(CASE WHEN n_words = 0 THEN 0.0e0
             ELSE 206.835e0
                  - 1.015e0 * (CAST(n_words AS DOUBLE)
                               / CAST(n_sents AS DOUBLE))
                  - 84.6e0 * (CAST(n_syllables AS DOUBLE)
                              / CAST(n_words AS DOUBLE))
             END, 9) AS flesch
FROM s""",
        # hourly burst z-scores — exact-int Σn/Σn², textbook population
        # variance in one fixed expression; sqrt is IEEE-exact
        "burst_windows": """
WITH c AS (
  SELECT event_type, date_trunc('hour', ts) AS w, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, count(*) AS wn, sum(n_events) AS s1,
         sum(n_events * n_events) AS s2
  FROM c GROUP BY 1
),
zc AS (
  SELECT c.event_type, c.w, c.n_events,
    CASE WHEN sqrt((CAST(wn AS DOUBLE) * CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE))) > 0.0e0
         THEN (CAST(n_events AS DOUBLE)
               - CAST(s1 AS DOUBLE) / CAST(wn AS DOUBLE))
              / sqrt((CAST(wn AS DOUBLE) * CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / (CAST(wn AS DOUBLE) * CAST(wn AS DOUBLE)))
         ELSE 0.0e0 END AS z
  FROM c JOIN s USING (event_type)
)
SELECT event_type, strftime(w, '%Y-%m-%d %H:%M:%S') AS ws, n_events,
       round(z, 9) AS z, z > 3.0e0 AS is_burst
FROM zc""",
        # stopword induction — dictionary cf/df + coverage ratio,
        # (cf DESC, token ASC) top-20
        "stopword_census": f"""
WITH {_DUCK_TOKENS},
st AS (
  SELECT token, count(*) AS cf, count(DISTINCT doc_id) AS df
  FROM tok2 GROUP BY token
),
tt AS (SELECT count(*) AS t FROM tok2)
SELECT token, cf, df,
       round(CAST(cf AS DOUBLE) / CAST((SELECT t FROM tt) AS DOUBLE), 9)
         AS coverage
FROM st ORDER BY cf DESC, token ASC LIMIT 20""",
        # seed-set harmonic centrality — recursive CTE min-distance
        # (the crawl_depth oracle generalized to carry the seed), 1/d
        # folded in seed order
        "harmonic": """
WITH RECURSIVE nn AS (SELECT count(*) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
),
r AS (
  SELECT doc_id AS seed, doc_id AS id, CAST(0 AS BIGINT) AS d
  FROM documents WHERE doc_id % 97 = 0
  UNION
  SELECT r.seed, e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
  WHERE r.d < 6
),
dist AS (SELECT seed, id, min(d) AS d FROM r GROUP BY seed, id),
h AS (
  SELECT id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(1.0 AS DOUBLE) / CAST(d AS DOUBLE) ORDER BY seed)),
           (a, b) -> a + b) AS harmonic
  FROM dist WHERE d > 0 GROUP BY id
)
SELECT id AS doc_id, round(harmonic, 9) AS harmonic FROM h""",
        # CDC chunking — identical per-row list logic: md5-60bit rolling
        # window boundary rule, prepend-0 starts, slice + md5 per chunk
        "cdc_chunks": f"""
WITH toks0 AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
toks AS MATERIALIZED (SELECT doc_id, tl FROM toks0 WHERE len(tl) > 0),
bsx AS MATERIALIZED (
  SELECT doc_id, tl,
    list_transform(range(len(tl)), p ->
      CASE WHEN p >= 3 AND p < len(tl) - 1
           AND {_duck_h60("array_to_string(list_slice(tl, p - 2, p + 1), ' ')")} % 16 = 0
           THEN 1 ELSE 0 END) AS bs
  FROM toks
),
st AS MATERIALIZED (
  SELECT doc_id, tl,
    list_prepend(0, list_transform(
      list_filter(range(len(tl)), i -> bs[i + 1] = 1), i -> i + 1)) AS ss
  FROM bsx
)
SELECT doc_id,
  unnest(list_transform(range(len(ss)), c -> struct_pack(
    chunk_ix := CAST(c AS BIGINT),
    n_tokens := CAST(coalesce(ss[c + 2], len(tl)) - ss[c + 1] AS BIGINT),
    chunk_md5 := md5(array_to_string(
      list_slice(tl, ss[c + 1] + 1, coalesce(ss[c + 2], len(tl))), ' ')))),
    recursive := true)
FROM st""",
        # degree tail + Hill alpha — regrouped by degree VALUE then a
        # degree-ordered fold: sum(cnt*ln(d/d_min)), exactly the Spark
        # expression; alpha = 1 + n/s guarded s > 0
        "degree_tail": """
WITH nn AS (SELECT count(*) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
),
indeg AS (SELECT dst AS id, count(*) AS d FROM e GROUP BY dst),
outdeg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY src),
ih AS (SELECT d, count(*) AS cnt FROM indeg WHERE d >= 2 GROUP BY d),
oh AS (SELECT d, count(*) AS cnt FROM outdeg WHERE d >= 2 GROUP BY d),
ia AS (
  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_tail,
         coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(cnt AS DOUBLE) * ln(CAST(d AS DOUBLE) / 2.0e0)
                ORDER BY d)), (a, b) -> a + b), 0.0e0) AS s
  FROM ih),
oa AS (
  SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_tail,
         coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(cnt AS DOUBLE) * ln(CAST(d AS DOUBLE) / 2.0e0)
                ORDER BY d)), (a, b) -> a + b), 0.0e0) AS s
  FROM oh)
SELECT 'in' AS side, n_tail,
       round(CASE WHEN s > 0.0e0
                  THEN 1.0e0 + CAST(n_tail AS DOUBLE) / s
                  ELSE 0.0e0 END, 9) AS alpha
FROM ia
UNION ALL
SELECT 'out', n_tail,
       round(CASE WHEN s > 0.0e0
                  THEN 1.0e0 + CAST(n_tail AS DOUBLE) / s
                  ELSE 0.0e0 END, 9)
FROM oa""",
        # weekly cohort retention — exact ints: distinct user-week
        # grid, per-user min week, day-diff/7 offset
        "cohort_retention": """
WITH act AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w FROM events
),
frst AS (SELECT u, min(w) AS cw FROM act GROUP BY u)
SELECT cw AS cohort_week,
       CAST(floor(date_diff('day', cw, w) / 7) AS INT) AS week_offset,
       count(DISTINCT u) AS n_users
FROM act JOIN frst USING (u)
GROUP BY 1, 2""",
        # two-generation crawl diff census (fixture: %13 added later,
        # %11 removed, %7 changed; /static/about family excluded — it
        # collapses to one url per host)
        "crawl_delta": f"""
WITH u AS ({_DUCK_URL_FIXTURE_ID}),
j AS (
  SELECT u.doc_id, u.url, d.text
  FROM u JOIN documents d USING (doc_id)
  WHERE u.doc_id % 5 <> 4
),
old AS (SELECT url, md5(text) AS fp FROM j WHERE doc_id % 13 <> 0),
new AS (
  SELECT url,
         CASE WHEN doc_id % 7 = 0 THEN md5(text || 'v2')
              ELSE md5(text) END AS fp
  FROM j WHERE doc_id % 11 <> 0
),
delta AS (
  SELECT coalesce(o.url, n.url) AS url,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'same' END AS status
  FROM old o FULL OUTER JOIN new n ON o.url = n.url
)
SELECT lower(split_part(substr(url, 9), '/', 1)) AS host, status,
       count(*) AS n_urls
FROM delta GROUP BY host, status""",
        "anchor_text": _DUCK_ANCHOR_TEXT,
        "ivf_topk": _DUCK_IVF,
        "pq_topk": _duck_pq_sql(m=8),
        "bpe_count": (
            "SELECT doc_id, "
            f"len(regexp_extract_all(text, '{TS.BPE_PIECE_RE}')) AS n_pieces, "
            "len(list_distinct(regexp_extract_all(text, "
            f"'{TS.BPE_PIECE_RE}'))) AS n_distinct_pieces FROM documents"
        ),
        "media_features": _DUCK_MEDIA_FEATURES,
        "frame_sample": _DUCK_FRAME_SAMPLE,
        # sessions: Spark's merging session_window ≡ the classic
        # lag/gap-flag/cumsum construction (new session iff the gap to
        # the previous event is ≥ 30 min; boundary exactly-equal-gap
        # starts a new session in both engines)
        "sample_stratified": f"""
WITH p AS (
  SELECT lang, doc_id,
         {_duck_h60("CAST(doc_id AS VARCHAR)")} AS prio
  FROM documents
),
r AS (
  SELECT lang, doc_id, prio,
         row_number() OVER (PARTITION BY lang ORDER BY prio, doc_id) AS rk
  FROM p
)
SELECT lang, doc_id, prio, rk FROM r WHERE rk <= 3""",
        "mixture_sample": (
            lambda thr: f"""
WITH h AS (
  SELECT doc_id, source,
         {_duck_h60("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
w(source, keep_below) AS (VALUES {", ".join(
    f"('{s}', CAST({t} AS BIGINT))" for s, t in sorted(thr.items())
)})
SELECT h.doc_id, h.source, h.h FROM h JOIN w USING (source)
WHERE h.h < w.keep_below"""
        )(_sampling_thresholds()),
        "repetition": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g AS (
  SELECT doc_id, len(tl) AS n_tokens,
         CASE WHEN len(tl) < 2 THEN []
              ELSE list_transform(range(len(tl) - 1),
                                  i -> tl[i+1] || ' ' || tl[i+2]) END AS grams
  FROM toks
)
SELECT doc_id, n_tokens, len(grams) AS n_ngrams,
       len(list_distinct(grams)) AS n_distinct_ngrams,
       CASE WHEN len(grams) = 0 THEN CAST(0 AS DOUBLE)
            ELSE round(1 - CAST(len(list_distinct(grams)) AS DOUBLE)
                       / len(grams), 9) END AS dup_ngram_frac
FROM g""",
        # delta-gap + varint posting size: integer CASE arithmetic,
        # identical lag/groupBy construction
        "index_size": f"""
WITH {_DUCK_TOKENS},
g AS (
  SELECT token, doc_id,
         doc_id - coalesce(lag(doc_id) OVER (PARTITION BY token
                                             ORDER BY doc_id), 0) AS gap
  FROM tf
),
vb AS (
  SELECT token,
         CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
              WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
              WHEN gap < 34359738368 THEN 5
              WHEN gap < 4398046511104 THEN 6
              WHEN gap < 562949953421312 THEN 7
              WHEN gap < 72057594037927936 THEN 8 ELSE 9 END AS vbytes
  FROM g
)
SELECT token, count(*) AS df, count(*) * 8 AS raw_bytes,
       CAST(sum(vbytes) AS BIGINT) AS varint_bytes,
       round(CAST(sum(vbytes) AS DOUBLE) / (count(*) * 8), 9) AS ratio
FROM vb GROUP BY token""",
        # front-coded dictionary: lag within first-char blocks; the
        # shared-prefix length replays as the same max-matching-i scan
        "dict_size": f"""
WITH {_DUCK_TOKENS},
dt AS (SELECT DISTINCT token FROM tf),
db AS (SELECT token, substring(token, 1, 1) AS bkt FROM dt),
dl AS (
  SELECT bkt, token,
         lag(token) OVER (PARTITION BY bkt ORDER BY token) AS prev
  FROM db
),
de AS (
  SELECT bkt,
         CAST(length(token) + 1 AS BIGINT) AS raw_b,
         CAST(CASE WHEN prev IS NULL THEN length(token) + 1
              ELSE 2 + length(token) - greatest(0, list_max(
                list_transform(range(least(length(token), length(prev)) + 1),
                  i -> CASE WHEN substring(token, 1, i)
                              = substring(prev, 1, i)
                       THEN i ELSE 0 END)))
              END AS BIGINT) AS front_b
  FROM dl
)
SELECT bkt AS bucket, count(*) AS n_terms,
       CAST(sum(raw_b) AS BIGINT) AS raw_bytes,
       CAST(sum(front_b) AS BIGINT) AS front_bytes,
       round(CAST(sum(front_b) AS DOUBLE) / sum(raw_b), 9) AS ratio
FROM de GROUP BY bkt""",
        # corpus-trained add-one bigram LM: count tables by GROUP BY,
        # per-doc sum replayed as the identical position-ordered
        # sequential fold (ln of identical doubles is bit-equal)
        "lm_score": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(len(tl) - 1),
                i -> struct_pack(pos := i, w1 := tl[i + 1],
                                 w2 := tl[i + 2])),
                recursive := true)
  FROM toks WHERE len(tl) >= 2
),
uni AS (SELECT w1, count(*) AS cu
        FROM (SELECT unnest(tl) AS w1 FROM toks) GROUP BY w1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS vv FROM uni),
sc AS (
  SELECT bi.doc_id, bi.pos,
         ln((CAST(big.cb AS DOUBLE) + 1.0e0)
            / (CAST(uni.cu AS DOUBLE) + (SELECT vv FROM v))) AS logp
  FROM bi
  JOIN (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2) big
    USING (w1, w2)
  JOIN uni USING (w1)
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(logp ORDER BY pos)),
                     (a, b) -> a + b) AS s
  FROM sc GROUP BY doc_id
)
SELECT t.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
       round(coalesce(agg.s / agg.n_bigrams, 0.0e0), 9) AS avg_logprob
FROM toks t LEFT JOIN agg USING (doc_id)""",
        # dedup retention: clusters CTE = the dup_clusters oracle
        # (recursive min-reachable-id), quality CTE = the quality
        # oracle's arithmetic; argmax replayed as a window rank
        "keep_best": f"""
WITH clu AS ({_DUCK_DUP_CLUSTERS}),
{_DUCK_QQ},
j AS (SELECT clu.cluster_id, clu.doc_id, q.qq
      FROM clu JOIN q USING (doc_id)),
r AS (SELECT cluster_id, doc_id, qq,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY qq DESC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM j)
SELECT cluster_id, doc_id AS kept_doc_id, n_members, qq AS best_quality
FROM r WHERE rk = 1""",
        # end-to-end curation pipeline: exact-dedup keepers → near-dup
        # keep-best among them → quality gate; same stage order and
        # rounded-quality comparison key as the Spark composition
        "curate": f"""
WITH clu AS ({_DUCK_DUP_CLUSTERS}),
{_DUCK_QQ},
m AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
ex AS (SELECT text_md5, min(doc_id) AS keep_id FROM m GROUP BY text_md5),
fl AS (SELECT m.doc_id, m.doc_id = ex.keep_id AS exact_keeper
       FROM m JOIN ex USING (text_md5)),
surv AS (SELECT doc_id FROM fl WHERE exact_keeper),
j AS (SELECT clu.cluster_id, clu.doc_id, q.qq
      FROM clu JOIN q USING (doc_id) JOIN surv USING (doc_id)),
r AS (SELECT cluster_id, doc_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY qq DESC, doc_id ASC) AS rk
      FROM j),
keepers AS (SELECT doc_id FROM r WHERE rk = 1)
SELECT fl.doc_id,
       CASE WHEN NOT fl.exact_keeper THEN 'exact_dup'
            WHEN keepers.doc_id IS NULL THEN 'near_dup'
            WHEN q.qq < 0.4e0 THEN 'low_quality'
            ELSE 'kept' END AS status,
       q.qq AS quality
FROM fl LEFT JOIN keepers USING (doc_id) JOIN q USING (doc_id)""",
        # BFS min-depth from the seed slice: recursive CTE with UNION
        # (set) semantics; depth bound 25 ≥ the expander graph's
        # diameter, min(depth) = shortest path
        "crawl_depth": """
WITH RECURSIVE nn AS (SELECT count(*) AS c FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, (doc_id*3+7) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, (doc_id*5+11) % (SELECT c FROM nn) AS dst FROM documents
),
r AS (
  SELECT doc_id AS id, CAST(0 AS BIGINT) AS depth FROM documents
  WHERE doc_id % 97 = 0
  UNION
  SELECT e.dst AS id, r.depth + 1 AS depth FROM r JOIN e ON e.src = r.id
  WHERE r.depth < 25
)
SELECT id, min(depth) AS depth FROM r GROUP BY id""",
        "decontaminate": _DUCK_DECONTAMINATE,
        "span_dedup": _DUCK_SPAN_DEDUP,
        # same window/run/union logic as operators/traindata.exact_substr;
        # W=8 literal kept in lockstep with q_exact_substr
        "exact_substr": f"""
WITH tokarr AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
wins AS (
  SELECT doc_id, win_idx,
         md5(array_to_string(
             list_slice(tl, win_idx + 1, win_idx + 8), ' ')) AS h
  FROM (SELECT doc_id, tl,
               unnest(range(0, CASE WHEN len(tl) >= 8
                                    THEN len(tl) - 8 + 1 ELSE 0 END))
                 AS win_idx
        FROM tokarr)
),
dups AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
dw AS (SELECT doc_id, win_idx FROM wins JOIN dups USING (h)),
nr AS (
  SELECT doc_id, win_idx,
         CASE WHEN lag(win_idx) OVER dwin IS NULL
                OR win_idx - lag(win_idx) OVER dwin > 8
              THEN 1 ELSE 0 END AS new_run
  FROM dw WINDOW dwin AS (PARTITION BY doc_id ORDER BY win_idx)
),
rid AS (
  SELECT doc_id, win_idx,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY win_idx)
           AS run_id
  FROM nr
),
per_run AS (
  SELECT doc_id, run_id, max(win_idx) - min(win_idx) + 8 AS covered,
         count(*) AS n_win
  FROM rid GROUP BY doc_id, run_id
),
per_doc AS (
  SELECT doc_id, sum(n_win) AS n_dup_windows,
         count(*) AS n_dup_spans, sum(covered) AS dup_tokens
  FROM per_run GROUP BY doc_id
),
eb AS (
  SELECT doc_id, len(tl) AS n_tokens,
         CASE WHEN len(tl) >= 8 THEN len(tl) - 8 + 1 ELSE 0 END
           AS n_windows
  FROM tokarr
)
SELECT eb.doc_id, n_tokens, n_windows,
  CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
  CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
  round(CASE WHEN n_tokens > 0
             THEN CAST(coalesce(dup_tokens, 0) AS DOUBLE) / n_tokens
             ELSE 0.0 END, 9) AS dup_frac
FROM eb LEFT JOIN per_doc USING (doc_id)""",
        "pii_scrub": _DUCK_PII_SCRUB,
        "pack_sequences": _DUCK_PACK_SEQUENCES,
        "bm25": _duck_bm25(_BM25_TERMS, k=10),
        "mmr_rerank": _duck_mmr_sql(_BM25_TERMS),
        "rrf_topk": _duck_rrf(_BM25_TERMS, k=10, k_rrf=60, n_cand=50),
        "prior_blend": _duck_prior_blend(_BM25_TERMS, k=10, lam=0.25,
                                         n_cand=50),
        # Newman-Girvan modularity of the unrolled-LPA partition —
        # exact intra/degree sums, label-ordered Q folds
        "modularity": (
            "WITH " + ",\n".join(_duck_lpa_ctes(3)) + """,
intra AS (
  SELECT l1.label AS label, count(*) AS ec
  FROM e JOIN l3 l1 ON l1.node = e.a JOIN l3 l2 ON l2.node = e.b
  WHERE l1.label = l2.label GROUP BY l1.label
),
degs AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
dcs AS (
  SELECT l.label, sum(degs.d) AS dc
  FROM degs JOIN l3 l ON l.node = degs.node GROUP BY l.label
),
mm AS (SELECT count(*) AS m FROM e),
tq AS (
  SELECT dcs.label,
    CAST(coalesce(intra.ec, 0) AS DOUBLE)
      / CAST((SELECT m FROM mm) AS DOUBLE)
    - (CAST(dc AS DOUBLE) / CAST(2 * (SELECT m FROM mm) AS DOUBLE))
      * (CAST(dc AS DOUBLE) / CAST(2 * (SELECT m FROM mm) AS DOUBLE)) AS q
  FROM dcs LEFT JOIN intra USING (label)
)
SELECT CAST((SELECT m FROM mm) AS BIGINT) AS m_edges,
       CAST(count(*) AS BIGINT) AS n_communities,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list(q ORDER BY label)), (x, y) -> x + y), 9) AS modularity
FROM tq"""
        ),
        # PMI query expansion — the window_pmi pair stream filtered to
        # query terms, direction-collapsed counts, per-term top-5
        "pmi_expand": f"""
WITH toks AS MATERIALIZED (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
tp AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(len(tl)),
                i -> struct_pack(pos := i, token := tl[i + 1])),
                recursive := true)
  FROM toks WHERE len(tl) >= 1
),
pr AS MATERIALIZED (
  SELECT a.token AS a, b.token AS b
  FROM tp a JOIN tp b
    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 5
),
cab AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b),
bo AS (
  SELECT term, assoc, CAST(sum(n_ab) AS BIGINT) AS n_ab FROM (
    SELECT a AS term, b AS assoc, n_ab FROM cab
    WHERE a IN ('spark', 'window', 'dup')
    UNION ALL
    SELECT b, a, n_ab FROM cab WHERE b IN ('spark', 'window', 'dup')
  ) WHERE assoc NOT IN ('spark', 'window', 'dup')
  GROUP BY term, assoc HAVING sum(n_ab) >= 5
),
cx AS (SELECT token, count(*) AS n_x FROM tp GROUP BY token),
tot AS (SELECT (SELECT count(*) FROM tp) AS t,
               (SELECT count(*) FROM pr) AS pcnt),
sc AS (
  SELECT term, assoc, n_ab,
    ln((CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
       / (CAST(2 * pcnt AS DOUBLE) * CAST(nt.n_x AS DOUBLE)
          * CAST(na.n_x AS DOUBLE))) AS pmi
  FROM bo JOIN cx nt ON nt.token = bo.term
  JOIN cx na ON na.token = bo.assoc, tot
),
rk AS (
  SELECT term, assoc, n_ab, pmi,
         row_number() OVER (PARTITION BY term
                            ORDER BY pmi DESC, assoc ASC) AS r
  FROM sc
)
SELECT term, assoc, n_ab, round(pmi, 9) AS pmi FROM rk WHERE r <= 5""",
        # anchor-vocabulary entropy — postings CTE + token-ordered
        # -p*ln(p) fold per target
        "anchor_entropy": f"""
{_DUCK_ANCHOR_POSTINGS_CTE},
tot AS (
  SELECT target_url, CAST(sum(weight) AS BIGINT) AS tw, count(*) AS n_terms
  FROM ap GROUP BY target_url
),
he AS (
  SELECT ap.target_url, ap.token,
    -((CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE))
      * ln(CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE))) AS h
  FROM ap JOIN tot USING (target_url)
),
ent AS (
  SELECT target_url,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(h ORDER BY token)), (x, y) -> x + y) AS entropy
  FROM he GROUP BY target_url
)
SELECT t.target_url, t.n_terms, t.tw AS n_anchors,
       round(ent.entropy, 9) AS entropy
FROM tot t JOIN ent USING (target_url)""",
        # path-prefix census over the url fixture — <=3 ancestors/url
        "path_census": f"""
WITH u AS ({_DUCK_URL_FIXTURE}),
pp AS (
  SELECT lower(split_part(substr(url, 9), '/', 1)) AS host,
         list_filter(string_split(regexp_replace(
           split_part(substr(substr(url, 9),
             length(split_part(substr(url, 9), '/', 1)) + 1), '?', 1),
           '^/', ''), '/'), s -> s <> '') AS segs
  FROM u
),
ex AS (
  SELECT host,
         unnest(list_transform(range(1, least(len(segs), 3) + 1),
           d -> struct_pack(depth := d,
                prefix := '/' || array_to_string(list_slice(segs, 1, d),
                                                 '/'))),
           recursive := true)
  FROM pp WHERE len(segs) > 0
)
SELECT host, prefix, depth, count(*) AS n_urls
FROM ex GROUP BY host, prefix, depth""",
        # Good-Turing discounts off the exact unigram spectrum
        "good_turing": f"""
WITH {_DUCK_TOKENS},
tokf AS (SELECT token, count(*) AS freq FROM tok2 GROUP BY token),
spec AS (SELECT freq, count(*) AS n_types FROM tokf GROUP BY freq),
nxt AS (SELECT freq - 1 AS freq, n_types AS n_next FROM spec)
SELECT spec.freq AS r, spec.n_types AS n_r,
  round(CASE WHEN n_next IS NOT NULL AND n_next > 0
    THEN (CAST(spec.freq AS DOUBLE) + 1.0e0)
         * (CAST(n_next AS DOUBLE) / CAST(spec.n_types AS DOUBLE))
    ELSE CAST(spec.freq AS DOUBLE) END, 9) AS r_star
FROM spec LEFT JOIN nxt USING (freq) WHERE spec.freq <= 10000000""",
        # NQC post-retrieval QPP — top-50 score folds in doc_id order,
        # collection score magnitude as the normalizer
        "rank_corr": _duck_rank_corr(_BM25_TERMS, n_cand=50),
        "kn_bigrams": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
bi AS (
  SELECT unnest(list_transform(range(len(tl) - 1),
         i -> struct_pack(w1 := tl[i + 1], w2 := tl[i + 2])),
         recursive := true)
  FROM toks WHERE len(tl) >= 2
),
big AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
lft AS (SELECT w1, sum(cb) AS cl, count(*) AS nf FROM big GROUP BY w1),
cont AS (SELECT w2, count(*) AS np FROM big GROUP BY w2),
tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM big)
SELECT w1, w2, cb AS c,
       round(greatest(CAST(cb AS DOUBLE) - 0.75e0, 0.0e0)
               / CAST(cl AS DOUBLE)
             + 0.75e0 * CAST(nf AS DOUBLE) / CAST(cl AS DOUBLE)
               * (CAST(np AS DOUBLE) / (SELECT t FROM tt)), 9) AS p_kn
FROM big JOIN lft USING (w1) JOIN cont USING (w2)
WHERE cb >= 5""",
        "nqc": f"""
WITH {_DUCK_BM25_WTS},
bsc AS (
  SELECT doc_id, coalesce(max(CASE WHEN token = 'spark' THEN w END), 0.0e0) + coalesce(max(CASE WHEN token = 'window' THEN w END), 0.0e0) + coalesce(max(CASE WHEN token = 'dup' THEN w END), 0.0e0) AS sc
  FROM wts WHERE token IN ('spark', 'window', 'dup') GROUP BY doc_id
),
topk AS (SELECT doc_id, sc FROM bsc ORDER BY sc DESC, doc_id ASC LIMIT 50),
stot AS (
  SELECT coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(w ORDER BY doc_id, token)), (x, y) -> x + y), 0.0e0) AS st
  FROM wts WHERE token IN ('spark', 'window', 'dup')
),
ag AS (
  SELECT count(*) AS n,
    coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list(sc ORDER BY doc_id)), (x, y) -> x + y), 0.0e0) AS s1,
    coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list(sc * sc ORDER BY doc_id)), (x, y) -> x + y), 0.0e0) AS s2
  FROM topk
)
SELECT CAST(n AS BIGINT) AS n_scored,
  round(CASE WHEN n > 0 THEN s1 / CAST(n AS DOUBLE) ELSE 0.0e0 END, 9) AS mu,
  round(CASE WHEN n > 0 AND (SELECT st FROM stot) > 0.0e0
    THEN sqrt(greatest(s2 / CAST(n AS DOUBLE)
                       - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),
                       0.0e0)) / (SELECT st FROM stot)
    ELSE 0.0e0 END, 9) AS nqc
FROM ag""",
        # Church-Gale burstiness — exact (doc, token) counts, one ratio
        "burstiness": f"""
WITH {_DUCK_TOKENS},
per AS (SELECT doc_id, token, count(*) AS f FROM tok2 GROUP BY doc_id, token),
r AS (
  SELECT token, count(*) AS df,
         CAST(sum(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM per GROUP BY token
)
SELECT token, df, df2,
       round(CAST(df2 AS DOUBLE) / CAST(df AS DOUBLE), 9) AS burstiness
FROM r WHERE df >= 5""",
        # paired sign-flip permutation test — h60 coins, query-ordered
        # folds, add-one-smoothed p
        "sign_test": f"""
WITH m AS (
  SELECT doc_id AS qid,
         CAST((doc_id * 7) % 10 + 2 AS DOUBLE) / 12.0e0 AS a,
         CASE WHEN doc_id % 3 = 0 THEN 0.08e0 ELSE -0.02e0 END AS delta
  FROM documents WHERE doc_id < 20
),
d AS (SELECT qid, a - (a - delta) AS d FROM m),
qq AS (SELECT count(*) AS q FROM d),
obs AS (
  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(d ORDER BY qid)), (x, y) -> x + y)
         / CAST((SELECT q FROM qq) AS DOUBLE) AS o
  FROM d
),
pg AS (
  SELECT p.perm, d.qid,
         CASE WHEN {_duck_h60("CAST(p.perm AS VARCHAR) || ':' || CAST(d.qid AS VARCHAR)")} % 2 = 0
              THEN d.d ELSE -d.d END AS fd
  FROM (SELECT unnest(range(200)) AS perm) p, d
),
pm AS (
  SELECT perm,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(fd ORDER BY qid)), (x, y) -> x + y)
         / CAST((SELECT q FROM qq) AS DOUBLE) AS pmean
  FROM pg GROUP BY perm
),
cnt AS (SELECT count(*) AS c FROM pm
        WHERE abs(pmean) >= abs((SELECT o FROM obs)))
SELECT CAST((SELECT q FROM qq) AS BIGINT) AS n_queries,
       round((SELECT o FROM obs), 9) AS mean_diff,
       round(CAST(c + 1 AS DOUBLE) / CAST(201 AS DOUBLE), 9) AS p_value
FROM cnt""",
        "site_collapse": _duck_site_collapse(_BM25_TERMS, k=10, per_host=2,
                                             n_cand=50),
        "eliasfano_size": _duck_eliasfano(),
        "clarity": _duck_clarity(_BM25_TERMS, k_fb=10, mu=2000.0),
        # trigram JM-interpolated LM — lm_score's oracle one order up:
        # continuation-context denominators, fixed-order lambda mixture,
        # position-ordered list_reduce fold
        "lm_trigram": f"""
WITH toks AS MATERIALIZED (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
tri AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(range(len(tl) - 2),
                i -> struct_pack(pos := i, w1 := tl[i + 1],
                                 w2 := tl[i + 2], w3 := tl[i + 3])),
                recursive := true)
  FROM toks WHERE len(tl) >= 3
),
bi AS MATERIALIZED (
  SELECT unnest(list_transform(range(len(tl) - 1),
                i -> struct_pack(w1 := tl[i + 1], w2 := tl[i + 2])),
                recursive := true)
  FROM toks WHERE len(tl) >= 2
),
uni AS (SELECT w, count(*) AS cuni
        FROM (SELECT unnest(tl) AS w FROM toks) GROUP BY w),
vt AS (SELECT CAST(count(*) AS DOUBLE) AS vv,
              CAST(sum(cuni) AS DOUBLE) AS tt FROM uni),
ct3 AS MATERIALIZED (SELECT w1, w2, w3, count(*) AS c3 FROM tri GROUP BY w1, w2, w3),
ctx2 AS MATERIALIZED (SELECT w1, w2, count(*) AS x2 FROM tri GROUP BY w1, w2),
cbb AS MATERIALIZED (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
ctx1 AS MATERIALIZED (SELECT w1, count(*) AS x1 FROM bi GROUP BY w1),
sc AS (
  SELECT tri.doc_id, tri.pos,
    ln(0.6e0 * (CAST(c3 AS DOUBLE) / CAST(x2 AS DOUBLE))
       + 0.3e0 * (CAST(cbb.c2 AS DOUBLE) / CAST(ctx1.x1 AS DOUBLE))
       + 0.1e0 * ((CAST(uni.cuni AS DOUBLE) + 1.0e0)
                  / ((SELECT tt FROM vt) + (SELECT vv FROM vt)))) AS logp
  FROM tri
  JOIN ct3 USING (w1, w2, w3)
  JOIN ctx2 USING (w1, w2)
  JOIN cbb ON cbb.w1 = tri.w2 AND cbb.w2 = tri.w3
  JOIN ctx1 ON ctx1.w1 = tri.w2
  JOIN uni ON uni.w = tri.w3
),
agg AS (
  SELECT doc_id, count(*) AS n_trigrams,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(logp ORDER BY pos)),
                     (a, b) -> a + b) AS s
  FROM sc GROUP BY doc_id
)
SELECT t.doc_id, coalesce(agg.n_trigrams, 0) AS n_trigrams,
       round(coalesce(agg.s / agg.n_trigrams, 0.0e0), 9) AS avg_logprob
FROM toks t LEFT JOIN agg USING (doc_id)""",
        # sparse tf-idf cosine pairs — token equi-join with the df<=50
        # cut on the DOT only (norms exact/full-vector); token-ordered
        # folds for dot and norms (the more_like_this float discipline)
        "cosine_pairs": f"""
WITH {_DUCK_TOKENS},
nrm AS (
  SELECT doc_id,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(tf_idf * tf_idf ORDER BY token)), (a, b) -> a + b)) AS nrm
  FROM postings GROUP BY doc_id
),
scoring AS (
  SELECT p.doc_id, p.token, p.tf_idf
  FROM postings p JOIN dfreq USING (token) WHERE df <= 50
),
dots AS (
  SELECT a.doc_id AS src, b.doc_id AS dst,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list(a.tf_idf * b.tf_idf ORDER BY a.token)),
              (x, y) -> x + y) AS dot
  FROM scoring a JOIN scoring b
    ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
cosd AS (
  SELECT src, dst, dot / (na.nrm * nb.nrm) AS cos
  FROM dots
  JOIN nrm na ON na.doc_id = src
  JOIN nrm nb ON nb.doc_id = dst
)
SELECT src, dst, round(cos, 9) AS cos FROM cosd WHERE cos >= 0.5e0""",
        "surt_keys": f"WITH {_DUCK_SURT} SELECT doc_id, surt FROM surts",
        "cdx_range": (
            f"WITH {_DUCK_SURT} SELECT doc_id, url, surt FROM surts "
            f"WHERE surt >= 'test,h3)/' AND surt < '{_cdx_upper}'"
        ),
        "phrase_query": _duck_phrase(_PHRASE),
        "colloc_pmi": _DUCK_COLLOC,
        "spell_suggest": _duck_spell(_SPELL_TERM, max_dist=2, k=5),
        "spell_batch": _duck_spell_batch(
            _SPELL_BATCH, max_dist=2, k=3, max_len=24
        ),
        "champions": _duck_champions(k=3),
        "snippets": _duck_snippets(_SNIPPET_TERMS, window=5),
        "rank_eval": _duck_rank_eval(_BM25_TERMS, k=10),
        "redirects": _DUCK_REDIRECTS,
        "more_like_this": _duck_more_like_this(0, k=10),
        "mirror_hosts": _DUCK_MIRROR_HOSTS,
        "percolate": _duck_percolate(_ALERTS),
        "textrank": _duck_textrank(n_iters=5, damping=0.85),
        "ppr": _duck_ppr(n_iters=5, damping=0.85),
        "pivoted_topk": _duck_pivoted(_BM25_TERMS, k=10),
        "assortativity": f"""
WITH {_DUCK_EXPANDER_E},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
j AS (
  SELECT da.d AS da, db.d AS db
  FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS m_edges,
         CAST(sum(da * db) AS BIGINT) AS s1,
         CAST(sum(da + db) AS BIGINT) AS s2,
         CAST(sum(da * da + db * db) AS BIGINT) AS s3
  FROM j
)
SELECT m_edges,
       round(CASE WHEN 2 * m_edges * s3 - s2 * s2 <> 0 THEN
         CAST(4 * m_edges * s1 - s2 * s2 AS DOUBLE)
           / CAST(2 * m_edges * s3 - s2 * s2 AS DOUBLE)
       END, 9) AS r
FROM agg""",
        "yule_k": f"""
WITH ytok2 AS (SELECT doc_id, token FROM ({_DUCK_TL_ROWS}) yt
               WHERE token <> '' AND length(token) <= 10000),
ytf AS (SELECT doc_id, token, count(*) AS f FROM ytok2
        GROUP BY doc_id, token),
agg AS (
  SELECT doc_id, CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(sum(f * f) AS BIGINT) AS sf2
  FROM ytf GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.n_tokens, 0) AS n_tokens,
       round(CASE WHEN agg.n_tokens > 0 THEN
         10000.0e0 * CAST(agg.sf2 - agg.n_tokens AS DOUBLE)
           / CAST(agg.n_tokens * agg.n_tokens AS DOUBLE)
       END, 9) AS yule_k
FROM documents d LEFT JOIN agg USING (doc_id)""",
        "cluster_dilution": f"""
WITH cl AS (SELECT * FROM ({_DUCK_DUP_CLUSTERS}) c),
dtoks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
dg AS (SELECT doc_id, {_DUCK_GRAMS} AS gs FROM dtoks),
dp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM dg a JOIN dg b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.gs, b.gs)) > 0
    AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
  FROM cl GROUP BY cluster_id HAVING count(*) >= 2
),
direct AS (
  SELECT cl.cluster_id, CAST(count(*) AS BIGINT) AS n_direct
  FROM dp JOIN cl ON cl.doc_id = dp.doc_a
  GROUP BY cl.cluster_id
)
SELECT s.cluster_id, s.size,
       coalesce(d.n_direct, 0) AS n_direct,
       s.size * (s.size - 1) // 2 AS n_possible,
       round(1.0e0 - CAST(coalesce(d.n_direct, 0) AS DOUBLE)
             / CAST(s.size * (s.size - 1) // 2 AS DOUBLE), 9)
         AS dilution
FROM sizes s LEFT JOIN direct d USING (cluster_id)""",
        "gini_events": """
WITH c AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY user_id),
r AS (SELECT k, x,
             CAST(row_number() OVER (ORDER BY x ASC, k ASC) AS BIGINT)
               AS i
      FROM c),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(x) AS BIGINT) AS total,
             CAST(sum(i * x) AS BIGINT) AS s_ix
      FROM r)
SELECT n_keys, total,
       round(CAST(2 * s_ix AS DOUBLE) / CAST(n_keys * total AS DOUBLE)
             - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE), 9)
         AS gini
FROM a""",
        "rich_club": f"""
WITH {_DUCK_EXPANDER_E},
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
clubs AS (
  SELECT CAST(4 AS BIGINT) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > 4)
           AS n_nodes,
         (SELECT CAST(count(*) AS BIGINT)
          FROM e JOIN deg da ON da.node = e.a
                 JOIN deg db ON db.node = e.b
          WHERE da.d > 4 AND db.d > 4) AS n_edges
  UNION ALL
  SELECT CAST(6 AS BIGINT) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > 6)
           AS n_nodes,
         (SELECT CAST(count(*) AS BIGINT)
          FROM e JOIN deg da ON da.node = e.a
                 JOIN deg db ON db.node = e.b
          WHERE da.d > 6 AND db.d > 6) AS n_edges
  UNION ALL
  SELECT CAST(8 AS BIGINT) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > 8)
           AS n_nodes,
         (SELECT CAST(count(*) AS BIGINT)
          FROM e JOIN deg da ON da.node = e.a
                 JOIN deg db ON db.node = e.b
          WHERE da.d > 8 AND db.d > 8) AS n_edges
  UNION ALL
  SELECT CAST(10 AS BIGINT) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > 10)
           AS n_nodes,
         (SELECT CAST(count(*) AS BIGINT)
          FROM e JOIN deg da ON da.node = e.a
                 JOIN deg db ON db.node = e.b
          WHERE da.d > 10 AND db.d > 10) AS n_edges
)
SELECT k, n_nodes, n_edges,
       round(CASE WHEN n_nodes >= 2 THEN
         CAST(2 * n_edges AS DOUBLE)
           / CAST(n_nodes * (n_nodes - 1) AS DOUBLE) END, 9) AS phi
FROM clubs""",
        "fielded_query": f"""
SELECT doc_id, round(tf_idf, 9) AS tf_idf FROM (
  {_DUCK_DNF_PREFIX}
  SELECT doc_id, tf_idf FROM firstwin WHERE rn = 1
) t
WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
ORDER BY tf_idf ASC, doc_id ASC LIMIT 5""",
        "assoc_rules": """
WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
nb AS (SELECT count(DISTINCT b) AS n FROM bi),
supp AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY i),
bo AS (
  SELECT x.i AS ia, y.i AS ib, CAST(count(*) AS BIGINT) AS n_both
  FROM bi x JOIN bi y ON x.b = y.b AND x.i <> y.i
  GROUP BY x.i, y.i
  HAVING count(*) >= 5
)
SELECT bo.ia AS antecedent, bo.ib AS consequent, n_both,
       sa.n AS n_ante,
       round(CAST(n_both AS DOUBLE) / CAST(sa.n AS DOUBLE), 9)
         AS confidence,
       round(CAST(n_both * (SELECT n FROM nb) AS DOUBLE)
             / CAST(sa.n * sb.n AS DOUBLE), 9) AS lift
FROM bo
JOIN supp sa ON sa.i = bo.ia
JOIN supp sb ON sb.i = bo.ib""",
        "serp": f"""
WITH bl AS ({_duck_prior_blend(_BM25_TERMS, k=50, lam=0.25)}),
hm AS (
  SELECT doc_id, 'h' || CAST(doc_id % 16 AS VARCHAR) || '.test' AS host
  FROM documents
),
rk AS (
  SELECT bl.doc_id, hm.host, bl.score,
         row_number() OVER (PARTITION BY hm.host
                            ORDER BY bl.score DESC, bl.doc_id ASC) AS r
  FROM bl JOIN hm USING (doc_id)
),
page AS (
  SELECT doc_id, host, score FROM rk WHERE r <= 2
  ORDER BY score DESC, doc_id ASC LIMIT 10
),
sn AS ({_duck_snippets(_BM25_TERMS, 5)})
SELECT page.doc_id, page.host, page.score, sn.snippet
FROM page LEFT JOIN sn USING (doc_id)""",
        "spam_mass": f"""
SELECT pr.doc_id, pr.rank AS pr, pp.rank AS ppr,
       round((pr.rank - pp.rank) / pr.rank, 9) AS spam_mass
FROM ({_pagerank_sql()}) pr
JOIN ({_duck_ppr(n_iters=5, damping=0.85)}) pp USING (doc_id)""",
        "weighted_sample": f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS weight,
         ln(CAST({_duck_h60("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
            / CAST(1152921504606846976 AS DOUBLE))
           / CAST(length(text) AS DOUBLE) AS key
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, round(weight, 9) AS weight, round(key, 9) AS key
FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 50""",
        "complete": f"""
WITH {_DUCK_TOKENS}
SELECT token, df FROM dfreq
WHERE token >= 's' AND token < 't'
ORDER BY df DESC, token ASC LIMIT 5""",
        "cocitation": """
WITH nn AS (SELECT count(*) AS c FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn) FROM documents
  UNION ALL
  SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn) FROM documents
),
e AS (SELECT DISTINCT src, dst FROM e0)
SELECT a.dst AS page_a, b.dst AS page_b, count(*) AS n_shared
FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
GROUP BY a.dst, b.dst HAVING count(*) >= 2""",
        "suffix_query": f"""
WITH {_DUCK_TOKENS},
hits AS (
  SELECT doc_id, token, tf_idf FROM postings
  WHERE reverse(token) >= 'red' AND reverse(token) < 'ree'
),
sc AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(tf_idf ORDER BY token)),
                     (a, b) -> a + b) AS s
  FROM hits GROUP BY doc_id
)
SELECT doc_id, round(s, 9) AS score FROM sc
ORDER BY s DESC, doc_id ASC LIMIT 10""",
        "prefix_query": f"""
WITH {_DUCK_TOKENS},
hits AS (
  SELECT doc_id, token, tf_idf FROM postings
  WHERE token >= 's' AND token < 't'
),
sc AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(tf_idf ORDER BY token)),
                     (a, b) -> a + b) AS s
  FROM hits GROUP BY doc_id
)
SELECT doc_id, round(s, 9) AS score FROM sc
ORDER BY s DESC, doc_id ASC LIMIT 10""",
        "proximity": f"""
WITH {_DUCK_POSIT},
pa AS (SELECT doc_id, pos AS p1 FROM posit WHERE token = 'spark'),
pb AS (SELECT doc_id, pos AS p2 FROM posit WHERE token = 'window'),
prs AS (
  SELECT pa.doc_id, abs(p1 - p2) AS d
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND abs(p1 - p2) <= 3
)
SELECT doc_id, CAST(min(d) AS BIGINT) AS min_dist, count(*) AS n_pairs
FROM prs GROUP BY doc_id""",
        "sessions": """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ss,
       count(*) AS n_events, round(sum(value), 9) AS sum_value
FROM s GROUP BY user_id, sid""",
        "index_analytics": (
            f"WITH {_DUCK_TOKENS} SELECT count(DISTINCT doc_id) AS n_docs, "
            "count(DISTINCT token) AS n_tokens, count(*) AS n_postings FROM postings"
        ),
        "window_quota": """
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY value DESC, event_id ASC
         ) AS rk
  FROM events
)
SELECT event_type, event_id, round(value, 9) AS value, rk
FROM ranked WHERE rk <= 5""",
        "exact_dedup": (
            "SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, "
            "count(*) AS n_dups FROM documents GROUP BY md5(text)"
        ),
        "ngram_pairs": _DUCK_NGRAM_PAIRS,
        # minhash_pairs is LSH-proposed but exact-verified, and the band
        # parameters make a miss at j≥0.7 cryptographically unlikely —
        # its oracle IS the exact pair set
        "minhash_pairs": _DUCK_NGRAM_PAIRS,
        "embed_pairs": f"""
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, round({_DUCK_COS}, 9) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_DUCK_COS} >= 0.3""",
        "ann_topk": f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round({_DUCK_QCOS}, 9) AS cosine
FROM embeddings e, q
ORDER BY {_DUCK_QCOS} DESC, e.vec_id ASC LIMIT 10""",
        "token_stats": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents)
SELECT doc_id, len(tl) AS n_tokens, len(list_distinct(tl)) AS n_distinct_tokens,
  round(CASE WHEN len(tl) = 0 THEN 0.0
    ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(tl, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x) AS DOUBLE)
      / len(tl) END, 9) AS mean_token_len
FROM toks""",
        "quality": f"""
WITH toks AS (SELECT doc_id, text, {_DUCK_TL} AS tl FROM documents),
b AS (SELECT doc_id, length(text) AS n_chars,
  CASE WHEN length(text) = 0 THEN 0.0
    ELSE CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
      / length(text) END AS alnum_ratio,
  CASE WHEN len(tl) = 0 THEN 0.0
    ELSE CAST(len(list_filter(tl, t -> t IN ({_EN}))) AS DOUBLE) / len(tl)
  END AS stop_ratio,
  len(tl) AS nt FROM toks)
SELECT doc_id, n_chars, round(alnum_ratio, 9) AS alnum_ratio,
  round(stop_ratio, 9) AS stop_ratio,
  round(0.4*alnum_ratio + 0.4*least(1.0, 5.0*stop_ratio)
        + 0.2*least(1.0, CAST(nt AS DOUBLE)/256.0), 9) AS quality
FROM b""",
        "lang_id": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
h AS (SELECT doc_id, {_LANG_HITS} FROM toks)
SELECT doc_id, {_LANG_CASE} AS lang_pred FROM h""",
        "fingerprint": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents)
SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
  list_transform(tl, t -> CAST(length(t)*31 + ascii(substring(t,1,1)) AS BIGINT))),
  (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
FROM toks""",
        "seen_antijoin": (
            "SELECT c_custkey FROM customer "
            "WHERE c_custkey NOT IN (SELECT user_id FROM events)"
        ),
        "seen_antijoin_cuckoo": (
            "SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer "
            "WHERE c_custkey NOT IN (SELECT user_id FROM events)"
        ),
        "tumbling_counts": """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
       event_type, count(*) AS n_events, round(sum(value), 9) AS sum_value
FROM events GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type""",
        "boilerplate": _DUCK_BOILERPLATE,
        "triangles": _DUCK_TRIANGLES,
        "bpe_train": _duck_bpe(6),
        "funnel": _DUCK_FUNNEL,
        "adamic_adar": _DUCK_ADAMIC_ADAR,
        "k_core": _duck_kcore(4, rounds=8),
        "k_truss": _duck_ktruss(4, rounds=8),
        "hll_error": f"""
WITH hh AS ({_duck_hll(8)}),
tke AS (SELECT lang, unnest({_DUCK_TL}) AS token FROM documents),
ex AS (SELECT lang, CAST(count(DISTINCT token) AS BIGINT)
         AS exact_distinct
       FROM tke WHERE token <> '' AND length(token) <= 10000
       GROUP BY lang)
SELECT hh.lang, hh.est_distinct, ex.exact_distinct,
       round((hh.est_distinct - ex.exact_distinct)
             / ex.exact_distinct, 9) AS rel_err
FROM hh JOIN ex USING (lang)""",
        "bloom_fpr": f"""
WITH u0 AS ({_DUCK_URL_FIXTURE_ID}),
ins AS (SELECT DISTINCT url AS u FROM u0 WHERE doc_id % 2 = 0),
prb AS (
  SELECT DISTINCT url AS u FROM u0 WHERE doc_id % 2 = 1
  AND url NOT IN (SELECT u FROM ins)
),
ni AS (SELECT count(*) AS n FROM ins),
mm AS (SELECT greatest(64, 32 * ((4 * (SELECT n FROM ni) + 31) // 32))
         AS m),
ib AS (
  SELECT ({_duck_h60("u || '#' || CAST(j AS VARCHAR)")})
           % (SELECT m FROM mm) AS pos
  FROM ins, (SELECT unnest(range(4)) AS j)
),
words AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS w
  FROM ib GROUP BY pos // 32
),
bs AS (SELECT CAST(sum(bit_count(w)) AS BIGINT) AS b FROM words),
pb AS (
  SELECT u,
         ({_duck_h60("u || '#' || CAST(j AS VARCHAR)")})
           % (SELECT m FROM mm) AS pos
  FROM prb, (SELECT unnest(range(4)) AS j)
),
ph AS (
  SELECT pb.u,
         CASE WHEN words.w IS NOT NULL
                   AND (words.w & (CAST(1 AS BIGINT)
                        << CAST(pb.pos % 32 AS INTEGER))) <> 0
              THEN 1 ELSE 0 END AS hit
  FROM pb LEFT JOIN words ON pb.pos // 32 = words.word
),
pu AS (SELECT u, sum(hit) AS n_set FROM ph GROUP BY u)
SELECT CAST((SELECT m FROM mm) AS BIGINT) AS m_bits,
       CAST((SELECT n FROM ni) AS BIGINT) AS n_insert,
       count(*) AS n_probe,
       (SELECT b FROM bs) AS bits_set,
       CAST(coalesce(sum(CASE WHEN n_set = 4 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_false_pos
FROM pu""",
        "minhash_error": f"""
WITH toks AS (SELECT doc_id, {_DUCK_TL} AS tl FROM documents),
g AS (SELECT doc_id, {_DUCK_GRAMS} AS gs FROM toks),
pr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
           / len(list_distinct(list_concat(a.gs, b.gs))) AS j
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.gs, b.gs)) > 0
    AND CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.5
),
ids AS (SELECT DISTINCT doc_id FROM
        (SELECT doc_a AS doc_id FROM pr
         UNION ALL SELECT doc_b FROM pr)),
sg AS (
  SELECT g.doc_id,
         list_transform(range(16), p ->
           list_aggregate(list_transform(gs, x ->
             {_duck_h60("x || '#' || CAST(p AS VARCHAR)")}), 'min')) AS sig
  FROM g JOIN ids USING (doc_id)
),
m AS (
  SELECT pr.doc_a, pr.doc_b, pr.j,
         CAST(list_sum(list_transform(range(16), p ->
           CASE WHEN sa.sig[CAST(p + 1 AS INTEGER)]
                     = sb.sig[CAST(p + 1 AS INTEGER)]
                THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
  FROM pr
  JOIN sg sa ON sa.doc_id = pr.doc_a
  JOIN sg sb ON sb.doc_id = pr.doc_b
)
SELECT doc_a, doc_b, round(j, 9) AS j, n_match,
       round(CAST(n_match AS DOUBLE) / 16.0e0, 9) AS j_est,
       round(abs(j - CAST(n_match AS DOUBLE) / 16.0e0), 9) AS abs_err
FROM m""",
        "bowtie": """
WITH RECURSIVE nn AS (SELECT count(*) AS c FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id*2+1) % (SELECT c FROM nn) AS dst
  FROM documents
  UNION ALL SELECT doc_id, (doc_id*3+7) % (SELECT c FROM nn)
  FROM documents
  UNION ALL SELECT doc_id, (doc_id*5+11) % (SELECT c FROM nn)
  FROM documents
  UNION ALL
  SELECT doc_id + (SELECT c FROM nn), (doc_id*3) % (SELECT c FROM nn)
  FROM documents WHERE doc_id < 25
  UNION ALL
  SELECT (doc_id*5) % (SELECT c FROM nn),
         doc_id + (SELECT c FROM nn) + 25
  FROM documents WHERE doc_id < 25
  UNION ALL
  SELECT doc_id*2 + (SELECT c FROM nn) + 50,
         doc_id*2 + (SELECT c FROM nn) + 51
  FROM documents WHERE doc_id < 10
),
ed AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
nodes AS (
  SELECT id, count(*) AS deg FROM (
    SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed
  ) GROUP BY id
),
pv AS (SELECT id FROM nodes ORDER BY deg DESC, id ASC LIMIT 1),
fwd AS (
  SELECT id FROM pv
  UNION
  SELECT ed.dst FROM ed JOIN fwd ON ed.src = fwd.id
),
bwd AS (
  SELECT id FROM pv
  UNION
  SELECT ed.src FROM ed JOIN bwd ON ed.dst = bwd.id
),
cls AS (
  SELECT n.id,
         CASE WHEN f.id IS NOT NULL AND b.id IS NOT NULL THEN 'scc'
              WHEN b.id IS NOT NULL THEN 'in'
              WHEN f.id IS NOT NULL THEN 'out'
              ELSE 'other' END AS component
  FROM nodes n
  LEFT JOIN fwd f ON n.id = f.id
  LEFT JOIN bwd b ON n.id = b.id
)
SELECT component, count(*) AS n_nodes FROM cls GROUP BY component""",
        "late_data": """
-- arrival-key injectivity bound: the `% 1048576` low bits are unique
-- only while event_id < 2^20 (the Spark side ASSERTS this before
-- running); enlarge the modulus in both engines together
WITH e0 AS (
  SELECT event_id, epoch_us(ts) // 1000000 AS sec FROM events
),
nn AS (SELECT count(*) AS c FROM e0),
jm AS (SELECT 2 * greatest(1, (SELECT c FROM nn) // 25) + 1 AS m),
e AS (
  SELECT ((event_id + (event_id * 7919) % (SELECT m FROM jm)) * 1048576
          + event_id % 1048576) AS oid,
         sec
  FROM e0
),
m AS (
  SELECT oid, sec,
         max(sec) OVER (ORDER BY oid
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS wm
  FROM e
)
SELECT (sec // 86400) * 86400 AS window_start,
       count(*) AS n_events,
       CAST(coalesce(sum(CASE WHEN wm IS NOT NULL
                          AND sec < wm - 86400 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_late
FROM m GROUP BY 1""",
        "revisit_resolve": """
WITH caps AS (
  SELECT user_id AS url, ts, event_type AS digest,
         event_id AS capture_id
  FROM events
),
firsts AS (
  SELECT url, digest,
         min(struct_pack(ts := ts, capture_id := capture_id)) AS f
  FROM caps GROUP BY url, digest
)
SELECT c.url, c.capture_id,
       struct_pack(ts := c.ts, capture_id := c.capture_id) <> f.f
         AS is_revisit,
       f.f.capture_id AS original_id
FROM caps c JOIN firsts f USING (url, digest)""",
        "bpe_encode": _duck_bpe_encode(6),
        "kmv_distinct": _duck_kmv(256),
        "ltr_features": _duck_ltr(_BM25_TERMS),
        "change_rate": _DUCK_CHANGE_RATE,
        "cms_topk": _duck_cms(16, 3, 25),
        "host_budget": _duck_host_budget(97),
        "url_templates": _DUCK_URL_TEMPLATES,
        "chunk_text": _DUCK_CHUNK_TEXT,
        "containment_pairs": _DUCK_CONTAINMENT,
        "shard_assign": _DUCK_SHARD_ASSIGN,
        "shard_moves": _DUCK_SHARD_MOVES,
        "domain_split": f"""
WITH hosts AS (
  SELECT CASE doc_id % 5
    WHEN 0 THEN 'www.site' || CAST((doc_id // 5) % 20 AS VARCHAR) || '.co.uk'
    WHEN 1 THEN 'blog.site' || CAST((doc_id // 5) % 20 AS VARCHAR) || '.com'
    WHEN 2 THEN 'user' || CAST((doc_id // 5) % 50 AS VARCHAR) || '.github.io'
    WHEN 3 THEN 'cdn.site' || CAST((doc_id // 5) % 10 AS VARCHAR)
                || '.yamanashi.jp'
    ELSE 'site' || CAST((doc_id // 5) % 20 AS VARCHAR) || '.com'
  END AS host
  FROM documents
),
s AS (SELECT host, lower(host) AS hl, string_split(lower(host), '.') AS l
      FROM hosts),
p AS (SELECT host, {duck_pld_case()} AS pld FROM s),
a AS (
  SELECT pld,
         CASE WHEN {_duck_h60("pld")} < 922337203685477632 THEN 'train'
              WHEN {_duck_h60("pld")} < 1037629354146162304 THEN 'val'
              ELSE 'test' END AS split
  FROM p
)
SELECT split, count(*) AS n_docs,
       CAST(count(DISTINCT pld) AS BIGINT) AS n_plds
FROM a GROUP BY split""",
        "blocklist_gate": f"""
WITH hosts AS (
  SELECT CASE doc_id % 5
    WHEN 0 THEN 'www.site' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk'
    WHEN 1 THEN 'blog.site' || CAST(doc_id % 20 AS VARCHAR) || '.com'
    WHEN 2 THEN 'user' || CAST(doc_id % 50 AS VARCHAR) || '.github.io'
    WHEN 3 THEN 'cdn.site' || CAST(doc_id % 10 AS VARCHAR)
                || '.yamanashi.jp'
    ELSE 'site' || CAST(doc_id % 20 AS VARCHAR) || '.com'
  END AS host
  FROM documents
),
s AS (SELECT host, lower(host) AS hl, string_split(lower(host), '.') AS l
      FROM hosts),
p AS (SELECT host, {duck_pld_case()} AS pld FROM s)
SELECT pld,
       pld IN ('site3.co.uk', 'site5.com', 'user7.github.io') AS blocked,
       count(*) AS n_hosts
FROM p GROUP BY pld, blocked""",
        "ring_assign": _DUCK_RING_ASSIGN,
        "mime_census": f"""
WITH sigs AS (
  SELECT ['89504E470D0A1A0A', 'FFD8FFE0', '474946383961',
          '255044462D312E37', '1F8B08', '504B0304',
          '52494646AAAAAAAA57454250', ''] AS a
),
media AS (
  SELECT doc_id,
         unhex(a[CAST(doc_id % 8 + 1 AS INTEGER)]) || encode(text)
           AS payload
  FROM documents, sigs
)
SELECT {_DUCK_SNIFF} AS mime, count(*) AS n_payloads,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes
FROM media GROUP BY 1""",
        "zorder_files": _duck_zorder(),
        "ring_moves": _DUCK_RING_MOVES,
        "hll_distinct": _duck_hll(8),
        # exact pruning: MaxScore's oracle IS the brute-force bm25 SQL
        "maxscore_topk": _duck_bm25(_BM25_TERMS, k=10),
        "bmw_topk": _duck_bm25(_BM25_TERMS, k=10),
        # NFC + strip + collapse replayed in DuckDB (nfc_normalize +
        # RE2 global replaces); the mojibake suffix literal is the SAME
        # python string on both sides, so the codepoints are identical
        "text_clean": f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{_NORM_SUFFIX}'
              ELSE text END AS text
  FROM documents
),
cln AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_raw,
         regexp_replace(
           regexp_replace(
             regexp_replace(nfc_normalize(text),
               '{TN._STRIP_CLASS}', '', 'g'),
             '{TN._HSPACE_RUN}', ' ', 'g'),
           '(?m){TN._EDGE_SPACE}', '', 'g') AS clean
  FROM aug
)
SELECT doc_id, md5(clean) AS clean_md5, n_chars_raw,
       CAST(length(clean) AS BIGINT) AS n_chars_clean
FROM cln""",
        # DSIR: same bucket hash, same add-one ratios, same bucket-
        # ordered fold (0.0-prepended list_reduce == Spark aggregate)
        "dsir_weights": f"""
WITH {_DUCK_TOKENS}, {_DUCK_DSIR.strip().strip(',')}
SELECT doc_id, n_tokens, round(log_weight, 9) AS log_weight FROM dsirw""",
        "dsir_sample": f"""
WITH {_DUCK_TOKENS}, {_DUCK_DSIR.strip().strip(',')},
keyed AS (
  SELECT doc_id, log_weight,
         log_weight
           - ln(-ln((CAST({_duck_h60("'dsir:' || CAST(doc_id AS VARCHAR)")}
                          AS DOUBLE) + 0.5e0)
                    / 1152921504606846976.0e0)) AS key
  FROM dsirw
)
SELECT doc_id, round(log_weight, 9) AS log_weight, round(key, 9) AS key
FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 40""",
        # varint size = pure integer arithmetic on doc_id gaps; md5 of
        # the comma-joined ascending ids mirrors the Spark-side decode
        "postings_compress": f"""
WITH {_DUCK_TOKENS},
g AS (
  SELECT token, doc_id,
         COALESCE(doc_id - lag(doc_id)
           OVER (PARTITION BY token ORDER BY doc_id), doc_id) AS gap
  FROM (SELECT DISTINCT token, doc_id FROM tf)
),
sz AS (
  SELECT token, doc_id,
         CASE WHEN gap < 128 THEN 1
              WHEN gap < 16384 THEN 2
              WHEN gap < 2097152 THEN 3
              WHEN gap < 268435456 THEN 4
              WHEN gap < 34359738368 THEN 5
              WHEN gap < 4398046511104 THEN 6
              WHEN gap < 562949953421312 THEN 7
              WHEN gap < 72057594037927936 THEN 8
              ELSE 9 END AS b
  FROM g
)
SELECT token,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b) AS BIGINT) AS n_bytes,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
FROM sz GROUP BY token
""",
        "pld_census": _duck_pld_census(),
        # exact rank-ceil(p*n) order statistics — reproduced by a plain
        # row_number selection (tie order cannot change the k-th VALUE)
        "length_quantiles": """
WITH x AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           WHERE n_chars IS NOT NULL),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM x),
c AS (SELECT count(*) AS n FROM x),
p AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE)
        AS p)
SELECT p.p AS p, r.v AS value
FROM p CROSS JOIN c
JOIN r ON r.rn = least(greatest(1, CAST(ceil(p.p * c.n) AS BIGINT)), c.n)""",
        "winnow_fp": (
            f"WITH {_duck_winnow(4, 5)} SELECT doc_id, pos, fp FROM winfp"
        ),
        "winnow_matches": f"""
WITH {_duck_winnow(4, 5)},
dfp AS (SELECT DISTINCT doc_id, fp FROM winfp)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM dfp a JOIN dfp b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2""",
        # ground truth from the fixture's generative model — the Spark
        # side must parse the XML back to exactly this
        "sitemap_seeds": """
WITH se AS (
  SELECT 'https://h' || CAST(doc_id % 16 AS VARCHAR) || '.test/article/'
           || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 3 <> 0
              THEN CAST(doc_id % 10 AS DOUBLE) / 10.0 ELSE 0.5 END AS pr
  FROM documents
),
sm AS (SELECT doc_id % 16 AS hn, min(doc_id) AS mn
       FROM documents GROUP BY doc_id % 16),
sdup AS (
  SELECT 'https://h' || CAST(hn AS VARCHAR) || '.test/article/'
           || CAST(mn AS VARCHAR) AS url, 0.9 AS pr
  FROM sm
),
sall AS (SELECT url, pr FROM se UNION ALL SELECT url, pr FROM sdup)
SELECT url AS canon_url, round(max(pr), 9) AS score
FROM sall GROUP BY url""",
        # ground truth from the WARC fixture's generative model — the
        # Spark side must parse the blobs back to exactly this (md5 is
        # over the HTTP body bytes = the doc's utf-8 text; 404 docs
        # carry an empty body; host-0 blobs carry one corrupt record)
        "warc_ingest": """
SELECT
  'https://h' || CAST(doc_id % 16 AS VARCHAR) || '.test/article/'
    || CAST(doc_id AS VARCHAR) AS url,
  '2026-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
    || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
    || ':00:00Z' AS warc_ts,
  CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS status,
  'text/html' AS content_type,
  CASE WHEN doc_id % 17 = 0 THEN 0
       ELSE octet_length(encode(text)) END AS content_len,
  CASE WHEN doc_id % 17 = 0 THEN md5('') ELSE md5(text) END AS body_md5,
  CASE WHEN doc_id % 16 = 0 THEN 1 ELSE 0 END AS n_skipped
FROM documents""",
        "qlm_topk": _duck_qlm(_BM25_TERMS, k=10, mu=2000.0),
        "sdm_topk": _duck_sdm(_BM25_TERMS, k=10),
        "lmjm_topk": _duck_lmjm(_BM25_TERMS, k=10, lam=0.1),
        "pl2_topk": _duck_pl2(_BM25_TERMS, k=10),
        "salt_balance": f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'hot.test' ELSE
           'h' || CAST(doc_id % 16 AS VARCHAR) || '.test' END AS host
  FROM documents
),
keyed AS (
  SELECT {_duck_h60("host")} % 8 AS p FROM d
),
salted AS (
  SELECT {_duck_h60("host || '#' || CAST((doc_id >> 1) % 64 AS VARCHAR)")} % 8
           AS p
  FROM d
),
ka AS (SELECT p, count(*) AS n FROM keyed GROUP BY p),
sa AS (SELECT p, count(*) AS n FROM salted GROUP BY p)
SELECT 'keyed' AS scheme, count(*) AS n_parts_used, max(n) AS max_load,
       min(n) AS min_load, CAST(sum(n) AS BIGINT) AS total_keys FROM ka
UNION ALL
SELECT 'salted' AS scheme, count(*) AS n_parts_used, max(n) AS max_load,
       min(n) AS min_load, CAST(sum(n) AS BIGINT) AS total_keys FROM sa""",
        "zipf_fit": f"""
WITH {_DUCK_TOKENS},
freq AS (SELECT token, count(*) AS c FROM tok2 GROUP BY token),
top AS (SELECT token, c FROM freq ORDER BY c DESC, token ASC LIMIT 1000),
pts AS (
  SELECT CAST(row_number() OVER (ORDER BY c DESC, token ASC) AS BIGINT)
           AS rk,
         ln(CAST(row_number() OVER (ORDER BY c DESC, token ASC)
                 AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM top
),
p2 AS (SELECT rk, x, y, x * y AS xy, x * x AS xx FROM pts),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ranks,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(x ORDER BY rk)), (a, b) -> a + b)
           AS sx,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(y ORDER BY rk)), (a, b) -> a + b)
           AS sy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(xy ORDER BY rk)), (a, b) -> a + b)
           AS sxy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(xx ORDER BY rk)), (a, b) -> a + b)
           AS sxx
  FROM p2
),
a2 AS (SELECT n_ranks, CAST(n_ranks AS DOUBLE) AS n, sx, sy, sxy, sxx
       FROM agg)
SELECT n_ranks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
             / n, 9) AS intercept
FROM a2""",
        "opic": _duck_opic(rounds=3, cash0=1_000_000),
        # same counting + position-ordered fold + (score, label DESC)
        # argmax as operators/classify.nb_classify (train_mod=2)
        "nb_classify": f"""
WITH toks AS (SELECT doc_id, lang AS label, {_DUCK_TL} AS tl
              FROM documents),
train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
test AS (SELECT * FROM toks WHERE doc_id % 2 <> 0),
trtok AS (SELECT label, unnest(tl) AS token FROM train),
cwc AS (SELECT token, label, count(*) AS cwc FROM trtok
        GROUP BY token, label),
vv AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM trtok),
ntr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM train),
cls AS (
  SELECT d.label AS cls,
         ln(CAST(d.n_docs AS DOUBLE) / (SELECT n FROM ntr)) AS lnprior,
         CAST(coalesce(t.tok_c, 0) AS DOUBLE) AS tokc
  FROM (SELECT label, count(*) AS n_docs FROM train GROUP BY label) d
  LEFT JOIN (SELECT label, count(*) AS tok_c FROM trtok
             GROUP BY label) t USING (label)
),
tt AS (
  SELECT doc_id,
         unnest(list_transform(tl, (t, i) ->
                struct_pack(pos := i - 1, token := t)),
                recursive := true)
  FROM test WHERE len(tl) > 0
),
sc AS (
  SELECT tt.doc_id, tt.pos, c.cls,
         ln((CAST(coalesce(w.cwc, 0) AS DOUBLE) + 1.0e0)
            / (c.tokc + (SELECT v FROM vv))) AS logp
  FROM tt CROSS JOIN cls c
  LEFT JOIN cwc w ON w.token = tt.token AND w.label = c.cls
),
pc AS (
  SELECT doc_id, cls,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(logp ORDER BY pos)),
                     (a, b) -> a + b) AS s
  FROM sc GROUP BY doc_id, cls
),
ap AS (SELECT t.doc_id, t.label, c.cls, c.lnprior
       FROM test t CROSS JOIN cls c),
sumsc AS (
  SELECT ap.doc_id, ap.label, ap.cls,
         coalesce(pc.s, CAST(0.0 AS DOUBLE)) + ap.lnprior AS score
  FROM ap LEFT JOIN pc ON pc.doc_id = ap.doc_id AND pc.cls = ap.cls
),
rk AS (SELECT doc_id, label, cls, score,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cls DESC) AS r
       FROM sumsc)
SELECT doc_id, label, cls AS predicted, round(score, 9) AS score,
       cls = label AS correct
FROM rk WHERE r = 1""",
        "rocchio_expand": _duck_rocchio(_BM25_TERMS, k_fb=5, m=5),
        "doc_clusters_kmeans": _duck_doc_clusters(k=4, iters=2),
        "bm25f_topk": _duck_bm25f(_BM25_TERMS, k=10),
        # slice totals as scalar subqueries ≡ Spark's collected-literal
        # constants (exact ints either way); per-token math is per-row
        "keyness": f"""
WITH {_DUCK_TOKENS},
kc AS (
  SELECT token,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM tok2 GROUP BY token
),
kt AS (SELECT sum(n_a) AS na, sum(n_b) AS nb FROM kc)
SELECT token, n_a, n_b,
  round(2.0 * (
    (CASE WHEN n_a = 0 THEN 0.0 ELSE CAST(n_a AS DOUBLE)
        * ln(CAST(n_a AS DOUBLE) / (CAST((SELECT na FROM kt) AS DOUBLE)
            * (CAST(n_a + n_b AS DOUBLE)
               / CAST((SELECT na + nb FROM kt) AS DOUBLE)))) END)
    + (CASE WHEN n_b = 0 THEN 0.0 ELSE CAST(n_b AS DOUBLE)
        * ln(CAST(n_b AS DOUBLE) / (CAST((SELECT nb FROM kt) AS DOUBLE)
            * (CAST(n_a + n_b AS DOUBLE)
               / CAST((SELECT na + nb FROM kt) AS DOUBLE)))) END)
  ), 9) AS g2,
  CASE WHEN CAST(n_a AS DOUBLE) * (SELECT nb FROM kt)
            >= CAST(n_b AS DOUBLE) * (SELECT na FROM kt)
       THEN 'a' ELSE 'b' END AS enriched_in
FROM kc""",
        "freq_spectrum": f"""
WITH {_DUCK_TOKENS},
fs1 AS (SELECT token, count(*) AS freq FROM tok2 GROUP BY token)
SELECT CAST(freq AS BIGINT) AS freq, CAST(count(*) AS BIGINT) AS n_types
FROM fs1 GROUP BY freq""",
        "best_passage": f"""
WITH {_DUCK_POSIT},
bp0 AS (SELECT doc_id, pos, token FROM posit
        WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})),
bp1 AS (SELECT doc_id,
          list(struct_pack(pos := pos, token := token) ORDER BY pos) AS ps
        FROM bp0 GROUP BY doc_id),
bp2 AS (SELECT doc_id,
  list_transform(ps, s -> struct_pack(
    n := len(list_distinct(list_transform(
           list_filter(ps, q -> q.pos >= s.pos AND q.pos < s.pos + 16),
           q -> q.token))),
    strt := s.pos)) AS wins
  FROM bp1),
bp3 AS (SELECT doc_id, list_max(list_transform(wins, w -> w.n)) AS best_n,
               wins
        FROM bp2)
SELECT doc_id,
  CAST(list_min(list_transform(list_filter(wins, w -> w.n = best_n),
                               w -> w.strt)) AS INT) AS start_pos,
  CAST(best_n AS INT) AS n_terms
FROM bp3""",
        "facet_counts": _DUCK_DNF_PREFIX
        + """,
fm AS (SELECT doc_id FROM firstwin WHERE rn = 1),
fat AS (SELECT lang, source FROM documents JOIN fm USING (doc_id))
SELECT 'lang' AS facet, lang AS value, CAST(count(*) AS BIGINT) AS n_docs
FROM fat GROUP BY lang
UNION ALL
SELECT 'source', source, CAST(count(*) AS BIGINT) FROM fat GROUP BY source""",
        # the oracle's single global window is the SEMANTICS (corpus-
        # order running totals); the Spark plan realizes it two-phase
        "vocab_growth": f"""
WITH {_DUCK_TOKENS},
nt AS (
  SELECT doc_id, greatest(len({_DUCK_TL}), 0) AS n_tokens FROM documents
),
firstdoc AS (SELECT token, min(doc_id) AS doc_id FROM tok2 GROUP BY token),
newt AS (SELECT doc_id, count(*) AS new_types FROM firstdoc GROUP BY doc_id),
s AS (
  SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
         CAST(COALESCE(newt.new_types, 0) AS BIGINT) AS new_types
  FROM nt LEFT JOIN newt ON nt.doc_id = newt.doc_id
)
SELECT doc_id, n_tokens, new_types,
       CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
       CAST(sum(new_types) OVER (ORDER BY doc_id) AS BIGINT) AS cum_types
FROM s""",
        # longest-match wins, allow wins length ties, no-match allows —
        # the window ORDER BY transcribes the Spark max(struct) ordering
        "robots_gate": f"""
WITH u0 AS (SELECT doc_id, url FROM ({_DUCK_URL_FIXTURE_ID}) x),
u AS (
  SELECT doc_id, url,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1) AS host,
    CASE WHEN regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/]+(/.*)?$', 1) = ''
         THEN '/'
         ELSE regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/]+(/.*)?$', 1)
    END AS path
  FROM u0
),
hn AS (
  SELECT DISTINCT host,
         CAST(regexp_extract(host, '^h([0-9]+)', 1) AS INT) AS n
  FROM u
),
rules AS (
            SELECT host, 0 AS allow, '/tag/' AS prefix FROM hn
  UNION ALL SELECT host, 0, '/s/' FROM hn
  UNION ALL SELECT host, 1, '/tag/en/' FROM hn WHERE n % 3 = 0
  UNION ALL SELECT host, 0, '/product/' FROM hn WHERE n % 2 = 0
  UNION ALL SELECT host, 1, '/product/' FROM hn WHERE n % 4 = 1
  UNION ALL SELECT host, 0, '/product/' FROM hn WHERE n % 4 = 1
),
cand AS (
  SELECT u.doc_id, u.url, r.allow, r.prefix
  FROM u LEFT JOIN rules r
    ON u.host = r.host AND starts_with(u.path, r.prefix)
),
rk AS (
  SELECT doc_id, url, allow, prefix,
    row_number() OVER (PARTITION BY doc_id, url
      ORDER BY (prefix IS NULL) ASC, length(prefix) DESC,
               allow DESC, prefix DESC) AS rn
  FROM cand
)
SELECT doc_id, url, (prefix IS NULL OR allow = 1) AS allowed,
       prefix AS matched_prefix
FROM rk WHERE rn = 1""",
        # Round 2 closed the rows-only set to ZERO: simhash_pairs and
        # frame_sample moved to engine-portable md5-60bit hashes,
        # ann_lsh/ivf_topk share literal planes / data-derived centroids
        # with sequential-fold arithmetic, and media_features exploits
        # the ASCII fixture (char == byte) for the byte histogram.
    }
