"""Inverted-index construction as one declarative DataFrame DAG.

Reference pipeline (index_construction.py __main__, traced SURVEY.md §3 E1):
scan → extract → tokenize → per-doc tf → df → idf → tf·idf postings →
token-sorted sink. The reference does this with Pool.map + driver-side
dicts; here the whole thing is a lazy Catalyst plan on ONE exchange:

  documents → tokens (Column exprs, codegen) → explode_outer, token NOT NULL
  → repartition(token)                          [the one exchange]
  → groupBy(doc_id, token).count ÷ n_terms      [tf, A1; reuses it]
  → count(*) over (partition by token)          [df, A2; reuses it]
  → idf = ln(N/df), tf_idf = tf·idf             [A4, A5; same projection]

N (A3) is one separate count job. Inside the plan it would be a cross
join to a one-row count: over tf, that count does not reuse the token
exchange and measured slower than the job; over the documents, it
tokenizes every row a second time.

Tokenize-once rule: the tokenizer regex is evaluated once per row only
if no filter on `tokens` or `n_terms` sits between the Project that
builds them and the generator. A plain `explode` gets an inferred
`size(tokens) > 0` filter, and an `n_terms > 0` filter is pushed below
the Project; either one re-evaluates the regex. So tf explodes with the
outer generator (no inferred filter) and drops the null token it emits
for an empty or null array — the same rows as P3's empty-doc drop
(index_construction.py:130-131).

Scale notes (100 TB): the exchange ships raw token occurrences (no
map-side combine before it), and a head token's rows all land in one
partition; total-terms is size(tokens) BEFORE the explode, so no
per-doc aggregate is needed.

Faithful quirks kept: tf is *relative* frequency count/total_terms
(helpers.py:21-27); idf is ln(N/df), natural log, no smoothing
(index_construction.py:191-194).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from searchengine_spark.functions.text import lemma_apply, tokens_sql


def doc_tokens(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lemma_map: dict[str, str] | None = None,
    stem: bool = False,
) -> DataFrame:
    """(doc_id, tokens array<string>, n_terms) — tokenize is pure Column
    exprs (F2); lemmatization is a broadcast-literal map (F3). stem=True
    appends the open-vocabulary Porter pass (F3's unknown-word path) —
    the one Arrow-batched python stage in the token pipeline."""
    toks = F.expr(tokens_sql(text_col))
    toks = lemma_apply(toks, lemma_map)
    if stem:
        from searchengine_spark.functions.text import stem_tokens_udf

        toks = stem_tokens_udf(toks)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("tokens"),
    ).withColumn("n_terms", F.size("tokens"))


def term_frequencies(tokens_df: DataFrame) -> DataFrame:
    """A1 — (doc_id, token, tf) with tf = count/total_terms
    (helpers.py:24-25), hash-partitioned by token. Empty-token docs
    yield no rows (P3, index_construction.py:130-131)."""
    return (
        tokens_df.select(
            "doc_id", "n_terms", F.explode_outer("tokens").alias("token")
        )
        .filter(F.col("token").isNotNull())
        .repartition("token")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"), F.first("n_terms").alias("n_terms"))
        .select(
            "doc_id",
            "token",
            (F.col("cnt") / F.col("n_terms")).alias("tf"),
        )
    )


def doc_frequencies(tf_df: DataFrame) -> DataFrame:
    """A2 — (token, df); tf_df is already distinct per (doc, token), so a
    plain count (no countDistinct shuffle-explosion) suffices."""
    return tf_df.groupBy("token").agg(F.count("*").alias("df"))


def idf_table(df_counts: DataFrame, n_docs: int) -> DataFrame:
    """A4 — idf = ln(N/df) (index_construction.py:191-194)."""
    return df_counts.select(
        "token", F.log(F.lit(float(n_docs)) / F.col("df")).alias("idf")
    )


def _postings(tf: DataFrame, n_docs: int) -> DataFrame:
    """(doc_id, token, tf, idf, tf_idf) — df as a window over the token
    partitions, so a token-partitioned tf needs no exchange and no join."""
    df = F.count("*").over(Window.partitionBy("token"))
    return tf.select(
        "doc_id", "token", "tf", F.log(F.lit(float(n_docs)) / df).alias("idf")
    ).withColumn("tf_idf", F.col("tf") * F.col("idf"))


def build_postings(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lemma_map: dict[str, str] | None = None,
) -> DataFrame:
    """Full index: (doc_id, token, tf, idf, tf_idf)."""
    toks = doc_tokens(documents, id_col, text_col, lemma_map)
    n_docs = toks.filter(F.col("n_terms") > 0).count()  # A3
    return _postings(term_frequencies(toks), n_docs)


def postings_from_tf(tf: DataFrame) -> DataFrame:
    """Index refresh from a MAINTAINED tf table: df/idf re-derive from
    (doc_id, token, tf) — the tokenize stage (the expensive one at corpus
    scale) is never re-run for unchanged docs. n_docs = distinct doc ids
    in tf, ≡ A3's n_terms>0 count since empty docs never enter tf."""
    return _postings(tf, tf.select("doc_id").distinct().count())


def update_tf(
    tf_prev: DataFrame,
    changed_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lemma_map: dict[str, str] | None = None,
    stem: bool = False,
) -> DataFrame:
    """Incremental A1 maintenance — the index-side consumer of a
    freshness recrawl (frontier.recrawl_frontier): replace the changed
    docs' (doc_id, token, tf) rows with freshly tokenized ones.

    `changed_docs` carries the NEW text; a row whose text is null/empty
    (or tokenizes to nothing) DELETES the doc from the index — the
    P1/P3 drop rules double as the deletion path. Cost: O(changed)
    tokenize + one anti-join on doc_id, never a corpus re-tokenize;
    pair with postings_from_tf for the downstream refresh (df/idf are
    corpus-global, so they always re-aggregate — from the tf table, not
    from text). Equal by construction to a batch rebuild over the
    merged corpus; the driver's index_update query proves that against
    the batch-rebuild oracle."""
    delta = term_frequencies(
        doc_tokens(changed_docs, id_col, text_col, lemma_map, stem)
    )
    keys = changed_docs.select(F.col(id_col).alias("doc_id")).distinct()
    return tf_prev.join(keys, "doc_id", "left_anti").unionByName(delta)


def index_analytics(postings: DataFrame) -> DataFrame:
    """A7 — doc count + unique tokens (index_construction.py:247-250)."""
    return postings.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("token").alias("n_tokens"),
        F.count("*").alias("n_postings"),
    )


def write_sorted_index(postings: DataFrame, path: str) -> None:
    """S4 — token-sorted columnar sink (reference writes a text file
    sorted by token, index_construction.py:215-216,238-240; parquet
    sorted-within-partitions + token-range partitioning gives the same
    seek property via min/max stats, replacing the hand-rolled
    index-of-index T4)."""
    postings.repartitionByRange(32, "token").sortWithinPartitions(
        "token", "doc_id"
    ).write.mode("overwrite").parquet(path)


def postings_size_estimate(postings: DataFrame) -> DataFrame:
    """(token, df, raw_bytes, varint_bytes, ratio) — index capacity
    planning: per-token posting-list size under the standard
    delta-gap + varint (LEB128) encoding every production inverted
    index uses, vs raw fixed-width int64 postings. At 100 TB the
    decision "does the hot index tier fit in cluster RAM" is made from
    exactly this table (classic IR posting compression — see
    Manning/Raghavan/Schütze IIR ch. 5 variable-byte codes).

    Gap sequence: doc_ids ascending per token, first entry encoded as
    its absolute id (lag default 0). Varint width is exact integer CASE
    arithmetic (1 byte per started 7-bit group), so the DuckDB oracle
    reproduces it bit-for-bit; ratio is a double division of exact ints.

    Scale shape: lag() over (token, doc_id) is a constant-memory
    streaming offset frame — the per-token sequential dependency is
    inherent to delta encoding (production builders sort within posting
    shards the same way), NOT a full-buffer window; the groupBy(token)
    sum reuses the window's hash partitioning, so the operator costs
    ONE shuffle and never materializes a posting list in memory.
    """
    w = Window.partitionBy("token").orderBy("doc_id")
    gaps = postings.select("token", "doc_id").withColumn(
        "gap", F.col("doc_id") - F.lag("doc_id", 1, 0).over(w)
    )
    vb = (
        "CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2 "
        "WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4 "
        "WHEN gap < 34359738368 THEN 5 WHEN gap < 4398046511104 THEN 6 "
        "WHEN gap < 562949953421312 THEN 7 "
        "WHEN gap < 72057594037927936 THEN 8 ELSE 9 END"
    )
    return (
        gaps.selectExpr("token", f"CAST({vb} AS BIGINT) AS vbytes")
        .groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sum("vbytes").alias("varint_bytes"),
        )
        .selectExpr(
            "token",
            "df",
            "df * 8 AS raw_bytes",
            "varint_bytes",
            "round(CAST(varint_bytes AS DOUBLE) / (df * 8), 9) AS ratio",
        )
    )


def dict_size_estimate(postings: DataFrame) -> DataFrame:
    """(bucket, n_terms, raw_bytes, front_bytes, ratio) — term-DICTIONARY
    capacity planning under front coding (IIR ch. 5 blocked dictionary
    compression), the companion to postings_size_estimate: postings are
    the big half of an index, but at web scale the term dictionary
    (every distinct token, dominated by long-tail typos/ids) decides
    whether lookup structures stay in RAM on every executor.

    Encoding model per sorted term: the first term of its block is
    stored whole (length byte + bytes); every other term stores
    (shared-prefix-len byte, suffix-len byte, suffix bytes) against its
    PREDECESSOR. Blocks = first-character buckets — block boundaries
    double as partition boundaries, so the lexicographic lag() window
    is PARTITIONED (never a global-order window over the dictionary;
    same discipline as vocab_growth's bucketed prefix sum). Tokens are
    [a-z0-9'] runs (the normative tokenizer), so length() in chars ==
    bytes and both engines count identically.

    raw baseline = length byte + bytes per term. All arithmetic is
    exact ints; ratio is one double division, rounded at the contract
    surface."""
    d = postings.select("token").distinct().withColumn(
        "bkt", F.substring("token", 1, 1)
    )
    w = Window.partitionBy("bkt").orderBy("token")
    prev = F.lag("token", 1).over(w)
    cp = (
        "greatest(0, array_max(transform("
        "sequence(0, least(length(token), length(prev))), "
        "i -> IF(substring(token, 1, i) = substring(prev, 1, i), i, 0))))"
    )
    enc = d.withColumn("prev", prev).selectExpr(
        "bkt",
        "CAST(length(token) + 1 AS BIGINT) AS raw_b",
        f"CAST(CASE WHEN prev IS NULL THEN length(token) + 1 "
        f"ELSE 2 + length(token) - {cp} END AS BIGINT) AS front_b",
    )
    return (
        enc.groupBy("bkt")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("raw_b").alias("raw_bytes"),
            F.sum("front_b").alias("front_bytes"),
        )
        .selectExpr(
            "bkt AS bucket",
            "n_terms",
            "raw_bytes",
            "front_bytes",
            "round(CAST(front_bytes AS DOUBLE) / raw_bytes, 9) AS ratio",
        )
    )


def doc_keywords(postings: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, token, tf_idf, rk) — each document's top-k terms by
    tf·idf (rk 1-based): the classic related-tags / document-summary
    surface straight off the posting table (IIR ch.6's "vector-space
    document description"). One window partitioned by doc_id — bounded
    by a doc's vocabulary, no global ordering."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf_idf").desc(), F.col("token").asc()
    )
    return (
        postings.select("doc_id", "token", "tf_idf")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
