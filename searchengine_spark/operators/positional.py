"""Positional index: phrase queries and bigram collocation mining.

The reference's index is position-free (index_construction.py postings
carry only tf·idf), so its boolean retrieval cannot answer phrase
queries. This module adds the classic positional-postings layer on the
same normative tokenizer (F2):

  positional_postings : (doc_id, pos, token), pos = 0-based offset in
                        the FILTERED token sequence
  phrase_match        : exact-adjacency phrase occurrences
  collocations        : PMI-ranked adjacent bigrams (public pointwise
                        mutual information estimator)

Scale notes (100 TB):
* positional postings are ~1 row/token — the same cardinality the
  tf explode already pays; sink token-sorted like S4 and phrase scans
  prune by token IN (...) pushdown.
* phrase_match is the textbook adjusted-offset trick: an occurrence of
  phrase term i at position p proposes a phrase START at p - i; a start
  where all |phrase| distinct i's agree is a match. That is k pruned
  scans unioned + ONE groupBy(doc_id, start) — no k-way self-join, no
  window over the whole index, cost O(Σ postings of the query terms).
* collocations build bigrams from the token array via slice+zip
  (no shuffle until the count), then two integer-exact aggregates;
  PMI = ln((c_ab·T·T)/(B·c_a·c_b)) is derived from exact longs in a
  fixed expression tree, so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from searchengine_spark.operators.tfidf import doc_tokens


def positional_postings(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, token) — posexplode of the normative token array.
    Empty docs drop on the null token after posexplode_outer, not on an
    n_terms filter, which Catalyst would push below the tokenizing
    Project and so run the tokenizer regex twice per row."""
    return (
        doc_tokens(documents, id_col, text_col)
        .select("doc_id", F.posexplode_outer("tokens").alias("pos", "token"))
        .filter(F.col("token").isNotNull())
    )


def phrase_match(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """(doc_id, n_occ) — docs containing the exact adjacent phrase, with
    occurrence counts. Repeated phrase terms are handled: term i only
    proposes starts for slot i, and a start must collect ALL slots."""
    terms = [t.lower() for t in phrase]
    if not terms:
        return postings.select("doc_id", F.lit(0).cast("long").alias("n_occ")).limit(0)
    parts = []
    for i, t in enumerate(terms):
        parts.append(
            postings.filter(F.col("token") == t).select(
                "doc_id",
                (F.col("pos") - F.lit(i)).alias("start"),
                F.lit(i).alias("slot"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    starts = (
        u.filter(F.col("start") >= 0)
        .groupBy("doc_id", "start")
        .agg(F.count_distinct("slot").alias("k"))
        .filter(F.col("k") == len(terms))
    )
    return starts.groupBy("doc_id").agg(F.count("*").alias("n_occ"))


def proximity_match(
    postings: DataFrame, term_a: str, term_b: str, window: int
) -> DataFrame:
    """(doc_id, min_dist, n_pairs) — docs where `term_a` and `term_b`
    occur within `window` token positions ("NEAR/W" proximity search).
    min_dist = the closest pair's |pos_a - pos_b|; n_pairs = how many
    occurrence pairs fall inside the window.

    Plan: two token-pruned positional scans joined per doc with the
    band predicate abs(pa - pb) <= window — per-doc cost is the product
    of the two terms' occurrence counts (bounded: these are single-term
    posting rows, already the retrieval unit), never a corpus scan.
    Integer-only arithmetic — the oracle matches exactly.
    """
    a = postings.filter(F.col("token") == term_a.lower()).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = postings.filter(F.col("token") == term_b.lower()).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    pairs = a.join(
        b,
        (a["doc_id"] == b["doc_b"])
        & (F.abs(F.col("pa") - F.col("pb")) <= window),
    )
    return pairs.groupBy("doc_id").agg(
        F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long").alias("min_dist"),
        F.count("*").alias("n_pairs"),
    )


def collocations(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """(a, b, n_ab, pmi) — adjacent-bigram pointwise mutual information.

    PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ) with P(ab) = c_ab/B over B
    bigram slots and P(x) = c_x/T over T token slots — the standard
    collocation estimator (Church & Hanks 1990). min_count filters the
    unstable low-frequency tail.

    Cost note: the bigram and unigram branches each re-derive the token
    arrays (two tokenize passes over the text). A deployment that has
    already materialized a tokens column (or the tf table, which yields
    c_x and T directly) feeds that in instead — the estimator only
    needs counts, not the raw text.
    """
    toks = doc_tokens(documents, id_col, text_col)
    bi = (
        toks.filter(F.col("n_terms") > 1)
        .select(
            F.explode(
                F.expr(
                    "arrays_zip(slice(tokens, 1, size(tokens) - 1),"
                    " slice(tokens, 2, size(tokens) - 1))"
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    )
    c_ab = bi.groupBy("a", "b").agg(F.count("*").alias("n_ab"))

    pos = toks.filter(F.col("n_terms") > 0).select(F.explode("tokens").alias("token"))
    c_x = pos.groupBy("token").agg(F.count("*").alias("n_x"))
    totals = pos.agg(F.count("*").alias("t")).crossJoin(
        bi.agg(F.count("*").alias("bcnt"))
    )

    # broadcast the (tiny) unigram dictionary twice; totals is one row
    joined = (
        c_ab.join(F.broadcast(c_x.withColumnRenamed("token", "a").withColumnRenamed("n_x", "n_a")), "a")
        .join(F.broadcast(c_x.withColumnRenamed("token", "b").withColumnRenamed("n_x", "n_b")), "b")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.col("t").cast("double") * F.col("t").cast("double"))
        / (F.col("bcnt").cast("double") * F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        joined.filter(F.col("n_ab") >= min_count)
        .select("a", "b", "n_ab", pmi.alias("pmi"))
    )


def textrank(
    documents: DataFrame,
    n_iters: int = 5,
    damping: float = 0.85,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(token, rank) — TextRank keyword scores (Mihalcea & Tarau 2004):
    weighted PageRank over the word co-occurrence graph, edges =
    adjacent token pairs (window 2), undirected with co-occurrence
    counts as weights.

    Composition, not new machinery: the bigram stream feeds
    linkrank.pagerank (weight-w edge ≡ w parallel unit edges), so the
    per-iteration plan is the same one edges⋈ranks join + groupBy
    partial agg the link graph uses. Tokens that never co-occur with a
    DIFFERENT token have no edges and are excluded (standard TextRank
    behavior — no co-occurrence evidence, no score).
    """
    from searchengine_spark.operators.linkrank import pagerank

    toks = doc_tokens(documents, id_col, text_col)
    bi = (
        toks.filter(F.col("n_terms") > 1)
        .select(
            F.explode(
                F.expr(
                    "arrays_zip(slice(tokens, 1, size(tokens) - 1),"
                    " slice(tokens, 2, size(tokens) - 1))"
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = (
        bi.select(
            F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("w"))
    )
    edges = und.select(
        F.col("x").alias("src"), F.col("y").alias("dst"), "w"
    ).unionByName(
        und.select(F.col("y").alias("src"), F.col("x").alias("dst"), "w")
    )
    return pagerank(
        edges, n_iters=n_iters, damping=damping, weight_col="w"
    ).withColumnRenamed("id", "token")


def snippets(
    documents: DataFrame,
    terms: list[str],
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, first_pos, snippet) — a result-page snippet: the
    2·window+1-token context around the FIRST occurrence of any query
    term (clamped at document edges), space-joined.

    Cost: the positional scan prunes to the query tokens (one
    token-IN filter + a min() agg), then ONE join back to the token
    arrays; the document text itself is never shipped to the driver.
    """
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    toks = doc_tokens(documents, id_col, text_col)
    pp = toks.select(
        "doc_id", F.posexplode_outer("tokens").alias("pos", "token")
    ).filter(F.col("token").isNotNull())
    firsts = (
        pp.filter(F.col("token").isin(uniq))
        .groupBy("doc_id")
        .agg(F.min("pos").cast("long").alias("first_pos"))
    )
    start = F.greatest(F.lit(1), F.col("first_pos") + F.lit(1) - F.lit(window))
    # firsts is |matching docs| rows — broadcast it so the token arrays
    # stream through the join unshuffled
    return toks.join(F.broadcast(firsts), "doc_id").select(
        "doc_id",
        "first_pos",
        F.array_join(
            F.slice(F.col("tokens"), start, F.lit(2 * window + 1)), " "
        ).alias("snippet"),
    )


def complete(
    vocab: DataFrame, prefix: str, k: int = 5
) -> DataFrame:
    """Query autocomplete: top-k dictionary tokens with the given
    prefix, ranked (df DESC, token ASC). `vocab` is the (token, df)
    dictionary (A2 output). The prefix filter is the same [p, p̄)
    range as prefix_search — min/max prunable on a token-sorted
    dictionary sink."""
    p = prefix.lower()
    if not p:
        raise ValueError("complete() needs a non-empty prefix")
    upper = p[:-1] + chr(ord(p[-1]) + 1)
    return (
        vocab.filter((F.col("token") >= p) & (F.col("token") < upper))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(k)
        .select("token", "df")
    )


def suggest(
    vocab: DataFrame, term: str, max_dist: int = 2, k: int = 5
) -> DataFrame:
    """Spell-correction candidates: vocabulary tokens within edit
    distance max_dist of `term`, ranked (distance ASC, df DESC, token
    ASC), top k. `vocab` is the (token, df) dictionary (A2 output).

    Scale: one scan of the dictionary (orders of magnitude smaller than
    the corpus); the length pre-filter is a no-op on results but prunes
    the levenshtein evaluation to the plausible band.
    """
    t = term.lower()
    cand = vocab.filter(
        (F.abs(F.length("token") - F.lit(len(t))) <= max_dist)
        & (F.col("token") != t)
    ).select(
        "token",
        "df",
        F.levenshtein(F.col("token"), F.lit(t)).cast("long").alias("dist"),
    )
    return (
        cand.filter(F.col("dist") <= max_dist)
        .orderBy(F.col("dist").asc(), F.col("df").desc(), F.col("token").asc())
        .limit(k)
    )


def _delete_variants(c, max_dist: int):
    """array<string> of every string reachable from `c` by deleting up
    to `max_dist` (1 or 2) characters, including `c` itself. Pure
    higher-order Column functions (transform/sequence/flatten) — no
    Python UDF, stays in whole-stage codegen. Guarded so the empty
    string yields no bogus descending sequence(1,0) range."""
    if max_dist not in (1, 2):
        raise ValueError("_delete_variants supports max_dist 1 or 2")
    empty = F.array().cast("array<string>")

    def _del_each(s):
        # every single-char deletion of s (1-based positions)
        return F.when(
            F.length(s) > 0,
            F.transform(
                F.sequence(F.lit(1), F.length(s)),
                lambda i: F.concat(
                    F.substr(s, F.lit(1), i - F.lit(1)),
                    F.substr(s, i + F.lit(1), F.length(s)),
                ),
            ),
        ).otherwise(empty)

    v1 = _del_each(c)
    out = F.array_union(F.array(c), v1)
    if max_dist >= 2:
        out = F.array_union(out, F.flatten(F.transform(v1, _del_each)))
    return out


def spell_correct_batch(
    vocab: DataFrame,
    terms: DataFrame,
    max_dist: int = 2,
    k: int = 3,
    max_len: int = 24,
) -> DataFrame:
    """Batch spell correction over a SymSpell-style delete-variant
    index: for EVERY row of `terms` (column `term`), the top-k
    dictionary tokens within edit distance `max_dist`, ranked
    (dist ASC, df DESC, token ASC). Output (term, token, df, dist).

    This is the scale path next to the single-term `suggest` (which
    scans the length-banded dictionary once per term — fine for a REPL,
    wrong for correcting millions of distinct query-log terms). Here
    both sides explode into their ≤max_dist-deletion variants and meet
    in ONE equi-join on the variant string: two strings within
    Levenshtein distance d always share a common variant (delete the
    characters touched by the edits on each side — ≤d deletions each),
    so the join proposes a strict superset of the true matches and the
    exact levenshtein post-filter keeps semantics identical to a brute
    scan. No cross join anywhere in the plan.

    Scale notes (100 TB):
    * the vocab variant index is ~(1 + L + L²/2) rows per dictionary
      token — the classic SymSpell space-for-time trade. `max_len`
      bounds it (longer tokens are not plausible correction targets;
      the parameter is part of the operator contract and the oracle
      applies the same cap). In production the exploded index is the
      reusable artifact: build once, sink bucketed BY variant, and
      every correction batch is a bucket-local join.
    * per-term top-k is one window over the candidate set (bounded by
      shared-variant pairs, not |terms| × |vocab|).
    """
    from pyspark.sql import Window

    vi = (
        vocab.filter(F.length("token") <= max_len)
        .select(
            "token",
            "df",
            F.explode(_delete_variants(F.col("token"), max_dist)).alias(
                "variant"
            ),
        )
    )
    qi = (
        terms.select(F.lower(F.col("term")).alias("term"))
        .distinct()
        .select(
            "term",
            F.explode(_delete_variants(F.col("term"), max_dist)).alias(
                "variant"
            ),
        )
    )
    cand = (
        qi.join(vi, "variant")
        .select("term", "token", "df")
        .distinct()
        .filter(F.col("token") != F.col("term"))
    )
    scored = cand.select(
        "term",
        "token",
        "df",
        F.levenshtein("token", "term").cast("long").alias("dist"),
    ).filter(F.col("dist") <= max_dist)
    w = Window.partitionBy("term").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def best_passage(
    postings: DataFrame,
    terms: list[str],
    window: int = 16,
) -> DataFrame:
    """(doc_id, start_pos, n_terms) — passage retrieval: per matching
    document, the `window`-token span covering the MOST DISTINCT query
    terms (ties → earliest start). The real snippet selector — the
    existing `snippets` op shows context around the FIRST hit; ranking
    UIs want the densest window (IIR ch. 8 passage scoring).

    Plan: the positional scan prunes to the query terms (token-IN
    pushdown), then ONE groupBy(doc_id) collects the per-doc hit
    positions — bounded by that doc's query-term occurrences, not doc
    length — and the window scan is per-row array arithmetic: candidate
    starts are exactly the hit positions (an optimal window can always
    shift right until its left edge IS a hit), n per start counts
    distinct covered tokens, the argmax folds (max n, min start). No
    second shuffle, nothing quadratic in doc length."""
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    if not uniq:
        return postings.select(
            "doc_id",
            F.lit(0).alias("start_pos"),
            F.lit(0).alias("n_terms"),
        ).limit(0)
    occ = postings.filter(F.col("token").isin(uniq))
    per_doc = occ.groupBy("doc_id").agg(
        F.expr("sort_array(collect_list(struct(pos, token)))").alias("ps")
    )
    wins = (
        "transform(ps, s -> named_struct("
        "'n', size(array_distinct(transform("
        f"filter(ps, q -> q.pos >= s.pos AND q.pos < s.pos + {window}), "
        "q -> q.token))), "
        "'start', s.pos))"
    )
    return per_doc.selectExpr("doc_id", f"{wins} AS wins").selectExpr(
        "doc_id",
        "array_max(transform(wins, w -> w.n)) AS best_n",
        "wins",
    ).selectExpr(
        "doc_id",
        "CAST(array_min(transform(filter(wins, w -> w.n = best_n), "
        "w -> w.start)) AS INT) AS start_pos",
        "CAST(best_n AS INT) AS n_terms",
    )


# ---- RAKE keyword phrases ----------------------------------------------


def rake_keywords(
    documents: DataFrame,
    k: int = 3,
    max_phrase: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, phrase, score) — top-k RAKE keyword phrases per doc
    (Rose, Engel, Cramer & Cowley 2010 "Rapid Automatic Keyword
    Extraction"): candidate phrases are maximal stopword-delimited
    token runs (≤ max_phrase words), word score = degree/frequency
    over phrase co-occurrence, phrase score = Σ member word scores.
    The phrase-level sibling of textrank (graph walk) — RAKE is the
    degenerate one-pass statistic every tag-generation pipeline starts
    from.

    Stopword boundaries come from textstats.STOPWORDS['en'] (the
    repo's fixed heuristic list; the tokenizer already removed
    punctuation boundaries).

    Determinism: freq/degree are exact ints; word score is one
    division; the phrase score folds member ratios in position order —
    bit-reproducible, hash-oracled.

    Scale shape (100 TB): phrase segmentation is ONE per-doc window
    (running stopword count, partitioned by doc_id — bounded by doc
    length, never corpus-wide); both stats aggregates and the top-k
    window key on doc_id-prefixed keys, so no hot keys and no global
    ordering anywhere.
    """
    from searchengine_spark.operators.textstats import STOPWORDS
    from pyspark.sql import Window

    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    tp = (
        doc_tokens(documents, id_col, text_col)
        .select("doc_id", F.posexplode_outer("tokens").alias("pos", "token"))
        .filter(F.col("token").isNotNull())
        .withColumn("is_stop", F.expr(f"token IN ({stops})"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    seg = (
        tp.withColumn("grp", F.sum(F.col("is_stop").cast("int")).over(w))
        .filter(~F.col("is_stop"))
        .select("doc_id", "grp", "pos", "token")
    )
    plen = seg.groupBy("doc_id", "grp").agg(F.count("*").alias("plen"))
    member = seg.join(plen, ["doc_id", "grp"]).filter(
        F.col("plen") <= max_phrase
    )
    wstat = member.groupBy("doc_id", "token").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("degree")
    )
    scored = member.join(wstat, ["doc_id", "token"]).select(
        "doc_id",
        "grp",
        "pos",
        "token",
        (F.col("degree").cast("double") / F.col("freq")).alias("ratio"),
    )
    phrases = scored.groupBy("doc_id", "grp").agg(
        F.expr("array_join(transform(sort_array(collect_list("
               "struct(pos, token))), s -> s.token), ' ')").alias("phrase"),
        F.expr(
            "aggregate(sort_array(collect_list(struct(pos, ratio AS v))), "
            "0.0D, (a, s) -> a + s.v)"
        ).alias("score"),
    )
    uniq = phrases.select("doc_id", "phrase", "score").distinct()
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase").asc()
    )
    return (
        uniq.withColumn("_r", F.row_number().over(rk))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def window_pmi(
    documents: DataFrame,
    w: int = 5,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(a, b, n_ab, pmi) — ±w-window co-occurrence PMI: collocations()
    widened from adjacent bigrams to ordered pairs within w positions
    (a precedes b) — the word-association estimator distributional
    thesauri and query-expansion tables are built from (Church & Hanks
    1990, window form). Same formula family as collocations:

      PMI = ln( (n_ab · T²) / (P · n_a · n_b) )

    with P the number of window pair slots and T the token count —
    exact integer counts into one fixed double expression.

    Scale shape: the pair stream is a doc_id equi-join of the
    positional postings with an in-partition band filter
    (1 ≤ pos_b − pos_a ≤ w) — fan-out n_tokens·w per doc, never
    corpus-quadratic; counts are map-side-combined aggregates; the
    unigram dictionary broadcasts twice (the collocations plan,
    window edition)."""
    pp = positional_postings(documents, id_col, text_col)
    a = pp.select("doc_id", F.col("pos").alias("pa"),
                  F.col("token").alias("a"))
    b = pp.select("doc_id", F.col("pos").alias("pb"),
                  F.col("token").alias("b"))
    pairs = a.join(b, "doc_id").filter(
        (F.col("pb") - F.col("pa") >= 1) & (F.col("pb") - F.col("pa") <= w)
    )
    c_ab = pairs.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    c_x = pp.groupBy("token").agg(F.count("*").alias("n_x"))
    totals = pp.agg(F.count("*").alias("t")).crossJoin(
        pairs.agg(F.count("*").alias("pcnt"))
    )
    joined = (
        c_ab.join(
            F.broadcast(
                c_x.select(F.col("token").alias("a"),
                           F.col("n_x").alias("n_a"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                c_x.select(F.col("token").alias("b"),
                           F.col("n_x").alias("n_b"))
            ),
            "b",
        )
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.col("t").cast("double")
         * F.col("t").cast("double"))
        / (F.col("pcnt").cast("double") * F.col("n_a").cast("double")
           * F.col("n_b").cast("double"))
    )
    return (
        joined.filter(F.col("n_ab") >= min_count)
        .select("a", "b", "n_ab", pmi.alias("pmi"))
    )


def pmi_expand(
    documents: DataFrame,
    terms: list[str],
    m: int = 5,
    w: int = 5,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(term, assoc, n_ab, pmi) — the top-m windowed-PMI associations
    of each query term: the distributional-thesaurus expansion surface
    (pre-neural query expansion ran on exactly this table; Rocchio
    expands from feedback DOCS, this expands from corpus-wide word
    statistics — complementary recall sources).

    Association is direction-collapsed: (a,b) and (b,a) windowed pairs
    both count toward the (term, other) association, with the pair
    counts summed BEFORE the PMI (exact ints; n_ab = n_fwd + n_rev).
    Cost: the window_pmi pair stream filtered to rows touching a query
    term — the broadcast-able slice, never the full association table;
    one per-term top-m window over ≤ vocabulary rows."""
    from pyspark.sql import Window

    from searchengine_spark.functions.text import tokens_sql

    uniq = list(dict.fromkeys(t.lower() for t in terms))
    if not uniq:
        return documents.sparkSession.createDataFrame(
            [], "term string, assoc string, n_ab long, pmi double"
        )
    pairs = window_pmi(documents, w=w, min_count=1,
                       id_col=id_col, text_col=text_col)
    fwd = pairs.filter(F.col("a").isin(uniq)).select(
        F.col("a").alias("term"), F.col("b").alias("assoc"), "n_ab"
    )
    rev = pairs.filter(F.col("b").isin(uniq)).select(
        F.col("b").alias("term"), F.col("a").alias("assoc"), "n_ab"
    )
    both = (
        fwd.unionByName(rev)
        .filter(~F.col("assoc").isin(uniq))
        .groupBy("term", "assoc")
        .agg(F.sum("n_ab").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    # recompute PMI on the summed counts with the same corpus totals
    toks = documents.selectExpr(f"explode({tokens_sql(text_col)}) AS t")
    t_cnt = toks.count()
    c_x = toks.groupBy("t").agg(F.count("*").alias("n_x"))
    p_cnt = int(
        pairs.agg(F.sum("n_ab").alias("p")).collect()[0]["p"] or 0
    )
    j = (
        both.join(
            F.broadcast(c_x.select(F.col("t").alias("term"),
                                   F.col("n_x").alias("n_t"))), "term"
        )
        .join(
            F.broadcast(c_x.select(F.col("t").alias("assoc"),
                                   F.col("n_x").alias("n_a"))), "assoc"
        )
    )
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.lit(float(t_cnt))
         * F.lit(float(t_cnt)))
        / (F.lit(float(2 * p_cnt)) * F.col("n_t").cast("double")
           * F.col("n_a").cast("double"))
    )
    wn = Window.partitionBy("term").orderBy(
        F.col("pmi").desc(), F.col("assoc").asc()
    )
    return (
        j.select("term", "assoc", "n_ab", pmi.alias("pmi"))
        .withColumn("_r", F.row_number().over(wn))
        .filter(F.col("_r") <= m)
        .drop("_r")
    )


def sdm_search(
    documents: DataFrame,
    terms: list[str],
    k: int = 10,
    mu: float = 2000.0,
    lambdas: tuple[float, float, float] = (0.85, 0.1, 0.05),
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k docs by the Sequential Dependence Model (Metzler & Croft,
    SIGIR 2005) — the standard term-dependence upgrade over bag-of-words
    LM ranking, weighting three Dirichlet-smoothed feature classes:

      score = λT Σ_q  f(tf_q)        unigrams
            + λO Σ_adj f(tf_#1)      ordered adjacent pair occurrences
            + λU Σ_adj f(tf_#uwN)    pair co-occurrences within N slots
      f(x)  = ln((x + μ·cf/|C|) / (dl + μ))

    with the canonical (0.85, 0.1, 0.05) weights. The phrase/proximity
    evidence is what separates "new york" the city from scattered
    mentions — the model BM25-family rankers can't express without
    positions.

    Scale shape: everything derives from token-pruned POSITIONAL scans
    (only the query terms' position rows ever ship): unigram tf by the
    qlm pivot (ONE groupBy(doc_id)), each adjacent pair's ordered
    count by the phrase_match equi-join (pb = pa+1), each unordered
    count by the proximity band join (|pa-pb| < N, per-doc cost = the
    occurrence product of two single terms). Collection stats are
    exact-long query constants; per-term logs add in fixed query
    order; zero-cf features are dropped (doc-independent -inf — the
    qlm_search guard). Candidates = docs matching ≥ 1 unigram.
    """
    uniq = list(dict.fromkeys(t.lower() for t in terms))
    lt, lo, lu = (float(x) for x in lambdas)
    spark = documents.sparkSession
    if not uniq:
        return spark.createDataFrame([], "doc_id long, score double")
    # eager localCheckpoints, not persist: the returned DataFrame
    # references pp/qp lazily after this function exits, so an
    # unpersist here would force recompute and a bare persist
    # leaks executor storage across a 200-query sweep; checkpoint
    # blocks are ContextCleaner-collected once the result is
    # dropped
    pp = positional_postings(documents, id_col, text_col).localCheckpoint(eager=True)
    dl = pp.groupBy("doc_id").agg(F.count("*").alias("dl"))
    total = dl.agg(F.sum("dl")).collect()[0][0]
    total = int(total or 0)
    if total == 0:
        return spark.createDataFrame([], "doc_id long, score double")
    qp = pp.filter(F.col("token").isin(uniq)).localCheckpoint(eager=True)
    cf = {
        r["token"]: int(r["c"])
        for r in qp.groupBy("token").agg(F.count("*").alias("c")).collect()
    }
    per_term = [
        F.coalesce(
            F.sum(F.when(F.col("token") == t, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0),
        ).alias(f"f{i}")
        for i, t in enumerate(uniq)
    ]
    piv = qp.groupBy("doc_id").agg(*per_term).join(dl, "doc_id")
    pairs = list(zip(uniq, uniq[1:]))
    base = piv
    cfo: list[int] = []
    cfu: list[int] = []
    for i, (a, b) in enumerate(pairs):
        pa = qp.filter(F.col("token") == a).select(
            "doc_id", F.col("pos").alias("pa")
        )
        pb = qp.filter(F.col("token") == b).select(
            F.col("doc_id").alias("db"), F.col("pos").alias("pb")
        )
        od = (
            pa.join(
                pb,
                (pa["doc_id"] == pb["db"])
                & (F.col("pb") == F.col("pa") + 1),
            )
            .groupBy("doc_id")
            .agg(F.count("*").alias(f"o{i}"))
        )
        uw = (
            pa.join(
                pb,
                (pa["doc_id"] == pb["db"])
                & (F.abs(F.col("pa") - F.col("pb")) < window),
            )
            .groupBy("doc_id")
            .agg(F.count("*").alias(f"u{i}"))
        )
        cfo.append(
            int(od.agg(F.sum(f"o{i}")).collect()[0][0] or 0)
        )
        cfu.append(
            int(uw.agg(F.sum(f"u{i}")).collect()[0][0] or 0)
        )
        base = base.join(od, "doc_id", "left").join(uw, "doc_id", "left")
    dcol = F.col("dl").cast("double")

    def feat(count_col: F.Column, cf_x: int) -> F.Column:
        prior = (mu * cf_x) / total  # python double == SQL double
        return F.log(
            (count_col.cast("double") + F.lit(prior)) / (dcol + F.lit(mu))
        )

    st = None
    for i, t in enumerate(uniq):
        if cf.get(t, 0) == 0:
            continue
        term = feat(F.col(f"f{i}"), cf[t])
        st = term if st is None else st + term
    so = None
    su = None
    for i in range(len(pairs)):
        oc = F.coalesce(F.col(f"o{i}"), F.lit(0))
        uc = F.coalesce(F.col(f"u{i}"), F.lit(0))
        if cfo[i] > 0:
            term = feat(oc, cfo[i])
            so = term if so is None else so + term
        if cfu[i] > 0:
            term = feat(uc, cfu[i])
            su = term if su is None else su + term
    score = F.lit(lt) * (st if st is not None else F.lit(0.0))
    if so is not None:
        score = score + F.lit(lo) * so
    if su is not None:
        score = score + F.lit(lu) * su
    out = (
        base.select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    return out


def collocations_g2(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """(a, b, n_ab, g2) — adjacent-bigram log-likelihood-ratio
    collocations (Dunning 1993 — the paper's original application):
    the 2×2 contingency test over bigram slots,

      G² = 2 Σ_cells k·ln(k·B / (row·col)),   0·ln0 = 0

    with k11 = c(a,b) and marginals from the bigram table itself
    (R_a = c(a,·), C_b = c(·,b), B = total bigrams). Versus
    collocations' PMI: PMI over-ranks rare pairs (one co-occurrence of
    two hapaxes maxes it); G² is frequency-weighted evidence, which is
    why Dunning proposed it for exactly this job. min_count trims the
    output, not the statistics.

    Exactness: all eight cell/marginal inputs are int64 from ONE
    map-side-combined bigram agg + two marginal aggs OF that table
    (occurrence rows touched once); each ln argument is a fixed
    (k·B)/(row·col) double expression, summed cell order k11,k12,k21,
    k22 — bit-parity with the oracle.
    """
    toks = doc_tokens(documents, id_col, text_col)
    bi = (
        toks.filter(F.col("n_terms") > 1)
        .select(
            F.explode(
                F.expr(
                    "arrays_zip(slice(tokens, 1, size(tokens) - 1),"
                    " slice(tokens, 2, size(tokens) - 1))"
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    )
    # localCheckpoint for the same leak-free reuse as sdm_search
    c_ab = (
        bi.groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .localCheckpoint(eager=True)
    )
    ra = c_ab.groupBy("a").agg(F.sum("n_ab").alias("r_a"))
    cb = c_ab.groupBy("b").agg(F.sum("n_ab").alias("c_b"))
    btot = int(
        c_ab.agg(F.sum("n_ab").alias("s")).collect()[0]["s"] or 0
    )
    cells = (
        c_ab.filter(F.col("n_ab") >= min_count)
        .join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .selectExpr(
            "a",
            "b",
            "n_ab",
            "n_ab AS k11",
            "r_a - n_ab AS k12",
            "c_b - n_ab AS k21",
            f"{btot}L - r_a - c_b + n_ab AS k22",
            "r_a",
            "c_b",
        )
    )
    B = f"CAST({btot} AS DOUBLE)"

    def term(k: str, row: str, col: str) -> str:
        return (
            f"(CASE WHEN {k} > 0 THEN CAST({k} AS DOUBLE) * "
            f"ln(CAST({k} AS DOUBLE) * {B} "
            f"/ (CAST({row} AS DOUBLE) * CAST({col} AS DOUBLE))) "
            f"ELSE 0.0D END)"
        )

    g2 = (
        "2.0D * ("
        + " + ".join(
            [
                term("k11", "r_a", "c_b"),
                term("k12", "r_a", f"({btot}L - c_b)"),
                term("k21", f"({btot}L - r_a)", "c_b"),
                term("k22", f"({btot}L - r_a)", f"({btot}L - c_b)"),
            ]
        )
        + ")"
    )
    return cells.selectExpr("a", "b", "n_ab", f"round({g2}, 9) AS g2")
