"""Boolean OR-of-ANDs (DNF) ranked retrieval over the postings DataFrame.

Reference semantics reproduced exactly (SURVEY.md §2 J1/J2/T2):
  * AND (retrieve_query.py:82-86, the *correct* multithreaded variant —
    the single-threaded one at :46-54 always returns [] and is a
    documented reference bug): seed with the FIRST term's postings,
    intersect on doc_id (Posting.__eq__/__hash__ are doc_id-only,
    index_construction.py:50-54) — so the surviving Posting, and hence
    the ranking score, is the FIRST term's tf_idf.
  * OR (retrieve_query.py:136-140): set.union keeps the element already
    present — first conjunct (in parse order) wins per doc_id.
  * Ranking (T2): sort by tf_idf ASCENDING — faithful quirk
    (retrieve_query.py:54,86,142: sorted(..., key=tf_idf), no reverse) —
    take MAX_LINKS_SHOWN=5 (retrieve_query.py:14,186-187). doc_id is the
    deterministic tie-break (the reference inherits arbitrary set order;
    we pin it).
  * Query parse (F11, retrieve_query.py:89-111): whitespace split, 'AND'
    skipped (implicit), 'OR' flushes the conjunct, terms lowercased.

Scale notes: every Boolean query (DNF, AND, AND-NOT) is ONE plan: one
`token IN (<all terms>)` scan (pushed to parquet/Iceberg min-max stats by
the token-sorted index layout), one groupBy(doc_id) pivoted to a
presence-and-score column per term, and a CASE WHEN picking the first
matching conjunct — one shuffle, no join, no window, whatever the query
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_LINKS_SHOWN = 5  # retrieve_query.py:14


def parse_query(query: str) -> list[list[str]]:
    """F11 — DNF list-of-conjuncts (retrieve_query.py:89-111)."""
    result: list[list[str]] = []
    cur: list[str] = []
    for w in query.split():
        if w == "AND":
            continue
        if w == "OR":
            result.append(cur)
            cur = []
        else:
            cur.append(w.lower())
    result.append(cur)
    return result


def _boolean(
    postings: DataFrame, conjuncts: list[list[str]], exclude: tuple[str, ...] = ()
) -> DataFrame:
    """Docs holding every term of some conjunct and no `exclude` term,
    scored by the first matching conjunct's first term. The pivot gives
    one column p<i> per distinct term: the max of struct(tf_idf) over the
    doc's rows for that term, so it is null exactly when the
    (doc_id, token) row is absent, whatever its tf_idf. A struct, not
    the bare double, also keeps the pivot one aggregate: Spark splits an
    atomic-typed pivot into two (a second shuffle). The CASE WHEN chain
    is built from the generated names only, never from terms."""
    conj = [list(dict.fromkeys(c)) for c in conjuncts if c]
    if not conj:
        return postings.select("doc_id", "tf_idf").limit(0)
    terms = list(dict.fromkeys([t for c in conj for t in c] + list(exclude)))
    p = {t: f"p{i}" for i, t in enumerate(terms)}
    hit = [" AND ".join(f"{p[t]} IS NOT NULL" for t in c) for c in conj]
    keep = " OR ".join(f"({h})" for h in hit)
    keep = f"({keep})" + "".join(f" AND {p[t]} IS NULL" for t in exclude)
    score = " ".join(f"WHEN {h} THEN {p[c[0]]}.tf_idf" for h, c in zip(hit, conj))
    return (
        postings.filter(F.col("token").isin(terms) & F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .pivot("token", terms)
        .agg(F.max(F.struct("tf_idf")))
        .toDF("doc_id", *p.values())
        .filter(keep)
        .selectExpr("doc_id", f"CASE {score} END AS tf_idf")
    )


def and_query(postings: DataFrame, terms: list[str]) -> DataFrame:
    """J1 — docs containing ALL terms; score = first term's tf_idf."""
    return _boolean(postings, [terms])


def dnf_query(postings: DataFrame, conjuncts: list[list[str]]) -> DataFrame:
    """J2 — OR across conjuncts; first conjunct (parse order) wins on
    collision (set.union first-seen semantics, retrieve_query.py:138-140)."""
    return _boolean(postings, conjuncts)


def not_query(
    postings: DataFrame, terms: list[str], exclude: list[str]
) -> DataFrame:
    """Boolean AND-NOT (IIR ch. 1 `x AND NOT y`, absent from the
    reference's OR-of-ANDs grammar — rebuild-only): docs containing ALL
    `terms` and NONE of `exclude`; score = first term's tf_idf
    (and_query J1 semantics). The exclusion terms ride in the same
    token-IN scan as presence columns that must be null — no anti-join."""
    return _boolean(postings, [terms], tuple(t.lower() for t in exclude))


def rank_topk(results: DataFrame, k: int = MAX_LINKS_SHOWN) -> DataFrame:
    """T2 — tf_idf ASC (faithful quirk), doc_id tie-break, top k."""
    return results.orderBy(F.col("tf_idf").asc(), F.col("doc_id").asc()).limit(k)


def search(postings: DataFrame, query: str, k: int = MAX_LINKS_SHOWN) -> DataFrame:
    return rank_topk(dnf_query(postings, parse_query(query)), k)


def _prefix_upper(prefix: str) -> str:
    """Smallest string greater than every string with this prefix —
    the right bound of the token range scan (last char + 1)."""
    return prefix[:-1] + chr(ord(prefix[-1]) + 1)


def prefix_search(postings: DataFrame, prefix: str, k: int = 10) -> DataFrame:
    """Wildcard query `prefix*`: top-k docs by the summed tf_idf of
    their tokens matching the prefix.

    The vocabulary filter is a RANGE predicate (token >= p AND
    token < p̄) — on the token-sorted index layout (S4/T4) it pushes to
    parquet min/max stats, so only the matching token range is read;
    a LIKE would scan the dictionary. The per-doc sum folds in
    token-sorted order (deterministic float addition, oracle
    bit-parity).
    """
    p = prefix.lower()
    if not p:
        raise ValueError("prefix_search() needs a non-empty prefix")
    hits = postings.filter(
        (F.col("token") >= p) & (F.col("token") < _prefix_upper(p))
    )
    fold = "aggregate(sort_array(lst), 0.0D, (acc, s) -> acc + s.p)"
    return (
        hits.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("token").alias("t"), F.col("tf_idf").alias("p")
                )
            ).alias("lst")
        )
        .select("doc_id", F.expr(fold).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def facet_counts(
    postings: DataFrame,
    documents: DataFrame,
    conjuncts: list[list[str]],
    facet_cols: list[str] = ("lang", "source"),
    id_col: str = "doc_id",
) -> DataFrame:
    """(facet, value, n_docs) — faceted result counts: for each facet
    column, how many documents MATCHING the DNF query carry each value
    (the "narrow your search" sidebar every search UI renders next to
    the result list).

    Scale shape: the match set is dnf_query's one-pass plan; facet
    attributes LEFT-SEMI join to it (membership, not multiplicity,
    counts; at web scale the match set is the small side). Each matched
    row explodes to |facet_cols| (facet, value) pairs and ONE
    map-side-combinable count aggregate produces every facet's
    histogram — the match set is evaluated once, not once per facet,
    with no cache/persist. Counts are exact ints."""
    matched = dnf_query(postings, conjuncts).select(id_col)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("facet"),
                    F.col(c).cast("string").alias("value"),
                )
                for c in facet_cols
            ]
        )
    )
    return (
        documents.join(matched, id_col, "left_semi")
        .select(pairs.alias("fv"))
        .groupBy(F.col("fv.facet").alias("facet"), F.col("fv.value").alias("value"))
        .agg(F.count("*").alias("n_docs"))
    )


def suffix_search(postings: DataFrame, suffix: str, k: int = 10) -> DataFrame:
    """Wildcard query `*suffix`: top-k docs by the summed tf_idf of
    their tokens ENDING with ``suffix`` — the reverse-dictionary trick
    (a special case of the permuterm index, Garfield 1976 / standard IR
    textbook treatment): index reverse(token), and a trailing wildcard
    becomes a LEADING-prefix range on the reversed form.

    Scale shape: the vocabulary filter is a RANGE predicate on
    reverse(token) — written to a reversed-token-sorted index layout
    (the S4 sink sorted by the rtoken column instead), it pushes to
    parquet min/max stats exactly like prefix_search's; expressed over
    the forward layout it is one projection + filter, never a LIKE
    '%…' dictionary scan per candidate document. The per-doc sum folds
    in token-sorted order (deterministic float addition, oracle
    bit-parity).
    """
    s = suffix.lower()
    if not s:
        raise ValueError("suffix_search() needs a non-empty suffix")
    rp = s[::-1]
    hits = postings.withColumn("rtoken", F.reverse(F.col("token"))).filter(
        (F.col("rtoken") >= rp) & (F.col("rtoken") < _prefix_upper(rp))
    )
    fold = "aggregate(sort_array(lst), 0.0D, (acc, s) -> acc + s.p)"
    return (
        hits.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("token").alias("t"), F.col("tf_idf").alias("p")
                )
            ).alias("lst")
        )
        .select("doc_id", F.expr(fold).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
