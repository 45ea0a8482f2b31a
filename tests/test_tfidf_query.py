"""A1-A7 + J1/J2/T2 against hand-computed values and the reference's own
mini inverted index (retrieve_query.py:23-32, FIXTURES.md §6)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from searchengine_spark.operators.query import (
    and_query,
    dnf_query,
    not_query,
    parse_query,
    rank_topk,
    search,
)
from searchengine_spark.operators.tfidf import (
    build_postings,
    doc_frequencies,
    doc_tokens,
    index_analytics,
    postings_from_tf,
    term_frequencies,
    update_tf,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat"),
    (2, "cat dog cat"),
    (3, "...!!!"),  # tokenizes to nothing → dropped (P3)
]


@pytest.fixture(scope="module")
def postings(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    return build_postings(df).cache()


def test_tf_hand_computed(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    tf = {
        (r["doc_id"], r["token"]): r["tf"]
        for r in term_frequencies(doc_tokens(df)).collect()
    }
    assert tf[(0, "the")] == pytest.approx(2 / 6)
    assert tf[(0, "cat")] == pytest.approx(1 / 6)
    assert tf[(1, "sat")] == pytest.approx(1 / 3)
    assert tf[(2, "cat")] == pytest.approx(2 / 3)
    assert (3, "") not in tf


def test_df_idf_tfidf(postings):
    rows = {(r["doc_id"], r["token"]): r for r in postings.collect()}
    n_docs = 3  # doc 3 dropped
    # 'cat' appears in docs 0 and 2 → df=2
    assert rows[(0, "cat")]["idf"] == pytest.approx(math.log(n_docs / 2))
    # 'mat' only doc 0
    assert rows[(0, "mat")]["idf"] == pytest.approx(math.log(n_docs / 1))
    r = rows[(2, "cat")]
    assert r["tf_idf"] == pytest.approx((2 / 3) * math.log(3 / 2))
    # A7 analytics
    [a] = index_analytics(postings).collect()
    assert a["n_docs"] == 3
    assert a["n_tokens"] == 6  # the cat sat on mat dog


def test_parse_query():
    # F11 semantics (retrieve_query.py:89-111)
    assert parse_query("cat AND dog") == [["cat", "dog"]]
    assert parse_query("cat dog") == [["cat", "dog"]]
    assert parse_query("cat OR dog") == [["cat"], ["dog"]]
    assert parse_query("Big Cat OR dog AND run") == [["big", "cat"], ["dog", "run"]]


def test_and_query_first_term_score(postings):
    # docs with both cat and sat: only doc 0; score = tf_idf of 'cat' in doc 0
    got = {r["doc_id"]: r["tf_idf"] for r in and_query(postings, ["cat", "sat"]).collect()}
    assert set(got) == {0}
    assert got[0] == pytest.approx((1 / 6) * math.log(3 / 2))
    # reversed term order → same doc, score from 'sat'
    got2 = {r["doc_id"]: r["tf_idf"] for r in and_query(postings, ["sat", "cat"]).collect()}
    assert got2[0] == pytest.approx((1 / 6) * math.log(3 / 2))


def test_or_first_conjunct_wins(postings):
    # 'cat' matches docs 0,2 ; 'dog' matches 1,2 — doc 2 takes conjunct-0 score
    res = {r["doc_id"]: r["tf_idf"] for r in dnf_query(postings, [["cat"], ["dog"]]).collect()}
    assert set(res) == {0, 1, 2}
    assert res[2] == pytest.approx((2 / 3) * math.log(3 / 2))  # cat's score


def test_rank_ascending_quirk(postings):
    ranked = rank_topk(dnf_query(postings, [["cat"], ["dog"], ["the"]]), 5).collect()
    scores = [r["tf_idf"] for r in ranked]
    assert scores == sorted(scores)  # ascending (faithful T2 quirk)


def test_reference_mini_index(spark):
    # retrieve_query.py:23-32 fixture: tf_idf=3 everywhere
    mini = [
        ("hello", d, 2.0, 3.0) for d in (2, 3, 4, 1, 5)
    ] + [
        ("run", 2, 2.0, 3.0),
        ("walk", 3, 2.0, 3.0),
        ("live", 4, 2.0, 3.0),
        ("exist", 5, 2.0, 3.0),
        ("believe", 5, 2.0, 3.0),
        ("goodbye", 6, 2.0, 3.0),
    ]
    p = spark.createDataFrame(
        [Row(token=t, doc_id=d, tf=tf, tf_idf=ti) for t, d, tf, ti in mini]
    )
    assert {r["doc_id"] for r in and_query(p, ["hello", "run"]).collect()} == {2}
    assert {r["doc_id"] for r in and_query(p, ["exist", "believe"]).collect()} == {5}
    assert and_query(p, ["hello", "goodbye"]).count() == 0
    got = {r["doc_id"] for r in search(p, "hello AND run OR goodbye", 5).collect()}
    assert got == {2, 6}
    # MAX_LINKS_SHOWN=5 cap
    assert search(p, "hello", 5).count() == 5


def _posting_rows(df):
    return {
        (r["doc_id"], r["token"]): (
            round(r["tf"], 12), round(r["idf"], 12), round(r["tf_idf"], 12)
        )
        for r in df.collect()
    }


def test_update_tf_converges_to_rebuild(spark):
    """Incremental maintenance ≡ batch rebuild: index stale versions,
    apply new text as the delta, compare postings to a from-scratch
    build of the final corpus. Covers modify + add + delete."""
    old = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the dog sat"), (2, "old stale words")],
        ["doc_id", "text"],
    )
    # doc 0 changes, doc 2 is deleted (empty text), doc 3 is new
    changed = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (2, ""), (3, "cat dog cat")],
        ["doc_id", "text"],
    )
    final = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat"), (3, "cat dog cat")],
        ["doc_id", "text"],
    )
    tf_next = update_tf(term_frequencies(doc_tokens(old)), changed)
    got = _posting_rows(postings_from_tf(tf_next))
    want = _posting_rows(build_postings(final))
    assert got == want
    assert not any(d == 2 for d, _ in got)  # deletion really deletes


EDGE_DOCS = [
    (1, "a b a"),  # repeated token
    (2, ""),
    (3, None),
    (4, "b c"),
    (5, "'''"),  # apostrophes only: no token
    (6, "x" * 10001),  # its only token is over the 10,000-char bound
    (7, "B b, d'x b"),
]  # "b" is in every token-bearing doc: idf 0


def _oracle_postings(docs):
    import duckdb
    import pandas as pd

    import __spark_entry__ as E

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    rows = con.execute(E.oracle_sql()["postings"]).fetchall()
    con.close()
    return {(d, t): (tf, idf, s) for d, t, tf, idf, s in rows}


def _rounded_postings(df):
    return {
        (r["doc_id"], r["token"]): (r["tf"], r["idf"], r["tf_idf"])
        for r in df.select(
            "doc_id", "token",
            *[F.round(c, 9).alias(c) for c in ("tf", "idf", "tf_idf")],
        ).collect()
    }


def test_postings_edge_cases_match_oracle(spark):
    """Token-less docs (null, empty, apostrophes only, one over-long
    token) get no postings and do not count in N; both write paths agree
    with the DuckDB postings oracle."""
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(EDGE_DOCS, schema)
    want = _oracle_postings(EDGE_DOCS)
    assert {d for d, _ in want} == {1, 4, 7}

    got = _rounded_postings(build_postings(docs))
    assert got == want
    assert got[(4, "c")][1] == round(math.log(3), 9)  # N = 3
    b = {d: v for (d, t), v in got.items() if t == "b"}
    assert set(b) == {1, 4, 7}
    assert all(v[1] == 0.0 and v[2] == 0.0 for v in b.values())
    assert got[(7, "b")][0] == 0.75

    # a stale index of other texts, refreshed with every doc as changed
    stale = spark.createDataFrame(
        [(1, "q"), (2, "stale words"), (3, "b"), (8, "gone")], schema
    )
    tf = update_tf(
        term_frequencies(doc_tokens(stale)),
        docs.unionByName(spark.createDataFrame([(8, None)], schema)),
    )
    assert _rounded_postings(postings_from_tf(tf)) == want


def test_postings_size_estimate(spark):
    from searchengine_spark.operators import tfidf as TF

    p = spark.createDataFrame(
        [(0, "t"), (5, "t"), (200, "t"), (100000, "u"), (16384, "v"), (16383+16384, "v")],
        "doc_id long, token string",
    )
    out = {r["token"]: r for r in TF.postings_size_estimate(p).collect()}
    # t: gaps [0, 5, 195] → widths [1, 1, 2] → 4 bytes vs 24 raw
    assert out["t"]["df"] == 3 and out["t"]["raw_bytes"] == 24
    assert out["t"]["varint_bytes"] == 4
    assert out["t"]["ratio"] == round(4 / 24, 9)
    # u: single absolute id 100000 (< 2^21) → 3 bytes
    assert out["u"]["varint_bytes"] == 3
    # v: gaps [16384, 16383] → widths [3, 2] — boundary cases both sides
    assert out["v"]["varint_bytes"] == 5


def test_facet_counts_golden(spark):
    from searchengine_spark.operators.query import facet_counts
    from searchengine_spark.operators.tfidf import build_postings

    rows = [
        (0, "cat dog", "en", "web"),
        (1, "cat fish", "en", "news"),
        (2, "cat dog bird", "de", "web"),
        (3, "bird only here", "fr", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    post = build_postings(docs)
    out = {
        (r.facet, r.value): r.n_docs
        for r in facet_counts(post, docs, [["cat", "dog"], ["fish"]]).collect()
    }
    # matches: docs 0, 2 (cat AND dog) + doc 1 (fish) -> 3 docs
    assert out == {
        ("lang", "en"): 2,
        ("lang", "de"): 1,
        ("source", "web"): 2,
        ("source", "news"): 1,
    }


def test_not_query_excludes_and_keeps_score(postings):
    # 'cat' matches docs 0,2; excluding 'dog' removes doc 2 only
    got = {r["doc_id"]: r["tf_idf"] for r in not_query(postings, ["cat"], ["dog"]).collect()}
    assert set(got) == {0}
    import math
    assert abs(got[0] - (1 / 6) * math.log(3 / 2)) < 1e-12
    # empty exclusion list degrades to plain AND
    base = {r["doc_id"] for r in and_query(postings, ["cat"]).collect()}
    same = {r["doc_id"] for r in not_query(postings, ["cat"], []).collect()}
    assert same == base == {0, 2}
    # excluding a term present in every match -> empty result
    assert not_query(postings, ["cat"], ["cat"]).count() == 0


# ---- one-pass Boolean plan vs a pure-Python first-conjunct-wins reference

_VOCAB = ["a", "b", "c", "d"]
_QTERM = st.sampled_from(_VOCAB + ["zz"])  # "zz" is never indexed
_POSTINGS = st.dictionaries(
    st.tuples(st.integers(0, 5), st.sampled_from(_VOCAB)),
    st.sampled_from([None, 0.25, 0.5, 1.0, 2.0]),  # a null score is present
    max_size=16,
)


def _ref_boolean(rows, conjuncts, exclude=()):
    """{doc_id: tf_idf}: a doc matches a conjunct when it has a
    (doc_id, token) row for every term and none for an excluded term;
    the first matching conjunct in parse order scores it with its
    first term's tf_idf. A row with a null doc_id never matches."""
    out = {}
    for terms in conjuncts:
        if not terms:
            continue
        for d in sorted({d for d, _ in rows if d is not None}):
            if (d not in out and all((d, t) in rows for t in terms)
                    and not any((d, t) in rows for t in exclude)):
                out[d] = rows[(d, terms[0])]
    return out


def _as_dict(df):
    got = df.collect()
    res = {r["doc_id"]: r["tf_idf"] for r in got}
    assert len(res) == len(got)  # one row per doc
    assert df.columns == ["doc_id", "tf_idf"]
    return res


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=_POSTINGS,
    conjuncts=st.lists(st.lists(_QTERM, max_size=3), max_size=3),
    exclude=st.lists(_QTERM, max_size=2),
)
# duplicate terms
@example(rows={(0, "a"): 1.0, (0, "b"): 2.0, (1, "a"): 0.5},
         conjuncts=[["a", "a", "b"], ["b", "b"]], exclude=[])
# empty conjuncts are skipped
@example(rows={(0, "a"): 1.0, (1, "b"): 0.5}, conjuncts=[[], ["a"], []],
         exclude=[])
# out-of-vocabulary terms
@example(rows={(0, "a"): 1.0, (1, "b"): 0.5},
         conjuncts=[["zz"], ["a", "zz", "A"], ["b"]], exclude=["zz"])
# all-empty query
@example(rows={(0, "a"): 1.0}, conjuncts=[[], []], exclude=[])
@example(rows={(0, "a"): 1.0}, conjuncts=[], exclude=["a"])
# a later conjunct with a lower score does not win
@example(rows={(0, "a"): 2.0, (0, "b"): 0.25, (1, "b"): 0.5},
         conjuncts=[["a"], ["b"]], exclude=[])
# an excluded term in a matching doc; a null score still counts as present
@example(rows={(0, "a"): 1.0, (0, "c"): 0.5, (1, "a"): 0.25, (2, "a"): None},
         conjuncts=[["a"]], exclude=["c"])
# a row without a doc_id never matches
@example(rows={(None, "a"): 0.5, (0, "a"): 1.0}, conjuncts=[["a"]], exclude=[])
def test_boolean_queries_match_reference(spark, rows, conjuncts, exclude):
    p = spark.createDataFrame(
        [(d, t, s) for (d, t), s in rows.items()],
        "doc_id long, token string, tf_idf double",
    )
    first = conjuncts[0] if conjuncts else []
    assert _as_dict(dnf_query(p, conjuncts)) == _ref_boolean(rows, conjuncts)
    assert _as_dict(and_query(p, first)) == _ref_boolean(rows, [first])
    assert _as_dict(not_query(p, first, exclude)) == _ref_boolean(
        rows, [first], exclude
    )
