"""Positional index (phrase match, PMI collocations), BM25 and spell
suggest — hand-built fixtures with independently computed expectations.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from searchengine_spark.operators import positional as P
from searchengine_spark.operators import ranking as R
from searchengine_spark.operators.tfidf import (
    doc_frequencies,
    doc_tokens,
    term_frequencies,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_positional_postings_offsets(spark):
    pp = P.positional_postings(_docs(spark, [(1, "Foo, bar!  baz")]))
    got = sorted((r.pos, r.token) for r in pp.collect())
    assert got == [(0, "foo"), (1, "bar"), (2, "baz")]


def test_phrase_match_basic_and_counts(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick fox and the quick fox again"),
            (2, "quick the fox"),  # terms present, wrong order
            (3, "the quick brown fox"),
        ],
    )
    pp = P.positional_postings(docs)
    got = {r.doc_id: r.n_occ for r in P.phrase_match(pp, ["the", "quick", "fox"]).collect()}
    assert got == {1: 2}


def test_phrase_match_repeated_terms(spark):
    # "a b a b a": phrase (a b a) occurs at starts 0 and 2 — slot-distinct
    # counting must not let one 'a' occurrence satisfy both slots
    docs = _docs(spark, [(1, "a b a b a"), (2, "a b b a")])
    pp = P.positional_postings(docs)
    got = {r.doc_id: r.n_occ for r in P.phrase_match(pp, ["a", "b", "a"]).collect()}
    assert got == {1: 2}


def test_collocations_pmi_matches_hand_computation(spark):
    # corpus: doc1 = x y x y  → bigrams (x,y),(y,x),(x,y)
    #         doc2 = z z      → bigram (z,z)
    docs = _docs(spark, [(1, "x y x y"), (2, "z z")])
    got = {
        (r.a, r.b): (r.n_ab, r.pmi)
        for r in P.collocations(docs, min_count=1).collect()
    }
    T, B = 6, 4  # token slots, bigram slots
    c = {"x": 2, "y": 2, "z": 2}
    exp_xy = math.log((2 * T * T) / (B * c["x"] * c["y"]))
    exp_zz = math.log((1 * T * T) / (B * c["z"] * c["z"]))
    assert got[("x", "y")][0] == 2
    assert abs(got[("x", "y")][1] - exp_xy) < 1e-12
    assert abs(got[("z", "z")][1] - exp_zz) < 1e-12
    assert ("y", "x") in got and got[("y", "x")][0] == 1


def test_bm25_weight_matches_formula(spark):
    # two docs; verify the (doc, token) weight against the public formula
    docs = _docs(spark, [(1, "cat cat dog"), (2, "cat fish")])
    w = {
        (r.doc_id, r.token): r.weight
        for r in R.bm25_table(docs).collect()
    }
    n, avgdl = 2, (3 + 2) / 2
    k1, b = 1.2, 0.75

    def bm25(f, dl, df):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * (f * (k1 + 1)) / (f + k1 * (1 - b + b * dl / avgdl))

    assert abs(w[(1, "cat")] - bm25(2, 3, 2)) < 1e-12
    assert abs(w[(1, "dog")] - bm25(1, 3, 1)) < 1e-12
    assert abs(w[(2, "fish")] - bm25(1, 2, 1)) < 1e-12


def test_bm25_search_ranks_rare_terms_higher(spark):
    docs = _docs(
        spark,
        [
            (1, "common common common rare"),
            (2, "common common"),
            (3, "common other words here"),
        ],
    )
    w = R.bm25_table(docs)
    top = R.bm25_search(w, ["rare", "common"], k=3).collect()
    assert top[0].doc_id == 1  # only doc with the rare term wins
    assert [r.doc_id for r in top] == sorted(
        [r.doc_id for r in top],
        key=lambda d: (-[x.score for x in top if x.doc_id == d][0], d),
    )


def test_bm25_empty_corpus_yields_typed_empty_frame(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    w = R.bm25_table(empty)
    assert w.count() == 0
    assert [f.name for f in w.schema.fields] == ["doc_id", "token", "weight"]
    # docs that tokenize to nothing count as empty too
    blank = spark.createDataFrame([(1, "  ")], "doc_id long, text string")
    assert R.bm25_table(blank).count() == 0


def test_suggest_orders_by_distance_then_df(spark):
    docs = _docs(
        spark,
        [
            (1, "table table table label tab tables"),
            (2, "table tabby label"),
        ],
    )
    vocab = doc_frequencies(term_frequencies(doc_tokens(docs)))
    got = [(r.token, r.dist) for r in P.suggest(vocab, "tabel", max_dist=2, k=5).collect()]
    # label is 1 substitution away and wins despite lower df; table/tab/
    # tables are all distance 2, ordered df DESC then token ASC
    assert got[0] == ("label", 1)
    assert got[1] == ("table", 2)
    assert set(t for t, _ in got) == {"label", "table", "tab", "tabby", "tables"}
    assert all(d <= 2 for _, d in got)


def test_champion_lists_exact_topk_per_token(spark):
    # doc 1 mentions 'cat' most often relative to length → highest weight
    docs = _docs(
        spark,
        [
            (1, "cat cat cat"),
            (2, "cat dog dog dog dog dog dog dog"),
            (3, "cat mouse"),
            (4, "dog mouse"),
        ],
    )
    w = R.bm25_table(docs)
    champs = R.champion_lists(w, k=2, n_salts=4)
    got = {
        (r.token, r.rk): r.doc_id for r in champs.collect()
    }
    # exact reference: per-token sort of the full weight table
    full = sorted(
        ((r.token, -r.weight, r.doc_id) for r in w.collect())
    )
    exp = {}
    seen = {}
    for token, negw, doc in full:
        n = seen.get(token, 0) + 1
        seen[token] = n
        if n <= 2:
            exp[(token, n)] = doc
    assert got == exp
    assert all(rk <= 2 for _, rk in got)


def test_snippets_window_and_clamping(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c TARGET d e f"),   # interior hit: full window
            (2, "TARGET x y z"),          # hit at position 0: left-clamped
            (3, "no hit here"),           # filtered out
        ],
    )
    got = {r.doc_id: (r.first_pos, r.snippet) for r in
           P.snippets(docs, ["target"], window=2).collect()}
    assert got == {
        1: (3, "b c target d e"),
        # left-clamped: slice still takes up to 2w+1 tokens from pos 0
        2: (0, "target x y z"),
    }


def test_prefix_search_range_and_sum(spark):
    from searchengine_spark.operators.query import prefix_search
    from searchengine_spark.operators.tfidf import build_postings

    docs = _docs(
        spark,
        [
            (1, "star stone zebra"),   # two s-tokens
            (2, "star zebra"),
            (3, "zebra zebra"),        # no s-token → absent
            (4, "t-boundary tau"),     # 'tau' must NOT match prefix 's'
        ],
    )
    postings = build_postings(docs)
    w = {
        (r.doc_id, r.token): r.tf_idf for r in postings.collect()
    }
    got = {r.doc_id: r.score for r in prefix_search(postings, "s", k=10).collect()}
    assert set(got) == {1, 2}
    assert abs(got[1] - (w[(1, "star")] + w[(1, "stone")])) < 1e-12
    assert abs(got[2] - w[(2, "star")]) < 1e-12


def test_proximity_match_window_and_counts(spark):
    docs = _docs(
        spark,
        [
            (1, "a x b"),          # dist 2 → within 3
            (2, "a x y z z b"),    # dist 5 → outside 3
            (3, "a b a"),          # pairs: |0-1|=1, |2-1|=1 → 2 pairs
            (4, "a only"),
        ],
    )
    pp = P.positional_postings(docs)
    got = {
        r.doc_id: (r.min_dist, r.n_pairs)
        for r in P.proximity_match(pp, "a", "b", window=3).collect()
    }
    assert got == {1: (2, 1), 3: (1, 2)}


def test_rank_eval_hand_computed_ndcg(spark):
    from searchengine_spark.operators.rankeval import rank_eval

    ranked = spark.createDataFrame(
        [(1, 3.0), (2, 2.0), (3, 1.0)], "doc_id long, score double"
    )
    # doc 4 is relevant but not retrieved — hits recall, not precision
    rels = spark.createDataFrame(
        [(2, 2), (3, 1), (4, 3)], "doc_id long, rel long"
    )
    rows = {r.rk: r for r in rank_eval(ranked, rels, k=3).collect()}

    lg = math.log2
    dcg2 = (2**2 - 1) / lg(3)
    dcg3 = dcg2 + (2**1 - 1) / lg(4)
    idcg1 = (2**3 - 1) / lg(2)
    idcg2 = idcg1 + (2**2 - 1) / lg(3)
    idcg3 = idcg2 + (2**1 - 1) / lg(4)

    assert rows[1].doc_id == 1 and rows[1].rel == 0
    assert abs(rows[1].dcg - 0.0) < 1e-12
    assert abs(rows[2].dcg - dcg2) < 1e-12
    assert abs(rows[3].dcg - dcg3) < 1e-12
    assert abs(rows[3].idcg - idcg3) < 1e-12
    assert abs(rows[3].ndcg - dcg3 / idcg3) < 1e-12
    assert abs(rows[2].precision - 1 / 2) < 1e-12
    assert abs(rows[3].precision - 2 / 3) < 1e-12
    assert abs(rows[3].recall - 2 / 3) < 1e-12  # 2 of 3 relevant retrieved


def test_more_like_this_identical_doc_wins(spark):
    from searchengine_spark.operators.simsearch import more_like_this
    from searchengine_spark.operators.tfidf import build_postings

    docs = _docs(
        spark,
        [
            (1, "x y"),
            (2, "x y"),      # identical tf-idf vector to doc 1
            (3, "z w"),      # no shared tokens — must be absent
            (4, "x q"),      # shares only x
        ],
    )
    postings = build_postings(docs)
    got = [(r.doc_id, r.cosine) for r in more_like_this(postings, 1, k=5).collect()]
    assert got[0][0] == 2
    assert abs(got[0][1] - 1.0) < 1e-12
    ids = [d for d, _ in got]
    assert 3 not in ids and 1 not in ids
    assert 4 in ids and dict(got)[4] < 1.0


def test_phrase_empty_and_no_match(spark):
    docs = _docs(spark, [(1, "a b c")])
    pp = P.positional_postings(docs)
    assert P.phrase_match(pp, []).count() == 0
    assert P.phrase_match(pp, ["c", "a"]).count() == 0


def test_complete_prefix_ranked_by_df(spark):
    docs = _docs(
        spark,
        [
            (1, "star star stone apple"),
            (2, "star sun apple"),
            (3, "stone sun tau"),
        ],
    )
    vocab = doc_frequencies(term_frequencies(doc_tokens(docs)))
    got = [(r.token, r.df) for r in P.complete(vocab, "s", k=3).collect()]
    # df: star 2, stone 2, sun 2 → all tied, token ASC; 'tau' excluded
    assert got == [("star", 2), ("stone", 2), ("sun", 2)]
    got2 = [r.token for r in P.complete(vocab, "st", k=5).collect()]
    assert got2 == ["star", "stone"]


def test_textrank_hub_word_ranks_highest(spark):
    # 'hub' co-occurs with every other word; ranks must sum to ~1
    docs = _docs(
        spark,
        [
            (1, "hub alpha hub beta hub gamma"),
            (2, "hub delta"),
            (3, "solo solo"),  # self-pairs only → excluded from graph
        ],
    )
    rows = P.textrank(docs, n_iters=10).collect()
    ranks = {r.token: r.rank for r in rows}
    assert "solo" not in ranks
    assert max(ranks, key=ranks.get) == "hub"
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_mmr_demotes_redundant_results_and_matches_pycore(spark):
    from searchengine_spark.operators.ranking import diversify_mmr
    from searchengine_spark.operators.tfidf import build_postings
    from searchengine_spark.pycore.mmr import mmr as py_mmr

    docs = _docs(
        spark,
        [
            (1, "apple banana cherry"),
            (2, "apple banana cherry"),   # duplicate of 1
            (3, "dog elephant fox"),      # diverse
            (4, "apple dog zebra"),
        ],
    )
    postings = build_postings(docs)
    page = spark.createDataFrame(
        [(1, 10.0), (2, 9.5), (3, 9.0), (4, 5.0)], "doc_id long, score double"
    )
    got = sorted(
        ((r.rank, r.doc_id, r.mmr_score) for r in
         diversify_mmr(page, postings, lam=0.5).collect())
    )
    # parity with the normative pycore implementation
    vecs = {}
    for r in postings.collect():
        vecs.setdefault(r.doc_id, {})[r.token] = r.tf_idf
    exp = py_mmr([(1, 10.0), (2, 9.5), (3, 9.0), (4, 5.0)], vecs, lam=0.5)
    assert got == sorted(exp)
    # semantics: doc 2 (exact duplicate of the top hit) must NOT be
    # ranked second — a diverse doc overtakes it
    by_rank = {rk: d for rk, d, _ in got}
    assert by_rank[0] == 1
    assert by_rank[1] != 2


def test_mmr_negative_similarity_clamps_at_zero():
    """max over S starts at 0: a candidate whose only cosine to the
    selected set is negative is not rewarded for it — it scores λ·rel,
    exactly as the mmr_rerank oracle's greatest(…, 0)."""
    from searchengine_spark.pycore.mmr import cosine, mmr as py_mmr

    vecs = {1: {"a": 1.0}, 2: {"a": -1.0}}
    assert cosine(vecs[2], vecs[1]) == -1.0
    got = py_mmr([(1, 10.0), (2, 4.0)], vecs, lam=0.3)
    assert got == [(0, 1, 0.3 * 10.0), (1, 2, 0.3 * 4.0)]


def test_best_passage_golden(spark):
    from searchengine_spark.operators.positional import (
        best_passage,
        positional_postings,
    )

    # doc 0: 'cat' at 0 and 'dog' at 20 never share a 5-window; the
    # dense span is cat+dog at 20,21 -> start 20, n=2
    rows = [
        (0, "cat x x x x x x x x x x x x x x x x x x x dog cat y y"),
        (1, "dog only here"),
        (2, "nothing relevant at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.start_pos, r.n_terms)
        for r in best_passage(
            positional_postings(df), ["cat", "dog"], window=5
        ).collect()
    }
    assert out[0] == (20, 2)
    assert out[1] == (0, 1)
    assert 2 not in out  # no query term -> no passage row


def test_best_passage_tie_earliest(spark):
    from searchengine_spark.operators.positional import (
        best_passage,
        positional_postings,
    )

    # two equally-dense windows -> earliest start wins
    df = spark.createDataFrame(
        [(0, "cat dog x x x x x x x x cat dog")], "doc_id long, text string"
    )
    r = best_passage(positional_postings(df), ["cat", "dog"], window=4).collect()[0]
    assert (r.start_pos, r.n_terms) == (0, 2)


def _brute_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_spell_correct_batch_equals_brute_scan(spark):
    """The SymSpell delete-variant join must return exactly what a
    brute per-term levenshtein scan of the capped vocabulary returns —
    same candidates, same (dist ASC, df DESC, token ASC) top-k — for a
    vocab exercising 1-char tokens, ties, an over-max_len token, and a
    term with zero matches."""
    vocab_rows = [
        ("query", 50), ("quarry", 20), ("quart", 8), ("qua", 3),
        ("diary", 9), ("document", 30), ("documents", 25),
        ("monument", 4), ("page", 99), ("pageant", 2), ("a", 7),
        ("b", 7), ("ab", 5), ("x" * 30, 1),
    ]
    terms = ["quary", "documnet", "pag", "c", "zzzz", "QUARY"]
    vocab = spark.createDataFrame(vocab_rows, "token string, df long")
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    out = P.spell_correct_batch(vocab, tdf, max_dist=2, k=3, max_len=24)
    got = sorted(tuple(r) for r in out.collect())

    exp = []
    for t in dict.fromkeys(t.lower() for t in terms):
        cs = [
            (tok, df, _brute_lev(tok, t))
            for tok, df in vocab_rows
            if len(tok) <= 24 and tok != t
        ]
        cs = [c for c in cs if c[2] <= 2]
        cs.sort(key=lambda c: (c[2], -c[1], c[0]))
        exp += [(t, tok, df, d) for tok, df, d in cs[:3]]
    assert got == sorted(exp)

    # scale guard: candidate generation is an equi-join, never a
    # cartesian product
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan


def test_delete_variants_match_python_reference(spark):
    """Spark `_delete_variants` (higher-order Column fns) must produce
    exactly the Python-reference ≤2-deletion variant set per word —
    including 0/1/2-char words where the sequence() guards matter."""

    def py_variants(s):
        v1 = {s[:i] + s[i + 1:] for i in range(len(s))}
        v2 = {t[:j] + t[j + 1:] for t in v1 for j in range(len(t))}
        return {s} | v1 | v2

    words = ["", "a", "ab", "abc", "query", "aaaa", "xyzzy", "a'1b0"]
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", P._delete_variants(F.col("w"), 2).alias("v")
    )
    for r in df.collect():
        assert set(r.v) == py_variants(r.w), r.w


def test_symspell_shared_variant_is_superset_of_lev2():
    """The premise of spell_correct_batch: any two strings within
    Levenshtein distance 2 share a common ≤2-deletion variant (pure
    property of the algorithm, exhaustively checked over a small
    alphabet)."""
    import itertools

    def py_variants(s):
        v1 = {s[:i] + s[i + 1:] for i in range(len(s))}
        v2 = {t[:j] + t[j + 1:] for t in v1 for j in range(len(t))}
        return {s} | v1 | v2

    words = [
        "".join(w)
        for n in range(5)
        for w in itertools.product("ab", repeat=n)
    ]
    for a, b in itertools.combinations(words, 2):
        if _brute_lev(a, b) <= 2:
            assert py_variants(a) & py_variants(b), (a, b)


def test_rake_hand_computed(spark):
    from searchengine_spark.operators.positional import rake_keywords

    # stopwords from STOPWORDS['en'] include: the, and, of, is, it
    text = "deep learning is the neural network model and deep model"
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    out = {r.phrase: r.score for r in
           rake_keywords(df, k=10).collect()}
    # phrases: "deep learning", "neural network model", "deep model"
    # freq: deep 2, learning 1, neural 1, network 1, model 2
    # degree: deep 2+2=4, learning 2, neural 3, network 3, model 3+2=5
    r = {"deep": 4 / 2, "learning": 2 / 1, "neural": 3 / 1,
         "network": 3 / 1, "model": 5 / 2}
    exp = {
        "deep learning": r["deep"] + r["learning"],
        "neural network model": r["neural"] + r["network"] + r["model"],
        "deep model": r["deep"] + r["model"],
    }
    assert set(out) == set(exp)
    for p, s in exp.items():
        assert abs(out[p] - s) < 1e-12


def test_rake_max_phrase_and_topk(spark):
    from searchengine_spark.operators.positional import rake_keywords

    # a 5-word run exceeds max_phrase=4 and must be dropped entirely
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon and zeta")],
        "doc_id long, text string",
    )
    out = [r.phrase for r in rake_keywords(df, k=10, max_phrase=4).collect()]
    assert out == ["zeta"]
    # k truncation: craft 3 phrases, ask for 2
    df2 = spark.createDataFrame(
        [(1, "aa bb and cc dd and ee")], "doc_id long, text string"
    )
    assert rake_keywords(df2, k=2).count() == 2


def test_window_pmi_widens_collocations(spark):
    import math

    from searchengine_spark.operators.positional import window_pmi

    # "alpha ... beta" always within 3 positions but never adjacent
    rows = [(i, "alpha mid beta filler%d" % i) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a, r.b): (r.n_ab, r.pmi)
           for r in window_pmi(df, w=3, min_count=6).collect()}
    assert ("alpha", "beta") in got
    n_ab, pmi = got[("alpha", "beta")]
    assert n_ab == 6
    # hand recompute: T = 24 tokens, pairs per doc with w=3 over 4
    # tokens = 3+2+1 = 6 -> P = 36; n_alpha = n_beta = 6
    exp = math.log((6 * 24 * 24) / (36 * 6 * 6))
    assert abs(pmi - exp) < 1e-12


def test_readability_golden(spark):
    from searchengine_spark.operators.textstats import readability_scores

    rows = [
        (0, "The cat sat. The dog ran!"),
        (1, ""),  # empty -> flesch 0.0 sentinel
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in readability_scores(df).collect()}
    r0 = got[0]
    assert r0.n_sents == 2 and r0.n_words == 6
    # syllables: the=1, cat=1, sat=1, the=1, dog=1, ran=1
    assert r0.n_syllables == 6
    exp = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(r0.flesch - exp) < 1e-9
    assert got[1].n_words == 0 and got[1].flesch == 0.0


def test_pmi_expand_surfaces_associations(spark):
    from searchengine_spark.operators.positional import pmi_expand

    # 'spark' co-occurs with 'shuffle' in a tight window everywhere;
    # 'garden' text provides unrelated vocabulary
    rows = [(i, "spark shuffle executor run") for i in range(6)]
    rows += [(10 + i, "garden flower pond soil") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = pmi_expand(df, ["spark"], m=3, w=3, min_count=3).collect()
    assocs = [r.assoc for r in got]
    assert "shuffle" in assocs
    assert "spark" not in assocs        # never expand to the query term
    assert not {"garden", "flower", "pond", "soil"} & set(assocs)
    assert all(r.term == "spark" for r in got)
    # direction-collapse: 'spark' only ever PRECEDES its neighbors in
    # this fixture; a doc with reversed order adds reverse counts
    df2 = spark.createDataFrame(
        rows + [(99, "shuffle spark")], "doc_id long, text string"
    )
    got2 = {r.assoc: r.n_ab for r in
            pmi_expand(df2, ["spark"], m=5, w=3, min_count=3).collect()}
    assert got2["shuffle"] == 6 + 1  # 6 forward + 1 reverse pair
