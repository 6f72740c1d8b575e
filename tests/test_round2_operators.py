"""Round-2 operators: Not-inside-Or, ScoreMergeType, wildcard escape,
variadic phrase slots, Exists, Nested."""

import math

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.search import (
    And,
    Empty,
    Exists,
    Fuzzy,
    Nested,
    Not,
    Or,
    Phrase,
    Prefix,
    SearchEngine,
    Term,
    Terms,
    Wildcard,
    planner,
)
from tests.oracle import PyIndex

ROWS = [
    (0, "banana cherry xray"),
    (1, "bandana cherry young"),
    (2, "cherry banana"),
    (3, "banana apple cherry"),
    (4, "banana cherry banana cherry"),
    (5, "apple apple durian"),
]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    ix = build_index(df, analyzer="simple", bucket_bits=7)
    ix.cache()
    yield ix
    ix.unpersist()


def _scores(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def _close(a: dict, b: dict):
    assert set(a) == set(b), (sorted(a), sorted(b))
    for d in a:
        assert math.isclose(a[d], b[d], rel_tol=1e-9), (d, a[d], b[d])


# ------------------------------------------------------- Not inside Or


def test_or_with_not(idx):
    eng = SearchEngine(idx)
    py = PyIndex(ROWS)
    node = Or([Term("banana"), Term("apple"), Not(Term("cherry"))])
    _close(_scores(eng.matches(node)), py.eval(node))
    # only doc 5 (apple, no cherry) survives
    assert set(py.eval(node)) == {5}


def test_or_min_match_counts_positives_only(idx):
    eng = SearchEngine(idx)
    py = PyIndex(ROWS)
    node = Or([Term("banana"), Term("apple"), Not(Term("xray"))], min_match=2)
    _close(_scores(eng.matches(node)), py.eval(node))
    assert set(py.eval(node)) == {3}  # banana+apple, not xray


def test_pure_negative_or_is_empty(idx):
    assert isinstance(planner.normalize(Or([Not(Term("banana"))])), Empty)
    eng = SearchEngine(idx)
    assert eng.matches(Or([Not(Term("banana"))])).count() == 0


# ------------------------------------------------------ ScoreMergeType


def test_merge_type_max_min_noop(idx):
    eng = SearchEngine(idx)
    py = PyIndex(ROWS)
    a = py.eval(Term("banana"))
    b = py.eval(Term("cherry"))
    both = set(a) | set(b)
    want_max = {d: max(a.get(d, -1e30), b.get(d, -1e30)) for d in both}
    got = _scores(eng.matches(Or([Term("banana"), Term("cherry")], merge_type="max")))
    _close(got, want_max)
    inter = set(a) & set(b)
    want_min = {d: min(a[d], b[d]) for d in inter}
    got = _scores(eng.matches(And([Term("banana"), Term("cherry")], merge_type="min")))
    _close(got, want_min)
    got = _scores(eng.matches(Or([Term("banana"), Term("cherry")], merge_type="noop")))
    assert set(got) == both and all(v == 0.0 for v in got.values())


def test_merge_type_survives_planner_and_wand_falls_back(idx):
    node = planner.normalize(
        Or([Term("banana"), Term("cherry"), Term("apple")], min_match=3,
           merge_type="max")
    )
    assert isinstance(node, And) and node.merge_type == "max"
    eng = SearchEngine(idx)
    q = Or([Term("banana"), Term("cherry")], merge_type="max")
    ex = [(r["doc_id"], round(r["score"], 9)) for r in eng.search(q, k=3).collect()]
    wd = [(r["doc_id"], round(r["score"], 9)) for r in eng.search(q, k=3, mode="wand").collect()]
    assert ex == wd


def test_merge_type_validation():
    with pytest.raises(ValueError):
        Or([Term("x")], merge_type="avg")


# ----------------------------------------------------- wildcard escape


def test_wildcard_escape(spark):
    rows = [(0, "50% off a_b"), (1, "50x off aXb"), (2, "5000 axb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ix = build_index(df, analyzer="simple", bucket_bits=7)
    eng = SearchEngine(ix)
    assert {r["doc_id"] for r in eng.matches(Wildcard(r"50\%")).collect()} == {0}
    assert {r["doc_id"] for r in eng.matches(Wildcard("50%")).collect()} == {0, 1, 2}
    assert {r["doc_id"] for r in eng.matches(Wildcard(r"a\_b")).collect()} == {0}
    assert {r["doc_id"] for r in eng.matches(Wildcard("a_b")).collect()} == {0, 1, 2}


# ----------------------------------------------------- variadic phrase


def test_phrase_prefix_slot(idx):
    eng = SearchEngine(idx)
    py = PyIndex(ROWS)
    got = _scores(eng.matches(Phrase([Prefix("ban"), "cherry"])))
    # candidates of slot 0: banana (df 4), bandana (df 1) -> slot df 5
    df0, df1 = 5, len(py.postings["cherry"])
    c0 = (1.2 + 1.0) * (py.idf_bm25(df0) + py.idf_bm25(df1))
    want = {}
    for doc, freq in {0: 1, 1: 1, 4: 2}.items():
        dl = py.dl[doc]
        c1 = 1.2 * 0.25 + (1.2 * 0.75 / py.avg_dl) * dl
        want[doc] = c0 * freq / (c1 + freq)
    _close(got, want)


def test_phrase_terms_and_fuzzy_slots(idx):
    eng = SearchEngine(idx)
    # Terms slot behaves as an OR at that position
    a = _scores(eng.matches(Phrase([Terms(["banana", "bandana"]), "cherry"])))
    b = _scores(eng.matches(Phrase([Prefix("ban"), "cherry"])))
    _close(a, b)
    # Fuzzy slot: banana~1 matches banana and bandana (distance<=1? no —
    # bandana is distance 1 via insert 'd') — verify match set only
    got = set(_scores(eng.matches(Phrase([Fuzzy("banana", distance=1), "cherry"]))))
    assert got == {0, 1, 4}


def test_phrase_plain_still_matches_oracle(idx):
    eng = SearchEngine(idx)
    py = PyIndex(ROWS)
    node = Phrase(["banana", "cherry"])
    _close(_scores(eng.matches(node)), py.eval(node))


# ------------------------------------------------------- Exists/Nested


def test_exists(spark):
    rows = [(0, "a b", "k"), (1, "c d", None), (2, "e f", "m")]
    df = spark.createDataFrame(rows, "doc_id long, text string, tag string")
    ix = build_index(df, analyzer="simple", bucket_bits=7,
                     extra_doc_cols=["tag"])
    eng = SearchEngine(ix)
    got = _scores(eng.matches(Exists("tag", boost=2.5)))
    assert got == {0: 2.5, 2: 2.5}
    with pytest.raises(ValueError):
        eng.matches(Exists("missing")).collect()


def test_nested(spark):
    # docs 0,1 are parents; 2..6 children with parent_id
    rows = [
        (0, "parent one", None),
        (1, "parent two", None),
        (2, "alpha beta", 0),
        (3, "alpha gamma", 0),
        (4, "delta", 0),
        (5, "alpha", 1),
        (6, "beta", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, parent_id long")
    ix = build_index(df, analyzer="simple", bucket_bits=7,
                     extra_doc_cols=["parent_id"])
    eng = SearchEngine(ix)
    py = PyIndex([(d, t) for d, t, _ in rows])
    child_scores = py.eval(Term("alpha"))
    # parent 0 has 2 matching children (2,3), parent 1 has 1 (5)
    got = _scores(eng.matches(Nested(Term("alpha"), min_children=2)))
    assert set(got) == {0}
    assert math.isclose(got[0], child_scores[2] + child_scores[3], rel_tol=1e-9)
    got = _scores(eng.matches(Nested(Term("alpha"), min_children=1, boost=2.0)))
    assert set(got) == {0, 1}
    assert math.isclose(got[1], 2.0 * child_scores[5], rel_tol=1e-9)
    # max_children bound + merge max
    got = _scores(
        eng.matches(Nested(Term("alpha"), min_children=1, max_children=1,
                           merge_type="max"))
    )
    assert set(got) == {1}


# --------------------------------------------- fuzzy transpositions / bm1


def test_osa_distance_golden():
    from iresearch_spark.search.semantics import osa_distance

    assert osa_distance("abcd", "abdc", 2) == 1   # one transposition
    assert osa_distance("abcd", "abdc", 0) == 1   # capped: returns cap+1
    assert osa_distance("ca", "abc", 3) == 3      # OSA (not full Damerau =2)
    assert osa_distance("kitten", "sitting", 3) == 3
    assert osa_distance("same", "same", 1) == 0


def test_fuzzy_transpositions(spark):
    rows = [(0, "spakr x"), (1, "spark y"), (2, "sprak z"), (3, "spork w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ix = build_index(df, analyzer="simple", bucket_bits=7)
    eng = SearchEngine(ix)
    # plain levenshtein d=1 from "spark": spark(0), spork(1 sub);
    # spakr/sprak are distance 2 without transpositions
    lev = {r["doc_id"] for r in eng.matches(Fuzzy("spark", distance=1)).collect()}
    assert lev == {1, 3}
    # OSA d=1 adds the transposed variants
    osa = {
        r["doc_id"]
        for r in eng.matches(
            Fuzzy("spark", distance=1, transpositions=True)
        ).collect()
    }
    assert osa == {0, 1, 2, 3}


def test_bm1_scorer(idx):
    from iresearch_spark.search.scorers import get_scorer

    eng = SearchEngine(idx, scorer="bm1")
    py = PyIndex(ROWS)
    df = len(py.postings["banana"])
    c0 = (0.0 + 1.0) * py.idf_bm25(df)
    got = _scores(eng.matches(Term("banana")))
    assert set(got) == set(py.eval(Term("banana")))
    for v in got.values():
        assert math.isclose(v, c0, rel_tol=1e-9)  # constant per doc
    import pytest as _pytest

    with _pytest.raises(ValueError):
        get_scorer("bm1", k=2.0)


def test_numeric_range(spark):
    from iresearch_spark.search import NumericRange

    rows = [(0, "a", 10), (1, "b", 20), (2, "c", 30), (3, "d", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, nc long")
    ix = build_index(df, analyzer="simple", bucket_bits=7,
                     extra_doc_cols=["nc"])
    eng = SearchEngine(ix)
    got = _scores(eng.matches(NumericRange("nc", 10, 30, include_max=False,
                                           boost=2.0)))
    assert got == {0: 2.0, 1: 2.0}
    # composable inside booleans: constant score sums with term score
    both = _scores(eng.matches(And([Term("b"), NumericRange("nc", 15, 25)])))
    assert set(both) == {1}


def test_cached_proxy(spark):
    from iresearch_spark.search import Cached

    rows = [(i, "x" if i % 2 else "x y") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ix = build_index(df, analyzer="simple", bucket_bits=7)
    eng = SearchEngine(ix)
    node = Cached(Term("y"))
    a = _scores(eng.matches(node))
    assert len(eng._proxy_cache) == 1
    b = _scores(eng.matches(node))          # second run hits the cache
    assert a == b and set(a) == {0, 2, 4}
    boosted = _scores(eng.matches(Cached(Term("y"), boost=3.0)))
    for d in a:
        assert math.isclose(boosted[d], 3.0 * a[d], rel_tol=1e-12)
    assert len(eng._proxy_cache) == 1       # same child -> same entry
