"""Hot-path multi-term expansion (Prefix/Wildcard/Range/Fuzzy served
from the in-memory vocabulary): expansion-list identity with the
cluster's `_leaf_expansion`, full search parity (scores + order) on
every leaf shape, capped-expansion matched-but-unscored semantics,
WAND rank-identity, and the no-expansion-job guarantee."""

import random

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.search import (
    And,
    Fuzzy,
    Or,
    Prefix,
    Range,
    SearchEngine,
    Term,
    Wildcard,
)
from iresearch_spark.search.hot import HotEngine

VOCAB = [
    "apple", "apply", "applied", "applet", "appstore", "ample",
    "banana", "band", "bandit", "bend", "bond", "bind",
    "café", "cafés", "cable", "cattle", "castle",
    "zürich", "zeal", "zebra",
    "prefixaa", "prefixab", "prefixac", "prefixad", "prefixae",
]


@pytest.fixture(scope="module")
def engines(spark):
    rng = random.Random(23)
    rows = [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(4, 40))))
        for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(df, id_col="doc_id", text_col="text")
    eng = SearchEngine(idx)
    return eng, HotEngine(eng)


LEAVES = [
    Prefix("app"),
    Prefix("appl", boost=2.0),
    Prefix(""),  # matches the whole vocabulary
    Prefix("nosuch"),
    Wildcard("b_nd"),
    Wildcard("%tle"),       # leading wildcard
    Wildcard("a%e"),
    Wildcard("caf_s"),
    Range("band", "bind"),
    Range("band", "bind", include_min=False, include_max=False),
    Range(None, "band"),
    Range("zeal", None),
    Fuzzy("aple", distance=1),
    Fuzzy("aple", distance=2),
    Fuzzy("bnad", distance=2, transpositions=True),
    Fuzzy("ban", distance=1, prefix="ba"),
    Fuzzy("café", distance=1),
    Fuzzy("apple", distance=0),
    Fuzzy("apple", distance=1, max_terms=2),
]


@pytest.mark.parametrize(
    "q", LEAVES, ids=[repr(q)[:40] for q in LEAVES]
)
def test_hot_expansion_leaf_parity(engines, q):
    eng, hot = engines
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=25).collect()
    ]
    got = [(d, round(s, 9)) for d, s in hot.search(q, k=25)]
    assert got == want


def test_hot_expansion_list_identical(spark, engines):
    """The hot vocabulary expansion must equal the cluster's
    dictionary-scan expansion term-for-term (same order, same dfs) —
    it seeds the engine's expansion cache, so divergence would poison
    WAND bounds."""
    eng, hot = engines
    # fresh engine over the same index: empty expansion cache, so
    # _leaf_expansion genuinely runs the cluster expansion job
    fresh = SearchEngine(eng.index)
    for q in LEAVES:
        cluster = fresh._leaf_expansion(q)
        hot_exp, _matched, hot_complete = hot._hot_expansion(q)
        assert (hot_exp, hot_complete) == cluster, q


def test_hot_expansion_inside_boolean(engines):
    eng, hot = engines
    queries = [
        And([Prefix("app"), Term("banana")]),
        Or([Prefix("pre"), Term("zebra", boost=2.0)]),
        Or([Fuzzy("bnd", distance=1), Wildcard("ca%")], min_match=1),
        And([Range("a", "c"), Term("zeal")]),
    ]
    for q in queries:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, k=15).collect()
        ]
        got = [(d, round(s, 9)) for d, s in hot.search(q, k=15)]
        assert got == want, q


def test_hot_capped_expansion_matches_unscored(spark):
    """scored_terms_limit smaller than the match set: beyond-cap terms
    still MATCH (weight 0) — a doc containing only unscored prefix
    terms must appear, scored 0, exactly like the cluster scan."""
    rows = [(i, f"prefix{chr(97 + i % 10)} filler") for i in range(200)]
    rows.append((200, "prefixz"))  # lowest-df term: beyond the cap
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(df, id_col="doc_id", text_col="text")
    eng = SearchEngine(idx, scored_terms_limit=3)
    hot = HotEngine(eng)
    q = Prefix("prefix")
    want = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.matches(q).collect()
    }
    got = {d: round(s, 9) for d, s in hot.matches(q)}
    assert got == want
    assert 200 in got and got[200] == 0.0
    # incomplete expansion: WAND ineligible on both paths; exhaustive
    # search still rank-identical
    want_l = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10).collect()
    ]
    assert [(d, round(s, 9)) for d, s in hot.search(q, k=10)] == want_l


def test_hot_expansion_wand_rank_identical(engines):
    eng, hot = engines
    queries = [
        Prefix("app"),
        Or([Prefix("app"), Term("banana")]),
        Or([Fuzzy("aple", distance=1), Term("zebra")]),
        Or([Wildcard("b_nd"), Prefix("caf", boost=1.5)]),
    ]
    for q in queries:
        exh = [(d, round(s, 9)) for d, s in hot.search(q, k=10)]
        wnd = [
            (d, round(s, 9)) for d, s in hot.search(q, k=10, mode="wand")
        ]
        assert exh == wnd, q
        cluster = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, k=10, mode="wand").collect()
        ]
        assert wnd == cluster, q


def test_hot_expansion_launches_no_cluster_expansion(engines, monkeypatch):
    """Expansion leaves must be answered without the cluster expansion
    job: poison the engine's expansion entry point and query through a
    fresh HotEngine."""
    eng, _ = engines
    fresh_eng = SearchEngine(eng.index)
    hot = HotEngine(fresh_eng)

    def boom(*a, **kw):  # pragma: no cover
        raise AssertionError("cluster expansion job launched")

    monkeypatch.setattr(SearchEngine, "_leaf_expansion", boom)
    for q in (
        Prefix("app"),
        Wildcard("%tle"),
        Range("band", "bind"),
        Fuzzy("aple", distance=1),
        Fuzzy("bnad", distance=2, transpositions=True),
    ):
        assert hot.search(q, k=5)
        assert hot.search(q, k=5, mode="wand") == hot.search(q, k=5)


def test_hot_variadic_phrase_parity(engines):
    """Variadic phrase slots (reference phrase_filter.cpp:75-121
    visitor) served from the hot segment: per-slot expansion against
    the in-memory vocabulary, union-of-candidate positions per slot."""
    from iresearch_spark.search import Phrase, SamePosition, Terms

    eng, hot = engines
    queries = [
        Phrase((Prefix("appl"), "banana")),
        Phrase(("banana", Prefix("b"))),
        Phrase((Terms(["apple", "ample"]), Wildcard("b_nd"))),
        Phrase((Fuzzy("aple", distance=1), "café")),
        Phrase((Range("band", "bind"), "zebra")),
        Phrase((Prefix("nosuch"), "banana")),  # dead slot -> empty
        SamePosition((Prefix("app"), "banana")),
        Phrase((Prefix("appl"), "banana"), boost=2.5),
    ]
    for q in queries:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, k=20).collect()
        ]
        got = [(d, round(s, 9)) for d, s in hot.search(q, k=20)]
        assert got == want, q
    # unordered matches parity too (exercises freq/dl per doc)
    q = Phrase((Prefix("appl"), "banana"))
    want_m = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.matches(q).collect()
    }
    got_m = {d: round(s, 9) for d, s in hot.matches(q)}
    assert got_m == want_m
