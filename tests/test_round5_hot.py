"""HotEngine (driver-resident serving path): differential vs the
cluster engine on every servable shape, WAND rank-identity, fallback
behavior, deletes, and the budget guard."""

import random

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.search import (
    And,
    Not,
    Or,
    Phrase,
    SearchEngine,
    Term,
    Terms,
)
from iresearch_spark.search.hot import HotEngine
from iresearch_spark.search.querystring import parse_query

VOCAB = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "index", "search", "engine", "rare1", "rare2",
]


@pytest.fixture(scope="module")
def engines(spark):
    rng = random.Random(17)
    rows = [
        (i, " ".join(rng.choices(VOCAB[:12], k=rng.randint(5, 60))))
        for i in range(2000)
    ]
    rows[100] = (100, rows[100][1] + " rare1 rare2")
    rows[200] = (200, rows[200][1] + " rare1")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(df, id_col="doc_id", text_col="text")
    eng = SearchEngine(idx)
    return eng, HotEngine(eng)


QUERIES = [
    Term("quick"),
    Term("rare1", boost=2.5),
    Terms(["quick", "lazy", "dog"], term_boosts={"lazy": 2.0}),
    And([Term("quick"), Term("lazy")]),
    And([Term("quick"), Not(Term("lazy"))]),
    Or([Term("quick"), Term("rare1", boost=3.0)]),
    Or([Term("quick"), Term("lazy"), Term("dog")], min_match=2),
    Or([Term("quick"), Term("lazy"), Not(Term("dog"))]),
    Or([Term("quick"), Term("lazy")], merge_type="max"),
    And([Term("quick"), Term("lazy")], merge_type="min"),
    parse_query("+quick lazy"),       # Should (optional score-only)
    parse_query("quick dog -lazy"),
]


@pytest.mark.parametrize("q", QUERIES, ids=[str(i) for i in range(len(QUERIES))])
def test_hot_matches_cluster(engines, q):
    eng, hot = engines
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=20).collect()
    ]
    got = [(d, round(s, 9)) for d, s in hot.search(q, k=20)]
    assert got == want


def test_hot_matches_unordered(engines):
    eng, hot = engines
    want = {
        r["doc_id"]: round(r["score"], 9)
        for r in eng.matches(And([Term("quick"), Term("dog")])).collect()
    }
    got = {d: round(s, 9) for d, s in hot.matches(And([Term("quick"), Term("dog")]))}
    assert got == want


def test_hot_wand_rank_identical(engines):
    eng, hot = engines
    q = Or([Term("quick"), Term("lazy"), Term("dog"), Term("fox")])
    exh = [(d, round(s, 9)) for d, s in hot.search(q, k=10)]
    wnd = [(d, round(s, 9)) for d, s in hot.search(q, k=10, mode="wand")]
    assert exh == wnd
    cluster = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10, mode="wand").collect()
    ]
    assert wnd == cluster


def test_hot_phrase_served_in_memory(engines):
    eng, hot = engines
    for q in (
        Phrase(("quick", "brown")),
        Phrase(("the", "quick", "brown")),
        Phrase(("quick", "quick")),  # repeated term, distinct slots
    ):
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(q, k=15).collect()
        ]
        got = [(d, round(s, 9)) for d, s in hot.search(q, k=15)]
        assert got == want, q
    # phrase inside a boolean rides the same in-memory path
    q = And([Phrase(("quick", "brown")), Term("dog")])
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10).collect()
    ]
    assert [(d, round(s, 9)) for d, s in hot.search(q, k=10)] == want


def test_hot_same_position(engines):
    eng, hot = engines
    from iresearch_spark.search import SamePosition

    q = SamePosition(("quick", "quick"))
    want = {
        r["doc_id"]: round(r["score"], 9) for r in eng.matches(q).collect()
    }
    got = {d: round(s, 9) for d, s in hot.matches(q)}
    assert got == want


def test_hot_prefix_served_in_memory(engines):
    # was the fallback shape until expansion leaves landed on the hot
    # path (test_round5_hot_expansion.py covers the full matrix)
    eng, hot = engines
    from iresearch_spark.search import Prefix

    q = Prefix("qui")
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, k=10).collect()
    ]
    got = [(d, round(s, 9)) for d, s in hot.search(q, k=10)]
    assert got == want


def test_hot_respects_deletes(spark):
    rows = [(i, "alpha beta" if i % 2 else "alpha") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(df, id_col="doc_id", text_col="text")
    idx2 = idx.delete_docs(
        spark.createDataFrame([(1,), (3,), (5,)], "doc_id long")
    )
    eng = SearchEngine(idx2)
    hot = HotEngine(eng)
    want = {r["doc_id"] for r in eng.matches(Term("beta")).collect()}
    got = {d for d, _ in hot.matches(Term("beta"))}
    assert got == want
    assert not got & {1, 3, 5}


def test_hot_float32_parity(spark):
    rows = [(i, "alpha beta gamma"[: 5 + (i % 3) * 5]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(df, id_col="doc_id", text_col="text")
    eng32 = SearchEngine(idx, score_dtype="float32")
    hot32 = HotEngine(eng32)
    for q in (
        Term("alpha"),
        Or([Term("alpha"), Term("beta")]),
        Or([Term("alpha"), Term("beta"), Term("gamm")]),
    ):
        want = [
            (r["doc_id"], r["score"])
            for r in eng32.search(q, k=15).collect()
        ]
        got = hot32.search(q, k=15)
        # f32 parity mode: scores BIT-identical (same kernel)
        assert got == want


def test_hot_budget_guard(engines, spark):
    eng, _ = engines
    with pytest.raises(ValueError):
        HotEngine(eng, max_bytes=10)


def test_hot_absent_terms_empty_not_crash(engines):
    # regression: And/Or whose children ALL miss the vocabulary used to
    # IndexError in the numpy doc-merge; the cluster path returns empty
    eng, hot = engines
    for q in (
        And([Term("zzzz"), Term("qqqq")]),
        Or([Term("zzzz"), Term("qqqq")]),
        Or([Term("zzzz"), Term("qqqq")], merge_type="max"),
        Phrase(["zzzz", "qqqq"]),
    ):
        assert hot.search(q, k=5) == []
        assert hot.matches(q) == []


def test_hot_memory_stats(engines):
    eng, hot = engines
    s0 = hot.memory_stats()
    assert s0["blob_bytes"] > 0
    assert s0["blob_bytes"] <= s0["budget_bytes"]
    assert s0["n_terms"] == len(hot._spans)
    assert s0["resident_bytes"] >= s0["blob_bytes"] + s0["positions_blob_bytes"]
    # residency grows monotonically with use: decode caches + vocab
    # (>= not >: the module-scoped fixture may already be warm)
    hot.search(Or([Term("quick"), Term("lazy")]), k=10)
    hot.search(parse_query("qui*"), k=10)  # pins the vocab
    s1 = hot.memory_stats()
    assert s1["decoded_bytes"] > 0
    assert s1["n_terms_decoded"] >= 2
    assert s1["vocab_bytes"] > 0
    assert s1["resident_bytes"] >= s0["resident_bytes"]
    assert s1["resident_bytes"] >= s1["blob_bytes"] + s1["decoded_bytes"]
    # blob accounting matches the constructor's budget-check sum
    import numpy as np

    blob = sum(
        len(b) for col in (hot._bin_docs, hot._bin_dls) for b in col.to_pylist()
    )
    # budget check counts the empty-term stats row too, so >= blocks sum
    assert s1["blob_bytes"] >= blob


def test_hot_highlight_matches_cluster(spark):
    from iresearch_spark.index.builder import build_index as _bi

    rows = [
        (0, "The quick brown Fox jumps"),
        (1, "quick   quick fox"),
        (2, "a lone token"),
        (3, ""),
        (4, "Fox FOX fox"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = _bi(df, analyzer="simple", bucket_bits=4, with_offsets=True)
    eng = SearchEngine(idx)
    hot = HotEngine(eng)
    terms = ["fox", "quick"]
    want = sorted(
        (r["doc_id"], r["term"], r["start"], r["length"])
        for r in eng.highlight(terms).collect()
    )
    assert hot.highlight(terms) == want
    # doc-restricted decode
    top = spark.createDataFrame([(1,), (4,)], "doc_id long")
    want_r = sorted(
        (r["doc_id"], r["term"], r["start"], r["length"])
        for r in eng.highlight(terms, doc_ids=top).collect()
    )
    assert hot.highlight(terms, doc_ids=[1, 4]) == want_r
    # occurrence blobs are accounted in residency
    assert hot.memory_stats()["occurrence_blob_bytes"] > 0
    # deletes suppress occurrences on both paths
    idx2 = idx.delete_docs(spark.createDataFrame([(4,)], "doc_id long"))
    eng2 = SearchEngine(idx2)
    hot2 = HotEngine(eng2)
    want_d = sorted(
        (r["doc_id"], r["term"], r["start"], r["length"])
        for r in eng2.highlight(terms).collect()
    )
    assert hot2.highlight(terms) == want_d
    assert all(d != 4 for d, *_ in hot2.highlight(terms))


def test_hot_payloads_matches_cluster(spark):
    from iresearch_spark.index.builder import build_index as _bi

    rows = [
        (0, "red|r1 blue|b1 red|r2"),
        (1, "blue|b2 plain red|r3"),
        (2, "green|g1 green|g2 green|g3"),
        (3, "red|r4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = _bi(df, analyzer="simple", bucket_bits=4, payload_delimiter="|")
    eng = SearchEngine(idx)
    hot = HotEngine(eng)
    for terms in (["red"], ["red", "green", "blue"]):
        want = sorted(
            (r["doc_id"], r["term"], r["occurrence"], bytes(r["payload"]))
            for r in eng.payloads(terms).collect()
        )
        assert hot.payloads(terms) == want
    top = spark.createDataFrame([(0,), (3,)], "doc_id long")
    want_r = sorted(
        (r["doc_id"], r["term"], r["occurrence"], bytes(r["payload"]))
        for r in eng.payloads(["red"], doc_ids=top).collect()
    )
    assert hot.payloads(["red"], doc_ids=[0, 3]) == want_r


def test_hot_highlight_requires_offsets(engines):
    _eng, hot = engines
    with pytest.raises(ValueError, match="without offsets"):
        hot.highlight(["quick"])
    with pytest.raises(ValueError, match="without payloads"):
        hot.payloads(["quick"])


def test_hot_top_docs_matches_cluster(spark):
    from iresearch_spark.index.builder import build_index as _bi

    rows = [
        (f"u{i:02d}", 100 - i, f"alpha {'beta' if i % 3 == 0 else 'gamma'} t{i % 4}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "url string, n long, text string")
    idx = _bi(
        df, analyzer="simple", id_col=None, sort_key="url",
        sort_field="n", sort_ascending=False, bucket_bits=6,
        extra_doc_cols=["url", "n"],
    )
    eng = SearchEngine(idx)
    hot = HotEngine(eng)
    want = [
        (r["doc_id"], r["url"], r["n"])
        for r in eng.top_docs(k=7, columns=["doc_id", "url", "n"]).collect()
    ]
    got = [
        (r["doc_id"], r["url"], r["n"])
        for r in hot.top_docs(k=7, columns=["doc_id", "url", "n"])
    ]
    assert got == want
    # query-restricted early termination
    q = Term("beta")
    want_q = [
        (r["doc_id"], r["n"])
        for r in eng.top_docs(k=5, query=q, columns=["doc_id", "n"]).collect()
    ]
    got_q = [
        (r["doc_id"], r["n"])
        for r in hot.top_docs(k=5, query=q, columns=["doc_id", "n"])
    ]
    assert got_q == want_q
    # deletes respected
    first = want[0][0]
    idx2 = idx.delete_docs(spark.createDataFrame([(first,)], "doc_id long"))
    hot2 = HotEngine(SearchEngine(idx2))
    got_d = hot2.top_docs(k=3)
    assert all(r["doc_id"] != first for r in got_d)
    assert [r["doc_id"] for r in got_d] == [
        r["doc_id"]
        for r in SearchEngine(idx2).top_docs(k=3, columns=["doc_id"]).collect()
    ]


def test_hot_search_many_matches_cluster(engines):
    eng, hot = engines
    tasks = {
        "t1": Term("quick"),
        "t2": And([Term("quick"), Term("lazy")]),
        "t3": Or([Term("fox"), Term("dog")], min_match=1),
        "t4": Phrase(("quick", "brown")),
    }
    got = hot.search_many(tasks, k=8)
    rows = eng.search_many(tasks, k=8).collect()
    want = {}
    for r in rows:
        want.setdefault(r["query"], []).append(
            (r["doc_id"], round(r["score"], 9))
        )
    assert set(got) == set(tasks)
    for name in tasks:
        assert [(d, round(s, 9)) for d, s in got[name]] == want.get(name, [])


def test_hot_concurrent_serving(engines):
    """A serving replica answers from a request thread pool: 8 threads
    x 25 mixed-shape queries each against ONE HotEngine, on a COLD
    engine (so the lazy decode/expansion/column caches are populated
    under contention), must produce exactly the single-threaded
    results. The caches are grow-only dicts mutated under the GIL;
    this pins that contract."""
    from concurrent.futures import ThreadPoolExecutor

    eng, _ = engines
    hot = HotEngine(eng)  # cold: caches fill concurrently
    tasks = [(i % len(QUERIES), QUERIES[i % len(QUERIES)]) for i in range(200)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        got = list(ex.map(lambda t: (t[0], hot.search(t[1], k=10)), tasks))
    want = {i: hot.search(q, k=10) for i, q in enumerate(QUERIES)}
    for i, res in got:
        assert res == want[i]
    # WAND mode under the same contention (bound caches shared too)
    hot2 = HotEngine(eng)
    with ThreadPoolExecutor(max_workers=8) as ex:
        got2 = list(
            ex.map(lambda t: (t[0], hot2.search(t[1], k=10, mode="wand")), tasks)
        )
    for i, res in got2:
        assert res == want[i]
