"""Round-3 search_many extensions: expandable leaves (Prefix/Wildcard/
Fuzzy/Terms/Range), plain phrases, and WAND mode all ride shared scans
— results must be identical to per-query search()."""

from __future__ import annotations

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.search import (
    And,
    Fuzzy,
    Not,
    Or,
    Phrase,
    Prefix,
    Range,
    SamePosition,
    SearchEngine,
    Term,
    Terms,
    Wildcard,
)


@pytest.fixture(scope="module")
def eng(spark):
    rows = [
        (i, " ".join(
            ["alpha"] * (1 + i % 3)
            + (["alps", "alphabet"] if i % 4 == 0 else [])
            + (["beta"] if i % 2 else ["bravo"])
            + (["gamma", "delta"] if i % 5 == 0 else ["epsilon"])
        ))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return SearchEngine(build_index(df, analyzer="simple", bucket_bits=7))


QUERIES = {
    "prefix": Prefix("alp"),
    "wildcard": Wildcard("b%a"),
    "fuzzy": Fuzzy("alpha", distance=1),
    "fuzzy_t": Fuzzy("alpah", distance=1, transpositions=True),
    "terms": Terms(["beta", "bravo"]),
    "range": Range("a", "c"),
    "mixed_and": And([Term("alpha"), Prefix("bet")]),
    "mixed_or": Or([Prefix("alp"), Term("gamma")], min_match=1),
    "dup_term_and": And([Term("alpha"), Term("alpha")]),
    "phrase": Phrase(["gamma", "delta"]),
    "phrase_boost": Phrase(["alpha", "beta"], boost=2.5),
    "same_pos": SamePosition(["alpha", "alpha"]),
    "term": Term("alpha"),
    # exclusions ride the shared scan: any hit on a Not-leaf's terms
    # drops the (query, doc) without scoring it
    "and_not": And([Term("alpha"), Not(Term("gamma"))]),
    "and_not_prefix": And([Prefix("alp"), Not(Term("delta"))]),
    "or_not_mm": Or(
        [Term("beta"), Term("bravo"), Not(Prefix("alp"))], min_match=1
    ),
}


def test_not_shapes_are_batched(eng):
    from iresearch_spark.search import planner

    for name in ("and_not", "and_not_prefix", "or_not_mm"):
        norm = planner.normalize(QUERIES[name])
        assert eng._shard_servable(norm), name


def _run(eng, queries, k, mode="exhaustive"):
    got = {}
    for r in eng.search_many(queries, k=k, mode=mode).collect():
        got.setdefault(r["query"], []).append(
            (r["doc_id"], round(r["score"], 9))
        )
    return got


def test_extended_shapes_match_individual(eng):
    got = _run(eng, QUERIES, k=6)
    for name, node in QUERIES.items():
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(node, k=6).collect()
        ]
        assert got.get(name, []) == want, name


def test_wand_mode_batches_and_matches(eng):
    wandable = {n: q for n, q in QUERIES.items() if n not in ()}
    got = _run(eng, wandable, k=6, mode="wand")
    for name, node in wandable.items():
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(node, k=6, mode="wand").collect()
        ]
        assert got.get(name, []) == want, name


def test_incomplete_prefix_expansion_falls_back(eng):
    """A Prefix whose expansion hits scored_terms_limit must fall back
    to its subplan (batch would silently drop unexpanded terms)."""
    q = {"p": Prefix("alp", scored_terms_limit=1)}
    got = _run(eng, q, k=6)
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q["p"], k=6).collect()
    ]
    assert got["p"] == want


def test_dead_slot_phrase_emits_nothing(eng):
    got = _run(eng, {"pz": Phrase(["alpha", "zzzmissing"])}, k=6)
    assert got.get("pz", []) == []
