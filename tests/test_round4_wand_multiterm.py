"""Round-4b: WAND for EXPANDED multiterm leaves (Prefix/Wildcard/
Range/Fuzzy) — completing the reference's "every scored multiterm
through the wanderator" coverage (multiterm_query.cpp:36-100).

A completely-expanded leaf (expansion finished below its
scored_terms_limit cap; always true for Fuzzy) contributes its
(term, boost) pairs to the block-max weight map; the pruned scan then
re-evaluates the ORIGINAL query, so group semantics (And counts,
min_match, Not) are preserved. An expansion that HIT the cap keeps
the pattern predicate authoritative over unscored extra terms, so it
falls back to the exhaustive plan (Semantics.wand_leaf_boosts).

Differential: mode="wand" must be result-identical to exhaustive for
every shape, both with the adaptive shard count and with the query
forced onto several doc-range shards (WAND then runs per shard).
"""

import pytest
from pyspark.sql import SparkSession

from iresearch_spark.index.builder import build_index
from iresearch_spark.search import (
    And,
    Fuzzy,
    Or,
    Prefix,
    Range,
    SearchEngine,
    Term,
    Terms,
    Wildcard,
)


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("round4-wand-multiterm")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="module")
def idx(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ix = build_index(docs, analyzer="simple", bucket_bits=8)
    ix.cache()
    ix.postings.count()
    return ix


SHAPES = [
    Prefix("sc"),
    Wildcard("s%k"),
    Fuzzy("spork", distance=1),
    Fuzzy("spork", distance=1, transpositions=True),
    Range(min_term="m", max_term="q"),
    Or([Prefix("sc", boost=2.0), Term("batch")]),
    Or([Wildcard("s%k"), Terms(["batch", "key"], term_boosts={"key": 0.5})]),
    And([Prefix("sc"), Term("batch")]),
    Or([Fuzzy("spork", distance=1), Prefix("du")], boost=1.5),
    Or([Prefix("sc"), Term("batch"), Term("dup")], min_match=2),
]


@pytest.mark.parametrize(
    "shape", SHAPES, ids=lambda s: f"{type(s).__name__}{SHAPES.index(s)}"
)
@pytest.mark.parametrize("forced", [False, True], ids=["adaptive", "forced"])
def test_wand_multiterm_equals_exhaustive(idx, shape, forced, monkeypatch):
    if forced:
        from iresearch_spark.search import executor

        monkeypatch.setattr(executor, "POSTINGS_PER_SHARD", 64)
    eng = SearchEngine(idx)
    exh = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(shape, k=10).collect()
    ]
    wnd = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(shape, k=10, mode="wand").collect()
    ]
    assert exh and exh == wnd


def test_capped_expansion_not_wand_eligible(idx):
    """A Prefix whose expansion hits scored_terms_limit matches
    unscored terms beyond the sample — it must NOT enter the WAND
    weight map (the pruned scan would drop those matches); results
    still correct via the exhaustive fallback."""
    eng = SearchEngine(idx, scored_terms_limit=2)
    node = Prefix("s", scored_terms_limit=2)
    assert eng.sem.wand_terms(node, eng._leaf_expansion) is None
    exh = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(node, k=10).collect()
    ]
    wnd = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(node, k=10, mode="wand").collect()
    ]
    assert exh == wnd


def test_expansion_cache_reused(idx):
    """One expansion job per distinct leaf: the WAND passes and a
    repeated execution hit the per-node cache."""
    eng = SearchEngine(idx)
    node = Fuzzy("spork", distance=1)
    eng.search(node, k=5, mode="wand").collect()
    assert node in eng._expansion_cache
    first = eng._expansion_cache[node]
    eng.search(node, k=5).collect()
    assert eng._expansion_cache[node] is first


def test_duplicate_terms_across_leaves_fall_back(idx):
    """Prefix('sc') expands to terms overlapping Term('scan') — the
    weight map would collapse them, so WAND must decline (exhaustive
    handles duplicates exactly)."""
    eng = SearchEngine(idx)
    node = Or([Prefix("sca"), Term("scan")])
    # only a real overlap makes this test meaningful
    expanded, complete = eng._leaf_expansion(Prefix("sca"))
    assert complete and "scan" in {t for t, _ in expanded}
    assert eng.sem.wand_terms(node, eng._leaf_expansion) is None
    exh = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(node, k=10).collect()
    ]
    wnd = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(node, k=10, mode="wand").collect()
    ]
    assert exh == wnd
