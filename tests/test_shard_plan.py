"""The cluster's shard plan: a postings-only query compiles on the
driver (global df, expansions, scorer, delete mask) and runs as ONE
mapInArrow over its posting blocks, each doc-range shard evaluating it
with the hot tier's HotState. The answers must be rank- and
bit-identical to the hot and embedded tiers for every postings-only
shape, both score dtypes, exhaustive and WAND, at 1, 2 and 3 shards —
on an index with deletes whose posting blocks straddle the shard
boundaries — and a query must cost exactly one Spark job on one shard."""

import random

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import InvertedIndex
from iresearch_spark.search import (
    And,
    Exists,
    Fuzzy,
    Nested,
    NgramSimilarity,
    Not,
    NumericRange,
    Or,
    Phrase,
    Prefix,
    SamePosition,
    SearchEngine,
    Should,
    Term,
    Wildcard,
    executor,
    planner,
)
from iresearch_spark.search.hot import HotEngine

N_DOCS = 900
WORDS = ["alpha", "beta", "gamma", "delta", "spork", "sport", "scan", "scone"]
DELETED = {i for i in range(N_DOCS) if i % 7 == 3}

QUERIES = {
    "term": Term("alpha"),
    "and": And([Term("alpha"), Term("beta")]),
    "or": Or([Term("alpha"), Term("gamma"), Term("delta")]),
    "minmatch": Or([Term("beta"), Term("gamma"), Term("delta")], min_match=2),
    "not": And([Term("alpha"), Not(Term("beta"))]),
    "should": And([Term("gamma"), Should(Term("delta"), boost=2.0)]),
    "phrase": Phrase(("alpha", "beta")),
    "prefix": Prefix("sc"),
    "wildcard": Wildcard("sp%t"),
    "fuzzy": Fuzzy("spork", distance=1),
    "boosted_or": Or([Prefix("sp", boost=1.5), Term("delta")]),
    # a capped expansion: the unscored terms still match (weight 0)
    "capped_prefix": Or([Prefix("s", scored_terms_limit=2), Term("delta")]),
}


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    rng = random.Random(11)
    rows = [
        (i, " ".join(rng.choices(WORDS, weights=[9, 6, 5, 4, 2, 2, 2, 1],
                                 k=rng.randint(3, 30))))
        for i in range(N_DOCS)
    ]
    idx = build_index(
        spark.createDataFrame(rows, "doc_id long, text string"),
        id_col="doc_id",
        text_col="text",
        bucket_bits=6,
    )
    idx = idx.delete_docs(
        spark.createDataFrame([(d,) for d in sorted(DELETED)], "doc_id long")
    )
    path = str(tmp_path_factory.mktemp("shards") / "ix")
    idx.save(path)
    return path


@pytest.fixture(scope="module", params=["float64", "float32"])
def tiers(request, spark, saved):
    dtype = request.param
    eng = SearchEngine(
        InvertedIndex.load(spark, saved).cache(),
        score_dtype=dtype,
        preload_stats=True,
    )
    return eng, HotEngine(eng), HotEngine.from_dir(saved, score_dtype=dtype)


def _force_shards(monkeypatch, eng, node, n):
    """Patch POSTINGS_PER_SHARD so `node` runs on exactly n shards (the
    rows a scan reads: its postings plus its side rows)."""
    rows = eng._shard_scan({"": planner.normalize(node)}, 10)[2]
    monkeypatch.setattr(executor, "POSTINGS_PER_SHARD", -(-rows // n))
    assert eng._shard_scan({"": planner.normalize(node)}, 10)[1] == n


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("n_shards", [1, 2, 3])
def test_cluster_hot_embedded_bit_identical(tiers, monkeypatch, n_shards):
    eng, hot, emb = tiers
    for name, q in QUERIES.items():
        _force_shards(monkeypatch, eng, q, n_shards)
        want = hot.search(q, k=10)
        assert want and not {d for d, _ in want} & DELETED, name
        assert emb.search(q, k=10) == want, name
        for mode in ("exhaustive", "wand"):
            assert _rows(eng.search(q, k=10, mode=mode)) == want, (name, mode)


def test_blocks_straddle_shard_boundaries(spark, saved):
    """The 3-shard split cuts through posting blocks of the query terms
    (a block then goes to both shards and is clipped after decode)."""
    ix = InvertedIndex.load(spark, saved)
    width = -(-N_DOCS // 3)
    rows = ix.postings_for_terms(["alpha", "beta"]).select(
        "first_doc", "last_doc").collect()
    assert any(
        r["first_doc"] // width != r["last_doc"] // width for r in rows
    )


def test_offset_doc_ids_spread_over_shards(spark, monkeypatch):
    """Sparse, offset doc ids (build_index takes them from id_col): the
    shards split the index's actual doc-id span, so each one gets work,
    and the answers still match the hot tier."""
    rng = random.Random(3)
    base = 10**9
    rows = [
        (base + 37 * i, " ".join(rng.choices(WORDS[:4], k=rng.randint(3, 20))))
        for i in range(600)
    ]
    eng = SearchEngine(
        build_index(
            spark.createDataFrame(rows, "doc_id long, text string"),
            id_col="doc_id",
            text_col="text",
            bucket_bits=6,
        ).cache()
    )
    hot = HotEngine(eng)
    blocks = eng.index.postings_for_terms(["alpha", "beta"])
    split, lo, width = eng._shard_blocks(blocks, 3)
    assert (lo, width) == (base, -(-(37 * 599 + 1) // 3))
    assert sorted(r["_shard"] for r in split.select("_shard").distinct()
                  .collect()) == [0, 1, 2]
    for q in (QUERIES["or"], QUERIES["and"], QUERIES["phrase"]):
        want = hot.search(q, k=10)
        _force_shards(monkeypatch, eng, q, 3)
        for mode in ("exhaustive", "wand"):
            assert _rows(eng.search(q, k=10, mode=mode)) == want


@pytest.mark.parametrize("per_shard", [10**12, 50], ids=["one", "many"])
def test_search_many_and_matches_across_shards(tiers, monkeypatch, per_shard):
    eng, hot, _ = tiers
    monkeypatch.setattr(executor, "POSTINGS_PER_SHARD", per_shard)
    got = {}
    for r in eng.search_many(QUERIES, k=7, mode="wand").collect():
        got.setdefault(r["query"], []).append((r["doc_id"], r["score"]))
    assert got == {n: hot.search(q, k=7) for n, q in QUERIES.items()}
    for name in ("or", "phrase", "not", "capped_prefix"):
        q = QUERIES[name]
        assert sorted(_rows(eng.matches(q))) == sorted(hot.matches(q)), name


def test_one_spark_job_per_query(spark, saved, monkeypatch, spark_jobs):
    eng = SearchEngine(InvertedIndex.load(spark, saved).cache(),
                       preload_stats=True)
    eng.search(Term("alpha"), k=1).collect()  # delete mask collected once
    for name in ("term", "and", "or", "phrase"):
        q = QUERIES[name]
        assert spark_jobs(lambda: eng.search(q, k=10).collect()) == 1, name
    q = QUERIES["or"]
    assert spark_jobs(lambda: eng.search(q, k=10, mode="wand").collect()) == 1
    monkeypatch.setattr(executor, "POSTINGS_PER_SHARD", 50)
    eng.search(q, k=10).collect()  # the doc-id span is read once
    assert spark_jobs(lambda: eng.search(q, k=10, mode="wand").collect()) <= 2


def test_plan_size_does_not_grow_with_deletes(spark, monkeypatch):
    """The delete mask reaches the shards as side rows, not inside the
    pickled plan: one query's ShardPlan is the same size on an index
    with 10 deleted docs and on one with 10,000."""
    from pyspark import cloudpickle

    from iresearch_spark.search import hot

    rows = [(i, f"{WORDS[i % 4]} {WORDS[i % 7]}") for i in range(10_100)]
    idx = build_index(
        spark.createDataFrame(rows, "doc_id long, text string"),
        id_col="doc_id",
        text_col="text",
        bucket_bits=6,
    )
    plans = []
    kernel = hot.shard_kernel
    monkeypatch.setattr(hot, "shard_kernel", lambda p: plans.append(p) or kernel(p))
    sizes = []
    for n_deleted in (10, 10_000):
        eng = SearchEngine(idx.delete_docs(
            spark.range(n_deleted).withColumnRenamed("id", "doc_id")
        ))
        got = _rows(eng.search(Term("alpha"), k=5))
        assert len(got) == 5 and min(d for d, _ in got) >= n_deleted
        sizes.append(len(cloudpickle.dumps(plans[-1])))
    assert sizes[0] == sizes[1]


def test_wand_stats_sum_over_shards(spark, saved, monkeypatch):
    eng = SearchEngine(InvertedIndex.load(spark, saved).cache())
    eng.collect_wand_stats = True
    q = QUERIES["or"]
    one = _rows(eng.search(q, k=3, mode="wand"))
    s1 = eng.last_wand_stats
    monkeypatch.setattr(executor, "POSTINGS_PER_SHARD", 50)
    assert _rows(eng.search(q, k=3, mode="wand")) == one
    s3 = eng.last_wand_stats
    assert s1["blocks_total"] >= s1["blocks_kept"] > 0
    # straddling blocks count once per shard they reach
    assert s3["blocks_total"] >= s1["blocks_total"]
    assert s3["blocks_total"] >= s3["blocks_kept"] > 0


@pytest.fixture(scope="module")
def nested_saved(spark, tmp_path_factory):
    """Parents 0..9; children 10.. with parent_id = i % 10, so every
    parent has many children matching the child query; a numeric doc
    column n."""
    rng = random.Random(5)
    rows = []
    for i in range(200):
        text = " ".join(rng.choices(WORDS[:4], k=rng.randint(2, 25)))
        rows.append((i, text, None if i < 10 else i % 10, float(i % 13)))
    idx = build_index(
        spark.createDataFrame(
            rows, "doc_id long, text string, parent_id long, n double"
        ),
        id_col="doc_id",
        text_col="text",
        bucket_bits=6,
        extra_doc_cols=["parent_id", "n"],
    )
    path = str(tmp_path_factory.mktemp("nested") / "ix")
    idx.save(path)
    return path


@pytest.mark.parametrize("dtype", ["float64", "float32"])
def test_nested_rollup_folds_children_in_doc_order(spark, nested_saved, dtype):
    """A parent's sum over 3+ matching children is the left fold in
    child doc-id order, bit-equal across cluster, hot and embedded."""
    eng = SearchEngine(InvertedIndex.load(spark, nested_saved).cache(),
                       score_dtype=dtype)
    hot = HotEngine(eng)
    emb = HotEngine.from_dir(nested_saved, score_dtype=dtype)
    child = Or([Term("alpha"), Term("gamma")])
    node = Nested(child, min_children=3)
    want = sorted(_rows(eng.matches(node)))
    assert len(want) == 10
    assert sorted(hot.matches(node)) == want
    assert sorted(emb.matches(node)) == want
    scores = dict(hot.matches(child))
    for parent, score in want:
        acc = 0.0
        for c in sorted(d for d in scores if d >= 10 and d % 10 == parent):
            acc += scores[c]
        assert score == acc, parent


def test_mixed_tree_jobs(spark, nested_saved, spark_jobs, monkeypatch):
    """Every tree is one shard scan: a tree mixing in docs-table leaves
    is one Spark job on one shard and at most two (its shard shuffle)
    on several, a Nested tree at most three (its child's scan feeds the
    parents' shards), and a root NgramSimilarity is one job."""
    eng = SearchEngine(InvertedIndex.load(spark, nested_saved).cache(),
                       preload_stats=True)
    eng.search(Term("alpha"), k=1).collect()
    mixed = (
        And([Term("alpha"), Exists("n")]),
        Or([Phrase(("alpha", "beta")), NumericRange("n", 2.0, 6.0)]),
    )
    nested = Nested(Or([Term("alpha"), Term("gamma")]))
    for q in mixed:
        assert spark_jobs(lambda: eng.search(q, k=10).collect()) == 1, q
    assert spark_jobs(lambda: eng.search(nested, k=10).collect()) <= 3
    q = NgramSimilarity(("alpha", "beta", "gamma"), threshold=0.5)
    assert spark_jobs(lambda: eng.search(q, k=10).collect()) == 1
    monkeypatch.setattr(executor, "POSTINGS_PER_SHARD", 50)
    assert eng._shard_scan({"": mixed[0]}, 10)[1] > 1
    eng.search(mixed[0], k=10).collect()  # the doc-id span is read once
    for q in mixed:
        assert spark_jobs(lambda: eng.search(q, k=10).collect()) <= 2, q
    assert spark_jobs(lambda: eng.search(nested, k=10).collect()) <= 3


def test_positional_leaves_need_positions(spark):
    """Phrase, SamePosition and NgramSimilarity on an index built
    without positions fail on the driver with a clear message, at the
    root and inside a tree that mixes in a docs-table leaf."""
    rows = [(i, "alpha beta gamma", float(i)) for i in range(20)]
    eng = SearchEngine(build_index(
        spark.createDataFrame(rows, "doc_id long, text string, n double"),
        id_col="doc_id",
        text_col="text",
        bucket_bits=6,
        with_positions=False,
        extra_doc_cols=["n"],
    ))
    for leaf in (
        Phrase(("alpha", "beta")),
        SamePosition(("alpha", "beta")),
        NgramSimilarity(("alpha", "beta"), threshold=0.5),
    ):
        for q in (leaf, And([leaf, Exists("n")])):
            with pytest.raises(ValueError, match="built without positions"):
                eng.search(q, k=5)
            with pytest.raises(ValueError, match="built without positions"):
                eng.matches(q)
