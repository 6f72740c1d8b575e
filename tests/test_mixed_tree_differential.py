"""Generated query trees over every AST shape the cluster serves: Term,
Terms, Phrase (with a variadic slot), Prefix, Wildcard, Fuzzy and
NgramSimilarity postings leaves, Exists, NumericRange and AllDocs
docs-table leaves, under And / Or / Not / Should with boosts, min_match
and merge types, and Nested and Cached wrappers. On a small positions
index with deletes and stored doc columns, the cluster engine's
matches() and search() must equal the hot tier bit for bit, in both
score dtypes, with every shard scan on one and on three doc-range
shards; and so must the embedded tier over the saved index."""

import functools
import random
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F

from iresearch_spark.index.builder import build_index
from iresearch_spark.search import (
    AllDocs,
    And,
    Cached,
    Exists,
    Fuzzy,
    Nested,
    NgramSimilarity,
    Not,
    NumericRange,
    Or,
    Phrase,
    Prefix,
    SearchEngine,
    Should,
    Term,
    Terms,
    Wildcard,
    executor,
    planner,
)
from iresearch_spark.search.hot import HotEngine

N_DOCS = 240
N_PARENTS = 30
WORDS = ["alpha", "beta", "gamma", "delta", "spork", "sport", "scan", "scone"]
DELETED = {i for i in range(N_DOCS) if i % 7 == 3}
K = 5


class _Shards:
    """A POSTINGS_PER_SHARD stand-in that puts every shard scan on
    exactly n shards: the executor's ceil(postings / it) is n."""

    def __init__(self, n: int):
        self.n = n

    def __rfloordiv__(self, negated_postings: int) -> int:
        return -self.n


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    rng = random.Random(17)
    rows = []
    for i in range(N_DOCS):
        text = " ".join(
            rng.choices(WORDS, weights=[9, 6, 5, 4, 2, 2, 2, 1],
                        k=rng.randint(2, 14))
        )
        n = None if i % 11 == 0 else float(i % 25)
        tag = None if i % 3 == 0 else f"t{i % 5}"
        parent = None if i < N_PARENTS else i % N_PARENTS
        rows.append((i, text, n, tag, parent))
    idx = build_index(
        spark.createDataFrame(
            rows,
            "doc_id long, text string, n double, tag string, parent_id long",
        ),
        id_col="doc_id",
        text_col="text",
        bucket_bits=6,
        extra_doc_cols=["n", "tag", "parent_id"],
    )
    idx = idx.delete_docs(
        spark.createDataFrame([(d,) for d in sorted(DELETED)], "doc_id long")
    ).cache()
    path = str(tmp_path_factory.mktemp("mixed") / "ix")
    idx.save(path)
    out = []
    for dtype in ("float64", "float32"):
        eng = SearchEngine(idx, score_dtype=dtype, preload_stats=True)
        emb = HotEngine.from_dir(path, score_dtype=dtype)
        out.append((eng, HotEngine(eng), emb))
    return out


_boost = st.sampled_from([1.0, 1.0, 0.5, 2.0])
_merge = st.sampled_from(["sum", "sum", "max", "min", "noop"])
_word = st.sampled_from(WORDS)

_postings_leaf = st.one_of(
    st.builds(Term, _word, boost=_boost),
    st.builds(
        Terms, st.lists(_word, min_size=2, max_size=3, unique=True),
        boost=_boost,
    ),
    st.builds(
        Phrase,
        st.lists(_word | st.just(Prefix("sc")), min_size=2, max_size=3),
        boost=_boost,
    ),
    st.builds(Prefix, st.sampled_from(["sc", "sp", "s"]), boost=_boost),
    st.builds(Wildcard, st.sampled_from(["sp%t", "%a", "sc_n%"]), boost=_boost),
    st.builds(
        Fuzzy, st.sampled_from(["spork", "scan", "gama"]),
        distance=st.integers(1, 2), boost=_boost,
    ),
    st.builds(
        NgramSimilarity, st.lists(_word, min_size=2, max_size=4),
        threshold=st.sampled_from([0.5, 0.75, 1.0]), boost=_boost,
    ),
)
_docs_leaf = st.one_of(
    st.builds(Exists, st.sampled_from(["n", "tag"]), boost=_boost),
    st.builds(
        NumericRange, st.just("n"), st.sampled_from([None, 0.0, 5.0]),
        st.sampled_from([None, 10.0, 20.0]),
        include_min=st.booleans(), boost=_boost,
    ),
    st.builds(AllDocs, boost=_boost),
)


def _wrap(children):
    clause = children | st.builds(Not, children)
    return st.one_of(
        st.builds(
            And,
            st.lists(clause | st.builds(Should, children, boost=_boost),
                     min_size=2, max_size=3),
            boost=_boost, merge_type=_merge,
        ),
        st.builds(
            Or, st.lists(clause, min_size=2, max_size=3),
            min_match=st.integers(1, 2), boost=_boost, merge_type=_merge,
        ),
        st.builds(
            Nested, children, min_children=st.integers(1, 2),
            boost=_boost, merge_type=_merge,
        ),
        st.builds(Cached, children, boost=_boost),
    )


_tree = st.recursive(_postings_leaf | _docs_leaf, _wrap, max_leaves=6)
_case = st.tuples(_tree, st.sampled_from(["exhaustive", "wand"]))


def _cluster_rows(engines, cases) -> dict:
    """Every case's cluster matches() and search() rows for each engine
    and shard count, keyed (dtype, shards, kind + case index): one
    collect, so Spark runs the plans side by side."""
    parts = []
    for eng, _hot, _emb in engines:
        dtype = eng.sem.score_dtype
        for n in (1, 3):
            with mock.patch.object(executor, "POSTINGS_PER_SHARD", _Shards(n)):
                for i, (q, mode) in enumerate(cases):
                    for kind, df in (
                        ("m", eng.matches(q)),
                        ("s", eng.search(q, k=K, mode=mode)),
                    ):
                        parts.append(df.select(
                            F.lit(f"{dtype} {n} {kind}{i}").alias("case"),
                            "doc_id",
                            "score",
                        ))
    got: dict = {}
    for r in functools.reduce(DataFrame.unionByName, parts).collect():
        got.setdefault(r["case"], []).append((r["doc_id"], r["score"]))
    return got


@settings(
    max_examples=3,
    derandomize=True,
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_case, min_size=5, max_size=5))
def test_generated_trees_cluster_equals_hot(engines, cases):
    got = _cluster_rows(engines, cases)
    for eng, hot, emb in engines:
        dtype = eng.sem.score_dtype
        for i, (q, mode) in enumerate(cases):
            assert hot._servable(planner.normalize(q)), q
            want_m = sorted(hot.matches(q))
            want_s = hot.search(q, k=K, mode=mode)
            assert sorted(emb.matches(q)) == want_m, (dtype, "embedded", q)
            assert emb.search(q, k=K, mode=mode) == want_s, (dtype, "embedded", q)
            for n in (1, 3):
                have_m = sorted(got.get(f"{dtype} {n} m{i}", []))
                assert have_m == want_m, (dtype, n, "matches", q)
                # search() order (score desc, doc id asc) re-established
                # here: a union does not keep it
                have_s = sorted(
                    got.get(f"{dtype} {n} s{i}", []),
                    key=lambda r: (-r[1], r[0]),
                )
                assert have_s == want_s, (dtype, n, "search", mode, q)
