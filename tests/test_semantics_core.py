"""The shared query-semantics core (search/semantics.py): it stays
Spark-free, every tier sums a doc's leaf scores with the same left fold
in leaf order, and merged multi-segment views compare segment configs
with per-key defaults."""

import ast as pyast
import json
import os
import random

import numpy as np
import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import check_segments_agree
from iresearch_spark.search import Or, SearchEngine, Term, Terms
from iresearch_spark.search import semantics
from iresearch_spark.search.hot import HotEngine
from iresearch_spark.streaming.incremental import IncrementalIndexer


def test_semantics_imports_no_pyspark():
    tree = pyast.parse(open(semantics.__file__).read())
    for node in pyast.walk(tree):
        if isinstance(node, pyast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, pyast.ImportFrom):
            mods = [node.module or ""]
        else:
            continue
        for m in mods:
            assert m.split(".")[0] != "pyspark", m


def test_fold_sum_is_a_left_fold():
    rng = np.random.default_rng(5)
    lens = rng.integers(1, 6, size=600)
    s = rng.random(int(lens.sum())) * 20.0
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    for f32 in (False, True):
        dt = np.float32 if f32 else np.float64
        want = []
        for a, n in zip(starts, lens):
            acc = dt(s[a])
            for x in s[a + 1 : a + n]:
                acc = dt(acc + dt(x))
            want.append(float(acc))
        assert semantics.fold_sum(s, starts, f32).tolist() == want
    # the pairwise np.add.reduceat order really is different
    assert not np.array_equal(
        np.add.reduceat(s, starts), semantics.fold_sum(s, starts)
    )


VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]


@pytest.fixture(scope="module")
def idx(spark):
    rng = random.Random(305)
    rows = [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(3, 40))))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return build_index(df, id_col="doc_id", text_col="text")


@pytest.mark.parametrize("dtype", ["float64", "float32"])
def test_three_term_or_is_one_left_fold_in_every_tier(idx, dtype):
    eng = SearchEngine(idx, score_dtype=dtype)
    hot = HotEngine(eng)
    leaves = [Term("alpha"), Term("beta"), Term("gamma")]
    per_leaf = [dict(hot.matches(t)) for t in leaves]
    acc_t = np.float32 if dtype == "float32" else np.float64
    want = {}
    for doc in set().union(*per_leaf):
        acc = acc_t(0.0)
        for scores in per_leaf:
            if doc in scores:
                acc = acc_t(acc + acc_t(scores[doc]))
        want[doc] = float(acc)
    q = Or(leaves)
    got = dict(hot.matches(q))
    assert sum(1 for s in per_leaf if 17 in s) == 3  # 3-way sums exist
    assert got == want
    cluster = {r["doc_id"]: r["score"] for r in eng.matches(q).collect()}
    assert cluster == got
    top = [(r["doc_id"], r["score"]) for r in eng.search(q, k=25).collect()]
    assert hot.search(q, k=25) == top


@pytest.mark.parametrize("dtype", ["float64", "float32"])
def test_terms_leaf_scored_cap_is_shared(idx, dtype):
    # a Terms leaf scores only its top scored_terms_limit terms by
    # (df desc, term asc); the rest match at weight 0 in every tier
    eng = SearchEngine(idx, score_dtype=dtype, scored_terms_limit=2)
    hot = HotEngine(eng)
    q = Terms(["alpha", "beta", "gamma", "delta", "eps"])
    cluster = {r["doc_id"]: r["score"] for r in eng.matches(q).collect()}
    got = dict(hot.matches(q))
    assert len(got) > 500
    assert got == cluster
    full = dict(HotEngine(SearchEngine(idx, score_dtype=dtype)).matches(q))
    assert any(full[d] > got[d] for d in got)  # the cap bites
    top = [(r["doc_id"], r["score"]) for r in eng.search(q, k=25).collect()]
    assert hot.search(q, k=25) == top


def test_segment_config_defaults():
    explicit = {"with_positions": True, "with_offsets": False,
                "with_payloads": False, "analyzer": None, "norm": "norm2"}
    implicit = {"with_positions": True}
    check_segments_agree([explicit, implicit], "reading")
    with pytest.raises(ValueError, match="disagree on 'norm'"):
        check_segments_agree([implicit, dict(explicit, norm="legacy")], "reading")
    with pytest.raises(ValueError, match="disagree on 'analyzer'"):
        check_segments_agree([implicit, dict(explicit, analyzer="simple")], "x")


def test_merged_view_accepts_omitted_default_keys(spark, tmp_path):
    d = str(tmp_path / "ix")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7)
    for b, word in enumerate(("alpha", "beta")):
        ix.process_batch(
            spark.createDataFrame(
                [(f"{word}{i}", f"{word} common w{i % 5}") for i in range(12)],
                "url string, text string",
            ),
            b,
        )
    with open(os.path.join(d, "manifest.json")) as f:
        segs = [s["id"] for s in json.load(f)["segments"]]
    paths = [os.path.join(d, "segments", s, "manifest.json") for s in segs]
    for p, drop in zip(paths, ("norm", "with_offsets")):
        with open(p) as f:
            m = json.load(f)
        assert drop in m
        del m[drop]
        with open(p, "w") as f:
            json.dump(m, f)
    emb = HotEngine.from_dir(d)
    cluster = SearchEngine(IncrementalIndexer(index_dir=d).read(spark))
    q = Term("common")
    want = [(r["doc_id"], r["score"]) for r in cluster.search(q, k=30).collect()]
    assert len(want) == 24
    assert emb.search(q, k=30) == want
    with open(paths[1]) as f:
        m = json.load(f)
    m["norm"] = "legacy"
    with open(paths[1], "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="disagree on 'norm'"):
        HotEngine.from_dir(d)
    with pytest.raises(ValueError, match="disagree on 'norm'"):
        IncrementalIndexer(index_dir=d).read(spark)
