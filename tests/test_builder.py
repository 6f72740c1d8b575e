"""Index-builder correctness vs a brute-force Python oracle (the
reference's golden "expected index" comparator pattern,
`tests/index/assert_format.cpp`)."""

import collections

import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis import get_analyzer
from iresearch_spark.index.builder import build_index


def _corpus(n=300, seed=7):
    import random

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "rare"]
    weights = [30, 20, 15, 10, 5, 3, 1]
    rows = []
    for i in range(n):
        k = rng.randint(3, 40)
        words = rng.choices(vocab, weights=weights, k=k)
        rows.append((i, " ".join(words)))
    return rows


def _oracle(rows):
    """term -> {doc: (freq, positions)}, plus per-doc dl."""
    postings = collections.defaultdict(dict)
    dls = {}
    analyzer = get_analyzer("simple")
    for doc_id, text in rows:
        terms, positions = analyzer.analyze(text)
        dls[doc_id] = len(terms)
        per = collections.defaultdict(list)
        for t, p in zip(terms, positions):
            per[t].append(p)
        for t, ps in per.items():
            postings[t][doc_id] = (len(ps), ps)
    return postings, dls


@pytest.fixture(scope="module")
def built(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(df, analyzer="simple", bucket_bits=7)  # tiny buckets
    return rows, idx


def test_decoded_postings_match_oracle(built):
    rows, idx = built
    postings, dls = _oracle(rows)
    got = idx.decoded_postings(with_positions=True).collect()
    seen = collections.defaultdict(dict)
    for r in got:
        seen[r["term"]][r["doc_id"]] = (r["freq"], list(r["positions"]))
        assert r["dl"] == dls[r["doc_id"]]
    assert dict(seen) == {t: d for t, d in postings.items()}


def test_term_stats(built):
    rows, idx = built
    postings, dls = _oracle(rows)
    stats = {r["term"]: (r["df"], r["cf"]) for r in idx.term_stats.collect()}
    for t, d in postings.items():
        df_ = len(d)
        cf = sum(f for f, _ in d.values())
        assert stats[t] == (df_, cf), t


def test_field_stats(built):
    rows, idx = built
    _, dls = _oracle(rows)
    assert idx.field_stats.n_docs == len([d for d in dls.values() if d > 0])
    assert idx.field_stats.total_term_freq == sum(dls.values())


def test_blocks_are_ordered_and_bounded(built):
    _, idx = built
    blocks = idx.postings.collect()
    by_term = collections.defaultdict(list)
    for b in blocks:
        assert 1 <= b["n_docs"] <= 128
        assert b["first_doc"] <= b["last_doc"]
        by_term[b["term"]].append(b)
    for t, bs in by_term.items():
        bs.sort(key=lambda b: b["block_id"])
        for a, b in zip(bs, bs[1:]):
            assert a["last_doc"] < b["first_doc"], t  # global doc order


def test_bucketing_invariant(spark, built):
    """Different bucket sizes must yield identical decoded postings."""
    rows, idx = built
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx2 = build_index(df, analyzer="simple", bucket_bits=16)
    a = sorted(
        (r["term"], r["doc_id"], r["freq"], r["dl"])
        for r in idx.decoded_postings().collect()
    )
    b = sorted(
        (r["term"], r["doc_id"], r["freq"], r["dl"])
        for r in idx2.decoded_postings().collect()
    )
    assert a == b


def test_save_load_roundtrip(tmp_path, spark, built):
    rows, idx = built
    from iresearch_spark.index.model import InvertedIndex

    idx.save(str(tmp_path / "ix"))
    idx2 = InvertedIndex.load(spark, str(tmp_path / "ix"))
    assert idx2.field_stats.n_docs == idx.field_stats.n_docs
    a = sorted(
        (r["term"], r["doc_id"], r["freq"]) for r in idx.decoded_postings().collect()
    )
    b = sorted(
        (r["term"], r["doc_id"], r["freq"]) for r in idx2.decoded_postings().collect()
    )
    assert a == b


def test_fused_build_partitioning_independent(spark):
    """The fused (sort_key) build must produce BYTE-IDENTICAL posting
    blocks regardless of input partitioning (SURVEY §7.0 determinism:
    block content is a pure function of the data and parameters)."""
    from iresearch_spark.corpus import generate_pages

    def build_sig(n_parts):
        pages = generate_pages(spark, 1500, seed=23).repartition(n_parts)
        idx = build_index(
            pages, id_col=None, sort_key="url", analyzer="segmentation",
            seg_bits=8,
        )
        rows = idx.postings.select(
            "term", "block_id", "docs", "dls", "positions"
        ).collect()
        sig = sorted(
            (r["term"], r["block_id"], bytes(r["docs"]), bytes(r["dls"]),
             bytes(r["positions"]) if r["positions"] else b"")
            for r in rows
        )
        idx.unpersist()
        return sig

    assert build_sig(1) == build_sig(7)
