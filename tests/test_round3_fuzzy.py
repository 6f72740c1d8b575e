"""Round-3: vectorized OSA batch DP must match the scalar reference
implementation on a fuzz corpus, and the transpositions fuzzy query
path must stay correct."""

from __future__ import annotations

import random
import string

import numpy as np

from iresearch_spark.search.semantics import osa_distance, osa_distances_batch


def test_osa_batch_matches_scalar_fuzz():
    rng = random.Random(1234)
    alphabet = string.ascii_lowercase[:6] + "é"
    corpus = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 9)))
        for _ in range(3000)
    ]
    for q in ["", "a", "abca", "fedcba", "éabé", "abcdef"]:
        for cap in (1, 2, 3):
            band = [t for t in corpus if abs(len(t) - len(q)) <= cap]
            got = osa_distances_batch(q, np.array(band, dtype=object), cap)
            for t, g in zip(band, got):
                want = osa_distance(q, t, cap)
                # scalar caps at cap+1; batch reports true distance —
                # they must agree on everything <= cap and on the cut
                assert (g <= cap) == (want <= cap), (q, t, g, want)
                if want <= cap:
                    assert g == want, (q, t, g, want)


def test_osa_batch_transposition_cases():
    cases = [
        ("abcd", "abdc", 1),   # adjacent transposition
        ("abcd", "badc", 2),   # two transpositions
        ("ca", "abc", 3),      # OSA classic (true Damerau would be 2)
        ("abc", "abc", 0),
        ("abc", "", 3),
        ("", "ab", 2),
    ]
    qs = {q for q, _, _ in cases}
    for q in qs:
        terms = np.array([t for qq, t, _ in cases if qq == q], dtype=object)
        want = [d for qq, _, d in cases if qq == q]
        got = osa_distances_batch(q, terms, 10)
        assert list(got) == want, (q, list(got), want)


def test_fuzzy_transpositions_query(spark):
    from iresearch_spark.index.builder import build_index
    from iresearch_spark.search import Fuzzy, SearchEngine

    rows = [
        (0, "haus is here"),
        (1, "hasu once"),       # transposition of haus -> OSA 1
        (2, "huas twice"),      # transposition of a,u -> OSA 1
        (3, "habs three"),      # substitution -> 1 either way
        (4, "xyz nothing"),
    ]
    idx = build_index(
        spark.createDataFrame(rows, "doc_id long, text string"),
        analyzer="simple",
        bucket_bits=4,
    )
    eng = SearchEngine(idx)
    with_t = {
        r["doc_id"]
        for r in eng.matches(Fuzzy("haus", distance=1, transpositions=True)).collect()
    }
    without_t = {
        r["doc_id"]
        for r in eng.matches(Fuzzy("haus", distance=1, transpositions=False)).collect()
    }
    assert with_t == {0, 1, 2, 3}
    # plain Levenshtein: 'hasu' is distance 2 from 'haus'
    assert without_t == {0, 3}
