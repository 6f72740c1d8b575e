"""Property tests for the k-gram pruning lemmas (no Spark).

The gram index is sound only if candidate selection can NEVER drop a
true match; these pin the two lemmas with hypothesis:

1. wildcard: every term matching a LIKE pattern contains ALL of
   `wildcard_required_grams(pattern)` among its padded 3-grams.
2. fuzzy (q-gram count filtering, Gravano et al. VLDB'01): if
   edit_distance(s, t) <= d then t's padded 3-gram set contains at
   least |G(s)| - q*d of s's distinct padded grams (q+1 per edit with
   transpositions/OSA).
"""

import re

from hypothesis import given, settings, strategies as st

from iresearch_spark.search.semantics import like_to_regex
from iresearch_spark.search.semantics import wildcard_required_grams

ALPHA = "abcdef"


def _padded_grams(term: str) -> set[str]:
    p = "\x02" + term + "\x03"
    return {p[i : i + 3] for i in range(len(p) - 2)}


@st.composite
def _pattern_and_term(draw):
    """A LIKE pattern and a term GUARANTEED to match it (built by
    replacing % with arbitrary runs and _ with one char)."""
    n = draw(st.integers(1, 8))
    pieces = draw(
        st.lists(
            st.sampled_from(list(ALPHA) + ["%", "_"]), min_size=n, max_size=n
        )
    )
    pattern = "".join(pieces)
    term = ""
    for ch in pieces:
        if ch == "%":
            term += draw(st.text(ALPHA, max_size=4))
        elif ch == "_":
            term += draw(st.sampled_from(ALPHA))
        else:
            term += ch
    return pattern, term


@settings(max_examples=500, deadline=None)
@given(_pattern_and_term())
def test_required_grams_never_drop_a_match(pt):
    pattern, term = pt
    # sanity: the constructed term really matches
    assert re.match(like_to_regex(pattern), term)
    req = wildcard_required_grams(pattern)
    assert set(req) <= _padded_grams(term)


def _osa(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(
                d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost
            )
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + cost)
    return d[la][lb]


def _lev(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    d = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, d[0] = d[0], i
        for j in range(1, lb + 1):
            cur = min(
                d[j] + 1,
                d[j - 1] + 1,
                prev + (0 if a[i - 1] == b[j - 1] else 1),
            )
            prev, d[j] = d[j], cur
    return d[lb]


@settings(max_examples=1000, deadline=None)
@given(st.text(ALPHA, min_size=1, max_size=10), st.text(ALPHA, min_size=1, max_size=10))
def test_qgram_count_bound_levenshtein(s, t):
    d = _lev(s, t)
    gs, gt = _padded_grams(s), _padded_grams(t)
    assert len(gs & gt) >= len(gs) - 3 * d


@settings(max_examples=1000, deadline=None)
@given(st.text(ALPHA, min_size=1, max_size=10), st.text(ALPHA, min_size=1, max_size=10))
def test_qgram_count_bound_osa(s, t):
    d = _osa(s, t)
    gs, gt = _padded_grams(s), _padded_grams(t)
    assert len(gs & gt) >= len(gs) - 4 * d
