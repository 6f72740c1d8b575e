"""Fuzzy exact-prefix option (levenshtein_filter.hpp:49): prefix
matches verbatim, edit distance applies to the remainder only."""

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.search import SearchEngine, Fuzzy


@pytest.fixture(scope="module")
def eng(spark):
    docs = spark.createDataFrame(
        [
            (1, "scan scon sXan bcan scanner prescan"),
            (2, "scan skan union"),
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs, text_col="text", id_col="doc_id", analyzer="simple")
    return SearchEngine(idx)


def _terms(eng, node):
    return {t for t, _ in eng._leaf_expansion(node)[0]}


def test_prefix_restricts_and_distances_suffix_only(eng):
    # prefix "sc" exact; suffix vs "an" distance <= 1:
    #   scan  -> suffix "an" d0   YES
    #   scon  -> suffix "on" d1   YES
    #   sXan  -> no "sc" prefix   NO (despite levenshtein(sXan, scan)=1)
    #   bcan  -> no prefix        NO
    #   skan  -> no prefix        NO (would match without prefix at d1)
    #   scanner -> suffix "anner" d>1  NO
    got = _terms(eng, Fuzzy("an", distance=1, prefix="sc"))
    assert got == {"scan", "scon"}


def test_without_prefix_is_wider(eng):
    got = _terms(eng, Fuzzy("scan", distance=1))
    assert {"scan", "scon", "sxan", "bcan", "skan"} <= got


def test_prefix_with_transpositions(eng):
    # suffix "na" with transpositions d1 matches "an" (one swap)
    got = _terms(eng, Fuzzy("na", distance=1, prefix="sc", transpositions=True))
    assert "scan" in got
    # plain levenshtein d1 can ALSO reach "an" from "na"
    # (delete+insert=2 > 1, but substitution path: n->a, a->n = 2 — so no)
    plain = _terms(eng, Fuzzy("na", distance=1, prefix="sc"))
    assert "scan" not in plain


def test_prefix_search_end_to_end(eng):
    rows = eng.matches(Fuzzy("an", distance=1, prefix="sc")).collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
