"""The expansion shapes the term dictionary cannot seek: infix-only
wildcards ('%abc%'), leading wildcards and unprefixed fuzzy terms.

A saved index keeps one term dictionary, as the reference does (its
Wildcard and Levenshtein filters intersect an automaton with it,
wildcard_filter.cpp, levenshtein_filter.cpp). These shapes read the
whole dictionary in one distributed pass and must answer exactly as an
in-memory index does, on a single saved index and on a merged
multi-segment view.
"""

import json
import os

import pytest
from pyspark.sql import SparkSession

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import InvertedIndex
from iresearch_spark.search import Fuzzy, SearchEngine, Wildcard
from iresearch_spark.streaming.incremental import IncrementalIndexer

WORDS = [
    "information", "transformation", "performing", "uniform", "formula",
    "platform", "deformation", "conforming", "styx", "zebra", "quartz",
    "jazz", "apple", "applied", "applying", "pineapple", "grapple",
    "simple", "sample", "ample", "example", "exemplary", "temple",
    "abcng", "abding", "abxng",
]


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("round4-gram-index")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    rows = []
    for i in range(300):
        w1 = WORDS[i % len(WORDS)]
        w2 = WORDS[(i * 7) % len(WORDS)]
        letter = chr(ord("a") + (i % 26))
        rows.append((i, f"{w1} {w2} {letter}fill{i} common"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    mem = build_index(docs, analyzer="simple", bucket_bits=8)
    path = str(tmp_path_factory.mktemp("ixgram") / "ix")
    mem.save(path)
    return mem, InvertedIndex.load(spark, path), path


def _hits(idx, node):
    eng = SearchEngine(idx)
    return sorted(
        (r["doc_id"], round(r["score"], 6))
        for r in eng.search(node, k=1000).collect()
    )


def test_save_writes_one_term_dictionary(saved):
    """The manifest records the term_stats file ranges and nothing
    else of the dictionary; no reversed or k-gram table is written."""
    _, idx, path = saved
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    assert len(manifest["term_stats_ranges"]) >= 16
    assert idx.term_stats_ranges is not None
    assert "term_stats_rev_ranges" not in manifest
    assert "term_grams_ranges" not in manifest
    assert not os.path.exists(os.path.join(path, "term_stats_rev"))
    assert not os.path.exists(os.path.join(path, "term_grams"))


def test_footer_ranges_match_spark_scan(spark, saved):
    """The manifest ranges come from parquet FOOTER statistics read
    driver-side (the Iceberg-manifest analogue); they must equal a
    full Spark scan's per-file min/max exactly."""
    import os

    from pyspark.sql import functions as F

    _, idx, path = saved
    scanned = {
        os.path.relpath(r["f"].removeprefix("file:"), path): (r["mn"], r["mx"])
        for r in spark.read.parquet(os.path.join(path, "term_stats"))
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("term").alias("mn"), F.max("term").alias("mx"))
        .collect()
    }
    from_manifest = {
        os.path.relpath(f, path): (mn, mx) for f, mn, mx in idx.term_stats_ranges
    }
    assert from_manifest == scanned


def test_gram_candidates_cover_exact_matches(saved):
    """An infix wildcard's expansion on the saved index is exactly the
    dictionary terms its LIKE pattern matches, with their dfs."""
    _, idx, _ = saved
    got = set(SearchEngine(idx)._leaf_expansion(Wildcard("%form%"))[0])
    exact = {
        (r["term"], r["df"])
        for r in idx.term_stats.filter("term like '%form%'").collect()
    }
    assert exact  # corpus really exercises the infix
    assert got == exact


@pytest.mark.parametrize(
    "pattern",
    [
        "%form%",          # pure infix
        "%form%ng%",       # two infix runs
        "ab%ng",           # short anchored runs
        "%pp%",            # short infix run
        "%a_p%e%",         # _ breaks runs
        "%orm\\%%",        # escaped % is a literal
    ],
)
def test_infix_wildcard_identical_to_full_scan(saved, pattern):
    mem, idx, _ = saved
    assert _hits(idx, Wildcard(pattern)) == _hits(mem, Wildcard(pattern))


@pytest.mark.parametrize("transpositions", [False, True])
def test_unprefixed_fuzzy_identical(saved, transpositions):
    mem, idx, _ = saved
    node = Fuzzy("information", distance=1, transpositions=transpositions)
    assert _hits(idx, node) == _hits(mem, node)
    node2 = Fuzzy("exmaple", distance=2, transpositions=transpositions)
    assert _hits(idx, node2) == _hits(mem, node2)


def test_fuzzy_short_term_falls_back(saved):
    # a short term at a wide distance matches much of the dictionary
    mem, idx, _ = saved
    node = Fuzzy("ap", distance=2)
    assert _hits(idx, node) == _hits(mem, node)


def test_fuzzy_gram_bound_never_drops_neighbors(saved):
    """Every term within the distance must be expanded — differential
    over the whole vocabulary at d=1, saved index vs in-memory."""
    mem, idx, _ = saved
    for q in ("formula", "styx", "applyng"):
        node = Fuzzy(q, distance=1, max_terms=10_000)
        eng_mem, eng_ix = SearchEngine(mem), SearchEngine(idx)
        assert eng_mem._leaf_expansion(node) == eng_ix._leaf_expansion(node)


def test_multisegment_gram_path_exact(spark, tmp_path):
    """Merged multi-segment view: per-segment dictionary rows
    reconstitute the global df (sum per term) and infix/fuzzy
    expansion matches a monolithic index built over the union."""
    d1 = spark.createDataFrame(
        [(f"a{i:03d}", f"information uniform doc{i % 3}") for i in range(40)],
        "url string, text string",
    )
    d2 = spark.createDataFrame(
        [(f"b{i:03d}", f"information performing doc{i % 3}") for i in range(30)],
        "url string, text string",
    )
    ix = IncrementalIndexer(index_dir=str(tmp_path / "ix"), bucket_bits=7)
    ix.process_batch(d1, epoch_id=0)
    ix.process_batch(d2, epoch_id=1)
    merged = ix.read(spark)
    assert merged.term_stats_ranges  # concatenated across segments
    mono = build_index(
        d1.unionByName(d2),
        analyzer=merged.analyzer_name,
        bucket_bits=7,
        id_col=None,
        sort_key="url",  # same doc-id assignment as the indexer
    )
    for node in (Wildcard("%form%"), Fuzzy("informaton", distance=1)):
        # expansion-level df parity
        got = SearchEngine(merged)._leaf_expansion(node)
        assert got == SearchEngine(mono)._leaf_expansion(node) and got[0]
        # end-to-end score parity as a multiset: doc-id ASSIGNMENT
        # differs between the incremental indexer (per-epoch id bases)
        # and a monolithic build, but every doc's score depends only
        # on global stats, so the two engines must produce the same
        # scores with the same multiplicities
        got_scores = sorted(s for _, s in _hits(merged, node))
        want_scores = sorted(s for _, s in _hits(mono, node))
        assert got_scores == want_scores and len(got_scores) > 0


def test_multisegment_dictionary_seeks_aggregate_stats(spark, tmp_path):
    """Merged views carry the dictionary's concatenated per-segment
    file ranges; the pruned accessors re-aggregate per-segment rows, so
    exact-term lookups, Prefix/Range expansion and scoring all see
    GLOBAL stats (previously every lookup re-shuffled the full
    vocabulary)."""
    from pyspark.sql import functions as F

    from iresearch_spark.search import Fuzzy as Fz, Prefix, Range, Term

    d1 = spark.createDataFrame(
        [(f"a{i:03d}", f"information uniform doc{i % 3}") for i in range(40)],
        "url string, text string",
    )
    d2 = spark.createDataFrame(
        [(f"b{i:03d}", f"information performing doc{i % 3}") for i in range(30)],
        "url string, text string",
    )
    ix = IncrementalIndexer(index_dir=str(tmp_path / "ix"), bucket_bits=7)
    ix.process_batch(d1, epoch_id=0)
    ix.process_batch(d2, epoch_id=1)
    merged = ix.read(spark)
    assert merged.term_stats_ranges
    # exact-term seek returns ONE aggregated row with the global df
    rows = (
        merged.term_stats_for_terms(["information"])
        .filter(F.col("term") == "information")
        .collect()
    )
    assert [(r["term"], r["df"]) for r in rows] == [("information", 70)]
    # pruned interval reads aggregate too
    pruned, n_sel, n_total = merged.pruned_term_stats("i", "j", False)
    got = {(r["term"], r["df"]) for r in pruned.collect()}
    assert ("information", 70) in got
    assert n_total and n_sel < n_total
    mono = build_index(
        d1.unionByName(d2),
        analyzer=merged.analyzer_name,
        bucket_bits=7,
        id_col=None,
        sort_key="url",
    )
    for node in (
        Term("information"),
        Prefix("uni"),
        Range(min_term="p", max_term="u"),
        Fz("unifor", distance=1),
    ):
        got_scores = sorted(s for _, s in _hits(merged, node))
        want_scores = sorted(s for _, s in _hits(mono, node))
        assert got_scores == want_scores and got_scores
