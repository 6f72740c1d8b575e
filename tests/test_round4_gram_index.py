"""Round-4: k-gram index over the term dictionary.

The forward/reversed dictionaries seek prefix- and suffix-anchored
patterns; the two remaining full-vocabulary-scan shapes were
infix-only wildcards ('%abc%') and unprefixed fuzzy terms. A saved
index now also writes a (gram, term, df) table of every padded
character 3-gram, range-partitioned + sorted by gram with per-file
[min, max] ranges in the manifest — the classic IR-textbook k-gram
index (Manning et al., IIR §3.2.2), the Spark analogue of the
reference's automaton-intersected FST walk (wildcard_utils.cpp,
levenshtein_utils.cpp). Candidate lookup = gram equi-filter +
match-count threshold; the exact predicate (regex / banded DP) still
verifies every candidate, so pruning can never change results.
"""

import json
import os

import pytest
from pyspark.sql import SparkSession

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import InvertedIndex
from iresearch_spark.search import Fuzzy, SearchEngine, Wildcard
from iresearch_spark.search.semantics import wildcard_required_grams
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


def test_manifest_records_gram_ranges(saved):
    _, idx, path = saved
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    ranges = manifest["term_grams_ranges"]
    assert len(ranges) >= 16
    assert idx.term_grams_ranges is not None
    # forward/reversed layouts unaffected by the third table
    assert manifest["term_stats_ranges"]
    assert manifest["term_stats_rev_ranges"]
    fwd = {f for f, _, _ in manifest["term_stats_ranges"]}
    grm = {f for f, _, _ in manifest["term_grams_ranges"]}
    assert not fwd & grm


def test_footer_ranges_match_spark_scan(spark, saved):
    """The manifest ranges come from parquet FOOTER statistics read
    driver-side (the Iceberg-manifest analogue); they must equal a
    full Spark scan's per-file min/max exactly."""
    import os

    from pyspark.sql import functions as F

    _, idx, path = saved
    for sub, colname, ranges in (
        ("term_stats", "term", idx.term_stats_ranges),
        ("term_stats_rev", "rterm", idx.term_stats_rev_ranges),
        ("term_grams", "gram", idx.term_grams_ranges),
    ):
        scanned = {
            os.path.relpath(r["f"].removeprefix("file:"), path): (
                r["mn"],
                r["mx"],
            )
            for r in spark.read.parquet(os.path.join(path, sub))
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min(colname).alias("mn"), F.max(colname).alias("mx"))
            .collect()
        }
        from_manifest = {
            os.path.relpath(f, path): (mn, mx) for f, mn, mx in ranges
        }
        assert from_manifest == scanned


def test_gram_lookup_prunes_files(saved):
    _, idx, _ = saved
    sel, total = idx.gram_files_for(["for", "orm"])
    assert total >= 16
    assert 0 < len(sel) < total


def test_gram_candidates_cover_exact_matches(saved):
    _, idx, _ = saved
    grams = wildcard_required_grams("%form%")
    assert "for" in grams and "orm" in grams
    cand = {
        r["term"]
        for r in idx.gram_candidate_terms(grams, len(grams)).collect()
    }
    exact = {
        r["term"]
        for r in idx.term_stats.filter("term like '%form%'").collect()
    }
    assert exact  # corpus really exercises the infix
    assert exact <= cand


@pytest.mark.parametrize(
    "pattern",
    [
        "%form%",          # pure infix -> gram path
        "%form%ng%",       # two infix runs
        "ab%ng",           # short anchored runs -> \x02ab + ng\x03 grams
        "%pp%",            # runs too short for grams -> full-scan fallback
        "%a_p%e%",         # _ breaks runs
        "%orm\\%%",        # escaped % is a literal
    ],
)
def test_infix_wildcard_identical_to_full_scan(saved, pattern):
    mem, idx, _ = saved
    assert _hits(idx, Wildcard(pattern)) == _hits(mem, Wildcard(pattern))


def test_infix_wildcard_uses_gram_source(saved):
    _, idx, _ = saved
    eng = SearchEngine(idx)
    src, kw = eng._wildcard_expand_plan("%form%")
    assert src is not None and not kw  # gram-candidate DataFrame
    assert set(src.columns) == {"term", "df"}


@pytest.mark.parametrize("transpositions", [False, True])
def test_unprefixed_fuzzy_identical(saved, transpositions):
    mem, idx, _ = saved
    node = Fuzzy("information", distance=1, transpositions=transpositions)
    assert _hits(idx, node) == _hits(mem, node)
    node2 = Fuzzy("exmaple", distance=2, transpositions=transpositions)
    assert _hits(idx, node2) == _hits(mem, node2)


def test_fuzzy_short_term_falls_back(saved):
    # |G(s)| - d*q <= 0 -> gram bound vacuous -> full scan, still exact
    mem, idx, _ = saved
    node = Fuzzy("ap", distance=2)
    assert _hits(idx, node) == _hits(mem, node)


def test_fuzzy_gram_bound_never_drops_neighbors(saved):
    """Every term within the distance band must survive the gram
    threshold — differential over the whole vocabulary at d=1."""
    mem, idx, _ = saved
    for q in ("formula", "styx", "applyng"):
        node = Fuzzy(q, distance=1, max_terms=10_000)
        eng_mem, eng_ix = SearchEngine(mem), SearchEngine(idx)
        assert sorted(eng_mem._fuzzy_candidates(node)) == sorted(
            eng_ix._fuzzy_candidates(node)
        )


def test_wildcard_required_grams_shapes():
    g = wildcard_required_grams
    assert g("%form%") == sorted({"for", "orm"})
    assert g("ab%ng") == sorted({"\x02ab", "ng\x03"})
    assert g("%pp%") == []
    assert g("%a_b%") == []
    # escaped wildcard chars are literal run members
    assert "or%" in g("%or\\%x%")
    # fully literal pattern: both anchors
    assert "\x02ab" in g("ab") and "ab\x03" in g("ab")


def test_multisegment_gram_path_exact(spark, tmp_path):
    """Merged multi-segment view: per-segment gram rows reconstitute
    the global df (sum per (gram, term)) and infix/fuzzy expansion
    matches a monolithic index built over the union."""
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
    assert merged.term_grams_ranges  # concatenated across segments
    mono = build_index(
        d1.unionByName(d2),
        analyzer=merged.analyzer_name,
        bucket_bits=7,
        id_col=None,
        sort_key="url",  # same doc-id assignment as the indexer
    )
    for node in (Wildcard("%form%"), Fuzzy("informaton", distance=1)):
        got = {
            (r["term"], r["df"])
            for r in SearchEngine(merged)
            ._wildcard_expand_plan("%form%")[0]
            .collect()
        } if isinstance(node, Wildcard) else None
        # expansion-level df parity for the wildcard
        if got is not None:
            want = {
                (r["term"], r["df"])
                for r in mono.term_stats.filter(
                    "term like '%form%'"
                ).select("term", "df").collect()
            }
            assert want <= got
        # end-to-end score parity as a multiset: doc-id ASSIGNMENT
        # differs between the incremental indexer (per-epoch id bases)
        # and a monolithic build, but every doc's score depends only
        # on global stats, so the two engines must produce the same
        # scores with the same multiplicities
        got_scores = sorted(s for _, s in _hits(merged, node))
        want_scores = sorted(s for _, s in _hits(mono, node))
        assert got_scores == want_scores and len(got_scores) > 0


def test_multisegment_dictionary_seeks_aggregate_stats(spark, tmp_path):
    """Merged views carry ALL three dictionary layouts' concatenated
    ranges; the pruned accessors re-aggregate per-segment rows, so
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
    assert merged.term_stats_ranges and merged.term_stats_rev_ranges
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
