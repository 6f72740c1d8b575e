"""Multi-term expansion on an engine without the preloaded dictionary.

Every tier expands Prefix, Range, Wildcard and Fuzzy leaves with
`semantics.Vocabulary.expand`. A cluster engine that has not preloaded
the dictionary runs it once per Arrow batch, in one `mapInArrow` over
the term_stats files the leaf's term interval selects, and re-caps the
union of the batches' heads on the driver (`semantics.merge_heads`).
These tests pin that the three ways to read one index agree term for
term and answer for answer:

- a saved single index (one consolidated segment),
- a merged view of the same documents in 3 segments,
- the Spark-free `HotEngine.from_dir` replica of the 3 segments,

both with the default caps and with capped expansions over small Arrow
batches (so a leaf spans several batches and the re-cap decides), and
that each expansion, an exact-term df lookup and a sorted index's
`top_docs(k)` launch one Spark job.
"""

import os
import random
import shutil

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import InvertedIndex
from iresearch_spark.search import Fuzzy, Prefix, Range, SearchEngine, Wildcard
from iresearch_spark.search.hot import HotEngine
from iresearch_spark.streaming.incremental import IncrementalIndexer

LEAVES = [
    Prefix("ab"),
    Range("b", "cd"),
    Range("b", "cd", include_min=False, include_max=False),
    Wildcard("%cd"),  # leading
    Wildcard("%ba%"),  # infix
    Fuzzy("abcd", distance=1),
    Fuzzy("cd", distance=1, prefix="ab"),
    Fuzzy("badc", distance=2, transpositions=True),
    Fuzzy("abcde", distance=2, max_terms=3),
]
IDS = [repr(q)[:48] for q in LEAVES]
BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _text(rng, vocab):
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14)))


def _pages(spark, path, seed, prefix):
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcde") for _ in range(rng.randint(2, 7)))
        for _ in range(400)
    ]
    rows = [(f"https://x.example/{prefix}{i:04d}", _text(rng, vocab)) for i in range(80)]
    spark.createDataFrame(rows, "url string, text string").write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    """(3-segment incremental dir, its one consolidated segment's dir):
    the same documents under the same doc ids."""
    root = tmp_path_factory.mktemp("scan_expansion")
    inc = IncrementalIndexer(index_dir=str(root / "three"), bucket_bits=7)
    for e in range(3):
        inc.process_batch(_pages(spark, str(root / f"p{e}"), e, f"e{e}"), e)
    shutil.copytree(inc.index_dir, str(root / "one"))
    one = IncrementalIndexer(index_dir=str(root / "one"), bucket_bits=7)
    seg = one.consolidate_segments(
        spark, [s["id"] for s in one._read_manifest()["segments"]]
    )
    return inc, os.path.join(one.index_dir, "segments", seg)


def _answers(spark, dirs, limit):
    inc, single_dir = dirs
    single = SearchEngine(
        InvertedIndex.load(spark, single_dir), scored_terms_limit=limit
    )
    merged = SearchEngine(inc.read(spark), scored_terms_limit=limit)
    hot = HotEngine.from_dir(inc.index_dir, scored_terms_limit=limit)
    out = []
    for q in LEAVES:
        hot_exp, _matched, hot_complete = hot._hot_expansion(q)
        expansions = [
            single._leaf_expansion(q),
            merged._leaf_expansion(q),
            (hot_exp, hot_complete),
        ]
        top = [
            [(r["doc_id"], round(r["score"], 9)) for r in e.search(q, k=10).collect()]
            for e in (single, merged)
        ] + [[(d, round(s, 9)) for d, s in hot.search(q, k=10)]]
        out.append((q, expansions, top))
    return out


def _check(answers):
    for q, expansions, top in answers:
        assert expansions[0][0], q  # every leaf matches something
        assert expansions[1] == expansions[0], q
        assert expansions[2] == expansions[0], q
        assert top[0], q
        assert top[1] == top[0], q
        assert top[2] == top[0], q


def test_tiers_expand_and_answer_alike(spark, dirs):
    answers = _answers(spark, dirs, 1024)
    _check(answers)
    assert all(exp[0][1] for _, exp, _ in answers)  # no cap reached


def test_tiers_agree_on_capped_expansions_over_small_batches(spark, dirs):
    """scored_terms_limit 3 caps the Prefix, Range and Wildcard leaves,
    max_terms 3 the last Fuzzy one, and 5-row Arrow batches split
    every leaf's dictionary rows: the driver's re-cap of the batches'
    heads picks the same terms as the in-memory expansion."""
    old = spark.conf.get(BATCH_ROWS)
    spark.conf.set(BATCH_ROWS, "5")
    try:
        answers = _answers(spark, dirs, 3)
    finally:
        spark.conf.set(BATCH_ROWS, old)
    _check(answers)
    capped = [q for q, exp, _ in answers if not exp[0][1]]
    assert len(capped) >= 5, capped
    last_fuzzy = answers[-1][1][0][0]
    assert len(last_fuzzy) == 3


@pytest.mark.parametrize("q", LEAVES, ids=IDS)
def test_expansion_is_one_job(spark, dirs, spark_jobs, q):
    """On a saved index, a leaf's expansion reads the dictionary files
    its term interval selects in one job: no schema inference, no
    sort, no second pass."""
    eng = SearchEngine(InvertedIndex.load(spark, dirs[1]))
    out = []
    assert spark_jobs(lambda: out.append(eng._leaf_expansion(q))) == 1
    assert out[0][0]


def test_exact_term_lookup_is_one_job(spark, dirs, spark_jobs):
    """A df lookup reads the one dictionary file that can hold the
    term, with the table's schema: no schema-inference job."""
    idx = InvertedIndex.load(spark, dirs[1])
    term = idx.term_stats.first()["term"]
    eng = SearchEngine(idx)
    dfs = []
    assert spark_jobs(lambda: dfs.append(eng._term_dfs([term]))) == 1
    assert dfs[0][term] > 0


def test_sorted_top_docs_is_one_job(spark, tmp_path, spark_jobs):
    """top_docs(k) on a saved sorted index reads its head docs files
    with the table's schema: no schema-inference job."""
    pages = _pages(spark, str(tmp_path / "p"), 9, "s")
    path = str(tmp_path / "ix")
    ix = build_index(pages, id_col=None, sort_key="url", sort_field="url",
                     analyzer="simple", seg_bits=6)
    ix.save(path)
    ix.unpersist()
    idx = InvertedIndex.load(spark, path)
    assert len(idx.docs_ranges) > 1
    eng = SearchEngine(idx)
    rows = []
    assert spark_jobs(lambda: rows.extend(eng.top_docs(5).collect())) == 1
    want = idx.docs.orderBy("doc_id").limit(5).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in want]
