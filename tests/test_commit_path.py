"""The commit path (build_index -> save -> load, IncrementalIndexer
appends and consolidation) launches only the Spark jobs it needs, and
writes the same files for the same input.

- save() picks every range-partitioned table's file boundaries on the
  driver, so two saves of one input are byte-identical in every table
  (the numeric dictionary included), and every postings file is sorted
  by (term, block_id);
- the manifest records each table's read schema, so load() plans its
  reads without schema-inference jobs (older manifests still infer);
- the dictionary files are cut from the k least (crc32(term), term)
  pairs: a fresh build's summary pass returns them, a merged view
  draws them in one job;
- save() writes the dictionary through one exchange: the per-term sum
  runs over the range exchange that cuts its files;
- an append, a consolidation and a consolidation that purges deletes
  stay within a pinned job budget, and a failed budget lists the jobs
  per SQL execution;
- an empty micro-batch commits nothing.
"""

import hashlib
import json
import os
import random
import shutil
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import InvertedIndex, _split_keys, check_segments_agree
from iresearch_spark.search import Fuzzy, Or, Prefix, SearchEngine, Term, Wildcard
from iresearch_spark.search.hot import HotEngine
from iresearch_spark.streaming.incremental import IncrementalIndexer

TABLES = ("postings", "docs", "term_stats")

# Spark jobs of one append and of one consolidation of the small input
# below, after a warm-up commit (local[4], 8 shuffle partitions), and of
# a 3-segment consolidation that purges a segment's deletes
APPEND_JOBS = 11
CONSOLIDATE_JOBS = 7
PURGE_CONSOLIDATE_JOBS = 21


def _rows(n, seed, prefix="u"):
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(2, 9)))
        for _ in range(3000)
    ]
    return [
        (
            f"https://s{i % 7}.example/{prefix}{i:05d}",
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60))),
        )
        for i in range(n)
    ]


def _pages(spark, tmp_path, name, n, seed, prefix="u"):
    path = str(tmp_path / name)
    spark.createDataFrame(
        _rows(n, seed, prefix), "url string, text string"
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _table_files(path):
    """{table: sorted digests of its data files} of a saved index."""
    out = {}
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel == ".":
            continue
        for f in files:
            if f.startswith((".", "_")):
                continue
            with open(os.path.join(root, f), "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out.setdefault(rel.split(os.sep)[0], []).append(digest)
    return {t: sorted(d) for t, d in out.items()}


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    return _pages(spark, tmp_path_factory.mktemp("commit_pages"), "p", 400, 7)


@pytest.mark.parametrize(
    "sort_field, numeric",
    [(None, False), ("url", False), (None, True)],
    ids=["url_keyed", "sorted", "numeric"],
)
def test_two_saves_are_byte_identical(spark, pages, tmp_path, sort_field, numeric):
    """Two builds and saves of one input write the same bytes in every
    table directory, dictionaries (the numeric one included) and a
    sorted docs table included."""
    src = pages.withColumn("n", F.length("text").cast("long")) if numeric else pages
    saved = []
    for i in range(2):
        ix = build_index(
            src, id_col=None, sort_key="url", sort_field=sort_field,
            analyzer="simple", seg_bits=6,
            numeric_fields=["n"] if numeric else None,
        )
        ix.save(str(tmp_path / f"ix{i}"))
        ix.unpersist()
        saved.append(_table_files(str(tmp_path / f"ix{i}")))
    assert set(TABLES) <= set(saved[0])
    assert len(saved[0]["term_stats"]) > 1  # several range files to agree on
    if sort_field is not None:
        assert len(saved[0]["docs"]) > 1
    if numeric:
        assert len(saved[0]["num_terms"]) > 1
    assert saved[0] == saved[1]


def test_postings_files_are_sorted(pages, tmp_path):
    """Every postings file holds its rows in (term, block_id) order, so
    its row groups' term min/max stay tight."""
    path = str(tmp_path / "ix")
    ix = build_index(pages, id_col=None, sort_key="url", analyzer="simple",
                     seg_bits=6)
    ix.save(path)
    ix.unpersist()
    files = [
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(os.path.join(path, "postings"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) > 1
    for f in files:
        t = pq.read_table(f, columns=["term", "block_id"])
        keys = list(zip(t.column("term").to_pylist(), t.column("block_id").to_pylist()))
        assert keys == sorted(keys), f


def _least_pairs(terms, k):
    """The k least (crc32(term), term) pairs of a vocabulary."""
    return sorted((zlib.crc32(t.encode("utf-8")), t) for t in set(terms))[:k]


def _saved_terms(path):
    return pq.read_table(os.path.join(path, "term_stats")).column("term").to_pylist()


def test_build_sample_is_least_hashed_terms(pages, tmp_path):
    """A fresh build's summary pass returns the k least (crc32, term)
    pairs of the dictionary that save() writes, and save() uses them
    without drawing its own."""
    ix = build_index(pages, id_col=None, sort_key="url", analyzer="simple",
                     seg_bits=6)
    path = str(tmp_path / "ix")
    ix.save(path)
    ix.unpersist()
    k, pairs = ix.term_sample
    terms = _saved_terms(path)
    assert len(terms) == len(set(terms)) > k  # the sample is a strict subset
    assert pairs == _least_pairs(terms, k)
    assert ix.dictionary_sample(k) is ix.term_sample


def test_merged_sample_is_least_hashed_terms(spark, tmp_path, spark_jobs):
    """The sample a consolidation cuts its dictionary files from is the
    k least (crc32, term) pairs of the merged vocabulary, drawn in one
    job over the segments' unaggregated rows (a term shared by several
    segments counts once)."""
    inc = _commit_batches(spark, tmp_path, "m")
    per_seg = [
        _saved_terms(os.path.join(inc.index_dir, "segments", s["id"]))
        for s in inc._read_manifest()["segments"]
    ]
    vocab = {t for terms in per_seg for t in terms}
    assert sum(map(len, per_seg)) > len(vocab)  # segments share terms
    view = inc.read(spark)
    for k in (16, 1024):
        got = []
        assert spark_jobs(lambda: got.append(view.dictionary_sample(k))) == 1
        assert got[0] == (k, _least_pairs(vocab, k))


def test_manifest_schemas_match_inference(spark, pages, tmp_path, spark_jobs):
    """The recorded schema of each table is the one a parquet read
    infers, and load() with it launches no Spark job; without it (an
    older manifest) load() infers, one job per table."""
    ix = build_index(pages, id_col=None, sort_key="url", analyzer="simple",
                     seg_bits=6)
    path = str(tmp_path / "ix")
    ix.delete_docs(spark.createDataFrame([(3,)], "doc_id long")).save(path)
    ix.unpersist()
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    assert set(manifest["schemas"]) == {"postings", "docs", "term_stats", "deleted"}
    for table, rec in manifest["schemas"].items():
        inferred = spark.read.parquet(os.path.join(path, table)).schema
        assert T.StructType.fromJson(rec) == inferred, table
    assert manifest["n_blocks"] == spark.read.parquet(
        os.path.join(path, "postings")
    ).count()
    assert spark_jobs(lambda: InvertedIndex.load(spark, path)) == 0
    _strip_schemas(path)
    assert spark_jobs(lambda: InvertedIndex.load(spark, path)) > 0


def _commit_batches(spark, tmp_path, name):
    inc = IncrementalIndexer(index_dir=str(tmp_path / name), bucket_bits=7)
    for e in range(3):
        inc.process_batch(
            _pages(spark, tmp_path, f"{name}_p{e}", 150, e, prefix=f"e{e}"), e
        )
    return inc


def test_commit_job_budget(spark, tmp_path, spark_jobs):
    """An append and a consolidation stay within their job budgets: no
    re-count of the batch, the blocks or the dictionary, no boundary
    sampling job, no schema inference when segments are read back."""
    inc = IncrementalIndexer(index_dir=str(tmp_path / "ix"), bucket_bits=7)
    inc.process_batch(_pages(spark, tmp_path, "p0", 150, 0, prefix="a"), 0)
    batch = _pages(spark, tmp_path, "p1", 150, 1, prefix="b")
    append = spark_jobs(lambda: inc.process_batch(batch, 1))
    assert append <= APPEND_JOBS, append
    segs = [s["id"] for s in inc._read_manifest()["segments"]]
    consolidate = spark_jobs(lambda: inc.consolidate_segments(spark, segs))
    assert consolidate <= CONSOLIDATE_JOBS, consolidate
    idx = inc.read(spark)
    assert idx.field_stats.n_docs == sum(
        1 for _, text in _rows(150, 0) + _rows(150, 1) if text
    )
    assert SearchEngine(idx).matches(Prefix("a")).count() > 0


def _delete(spark, seg, doc_ids):
    """Give a committed segment a deleted/ tombstone for doc_ids."""
    tmp = seg + "_tmp"
    InvertedIndex.load(spark, seg).delete_docs(
        spark.createDataFrame([(d,) for d in doc_ids], "doc_id long")
    ).save(tmp)
    shutil.rmtree(seg)
    os.rename(tmp, seg)


def test_purge_consolidation_job_budget(spark, tmp_path, spark_jobs):
    """A consolidation whose segments carry deletes purges them within
    its job budget (30 jobs before the dictionary and metrics lost
    their extra shuffles)."""
    inc = _commit_batches(spark, tmp_path, "d")
    _delete(spark, os.path.join(inc.index_dir, "segments", "seg_1"), [160, 170, 200])
    segs = [s["id"] for s in inc._read_manifest()["segments"]]
    purge = spark_jobs(lambda: inc.consolidate_segments(spark, segs))
    assert purge <= PURGE_CONSOLIDATE_JOBS, purge
    idx = inc.read(spark)
    assert idx.deleted is None
    assert idx.docs.filter(F.col("doc_id").isin(160, 170, 200)).count() == 0


def _shuffles(plan) -> int:
    """Shuffle exchanges in a physical plan (an adaptive plan's current
    plan, the one its requirements are ensured in). A cached relation is
    a leaf: the shuffles of the build it caches do not count."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    kids = plan.children()
    return int(plan.nodeName() == "Exchange") + sum(
        _shuffles(kids.apply(i)) for i in range(kids.size())
    )


def test_dictionary_write_has_one_exchange(spark, pages, tmp_path):
    """The dictionary save() writes, of a fresh build (summed from its
    cached posting blocks) and of a merged view (from the segments'
    rows), plans one exchange, and holds the summed term_stats rows."""
    ix = build_index(pages, id_col=None, sort_key="url", analyzer="simple",
                     seg_bits=6)
    view = _commit_batches(spark, tmp_path, "x").read(spark)
    for index in (ix, view):
        _, pairs = index.dictionary_sample(1024)
        table = index._dictionary_by_range(_split_keys([t for _, t in pairs], 16), 16)
        assert _shuffles(table._jdf.queryExecution().executedPlan()) == 1
        assert sorted(map(tuple, table.collect())) == sorted(
            map(tuple, index.term_stats.select("term", "df", "cf").collect())
        )
    ix.unpersist()


def test_empty_micro_batch_commits_nothing(spark, tmp_path):
    inc = IncrementalIndexer(index_dir=str(tmp_path / "ix"), bucket_bits=7)
    empty = spark.createDataFrame([], "url string, text string")
    inc.process_batch(empty, 0)  # before any commit: still no manifest
    assert not os.path.exists(inc._manifest_path())
    assert not os.path.exists(os.path.join(inc.index_dir, "segments", "seg_0"))
    inc.process_batch(_pages(spark, tmp_path, "p1", 50, 1), 1)
    before = inc._read_manifest()
    inc.process_batch(empty, 2)
    after = inc._read_manifest()
    assert after["version"] == before["version"]
    assert after["next_doc_id"] == before["next_doc_id"] == 50
    assert [s["id"] for s in after["segments"]] == ["seg_1"]
    assert not os.path.exists(os.path.join(inc.index_dir, "segments", "seg_2"))


def _strip_schemas(index_dir):
    p = os.path.join(index_dir, "manifest.json")
    with open(p) as f:
        m = json.load(f)
    m.pop("schemas")
    with open(p, "w") as f:
        json.dump(m, f)


def _answers(eng, queries):
    return [
        [(r["doc_id"], r["score"]) for r in eng.search(q, k=10).collect()]
        for q in queries
    ]


def test_manifest_without_schemas_still_loads(spark, tmp_path):
    """Segments saved before the schema record (the key stripped from
    one of them) load through InvertedIndex.load, IncrementalIndexer.read
    and HotEngine.from_dir with the same answers; check_segments_agree
    ignores the key."""
    inc = _commit_batches(spark, tmp_path, "new")
    old_dir = str(tmp_path / "old")
    shutil.copytree(inc.index_dir, old_dir)
    seg0 = os.path.join(old_dir, "segments", "seg_0")
    _strip_schemas(seg0)
    old = IncrementalIndexer(index_dir=old_dir, bucket_bits=7)

    word = next(t for _, t in _rows(150, 0, "e0") if t).split()[0]
    queries = [Term(word), Or([Prefix("ab"), Prefix("zo")])]
    with open(os.path.join(inc.index_dir, "segments", "seg_1", "manifest.json")) as f:
        rec = json.load(f)
    with open(os.path.join(seg0, "manifest.json")) as f:
        norec = json.load(f)
    check_segments_agree([rec, norec], "reading")

    new_seg = InvertedIndex.load(spark, os.path.join(inc.index_dir, "segments", "seg_0"))
    old_seg = InvertedIndex.load(spark, seg0)
    for t in ("postings", "docs", "term_stats"):
        assert getattr(old_seg, t).schema == getattr(new_seg, t).schema, t
    assert _answers(SearchEngine(old_seg), queries) == _answers(SearchEngine(new_seg), queries)

    new_view, old_view = inc.read(spark), old.read(spark)
    for t in ("postings", "docs", "term_stats"):
        assert getattr(old_view, t).schema == getattr(new_view, t).schema, t
    want = _answers(SearchEngine(new_view), queries)
    assert _answers(SearchEngine(old_view), queries) == want
    assert any(want)

    for q, rows in zip(queries, want):
        assert HotEngine.from_dir(old_dir).search(q, k=10) == rows


def _add_old_dictionaries(seg):
    """Give a saved segment the reversed-term and k-gram dictionaries
    that save() used to write: both tables on disk, their file ranges
    in the manifest."""
    terms = pq.read_table(os.path.join(seg, "term_stats"))
    rows = list(zip(terms.column("term").to_pylist(), terms.column("df").to_pylist()))
    rev = sorted((t[::-1], t, df) for t, df in rows)
    grams = sorted(
        {(p[i:i + 3], t, df) for t, df in rows for p in ["\x02" + t + "\x03"]
         for i in range(len(p) - 2)}
    )
    ranges = {}
    for table, key, recs in (
        ("term_stats_rev", "rterm", rev), ("term_grams", "gram", grams)
    ):
        os.makedirs(os.path.join(seg, table))
        f = os.path.join(table, "part-00000.parquet")
        cols = [key, "term", "df"]
        pq.write_table(
            pa.table({c: [r[i] for r in recs] for i, c in enumerate(cols)}),
            os.path.join(seg, f),
        )
        ranges[table + "_ranges"] = [[f, recs[0][0], recs[-1][0]]]
    p = os.path.join(seg, "manifest.json")
    with open(p) as fh:
        m = json.load(fh)
    m.update(ranges)
    with open(p, "w") as fh:
        json.dump(m, fh)


def test_manifest_with_old_dictionaries_still_loads(spark, tmp_path):
    """Segments that still carry the reversed-term and k-gram
    dictionaries (tables and manifest ranges, as saves used to write
    them) load through InvertedIndex.load, IncrementalIndexer.read and
    HotEngine.from_dir with unchanged answers: readers ignore both."""
    inc = _commit_batches(spark, tmp_path, "new")
    old_dir = str(tmp_path / "old")
    shutil.copytree(inc.index_dir, old_dir)
    for s in inc._read_manifest()["segments"]:
        _add_old_dictionaries(os.path.join(old_dir, "segments", s["id"]))
    old = IncrementalIndexer(index_dir=old_dir, bucket_bits=7)

    word = next(t for _, t in _rows(150, 0, "e0") if t).split()[0]
    queries = [
        Term(word),
        Or([Prefix("ab"), Prefix("zo")]),
        Wildcard("%" + word[1:]),
        Fuzzy(word, distance=1),
    ]
    seg0 = os.path.join("segments", "seg_0")
    with open(os.path.join(old_dir, seg0, "manifest.json")) as f:
        assert f.read().count("term_stats_rev/part-00000.parquet") == 1
    new_seg = InvertedIndex.load(spark, os.path.join(inc.index_dir, seg0))
    old_seg = InvertedIndex.load(spark, os.path.join(old_dir, seg0))
    want = _answers(SearchEngine(new_seg), queries)
    assert _answers(SearchEngine(old_seg), queries) == want
    assert all(want)

    want = _answers(SearchEngine(inc.read(spark)), queries)
    assert _answers(SearchEngine(old.read(spark)), queries) == want
    assert all(want)
    hot = HotEngine.from_dir(old_dir)
    for q, rows in zip(queries, want):
        assert hot.search(q, k=10) == rows
