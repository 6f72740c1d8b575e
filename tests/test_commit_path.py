"""The commit path (build_index -> save -> load, IncrementalIndexer
appends and consolidation) launches only the Spark jobs it needs, and
writes the same files for the same input.

- save() picks every range-partitioned table's file boundaries on the
  driver, so two saves of one input are byte-identical in every table
  (the numeric dictionary included), and every postings file is sorted
  by (term, block_id);
- the manifest records each table's read schema, so load() plans its
  reads without schema-inference jobs (older manifests still infer);
- an append and a consolidation stay within a pinned job budget, and a
  failed budget lists the jobs per SQL execution;
- an empty micro-batch commits nothing.
"""

import hashlib
import json
import os
import random
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import InvertedIndex, check_segments_agree
from iresearch_spark.search import Or, Prefix, SearchEngine, Term
from iresearch_spark.search.hot import HotEngine
from iresearch_spark.streaming.incremental import IncrementalIndexer

TABLES = ("postings", "docs", "term_stats", "term_stats_rev", "term_grams")

# Spark jobs of one append and of one consolidation of the small input
# below, after a warm-up commit (local[4], 8 shuffle partitions)
APPEND_JOBS = 20
CONSOLIDATE_JOBS = 14


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
    for t in ("term_stats", "term_stats_rev", "term_grams"):
        assert len(saved[0][t]) > 1, t  # several range files to agree on
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
