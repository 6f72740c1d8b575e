"""Segment merge + incremental indexing tests (reference
merge_writer_tests.cpp / index_writer two-phase-commit semantics)."""

import dataclasses
import math
import random

import pytest
from pyspark.sql import functions as F

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.merge import (
    build_metrics,
    consolidate,
    merge_indexes,
    purge_deleted,
)
from iresearch_spark.search import Or, SearchEngine, Term
from iresearch_spark.streaming.incremental import IncrementalIndexer

ROWS_A = [(i, f"alpha beta doc{i % 3} gamma") for i in range(0, 150)]
ROWS_B = [(i, f"alpha delta doc{i % 3} zeta") for i in range(150, 300)]


def _decoded_set(idx):
    return sorted(
        (r["term"], r["doc_id"], r["freq"], r["dl"])
        for r in idx.decoded_postings().collect()
    )


def test_merge_equals_monolithic(spark):
    df_a = spark.createDataFrame(ROWS_A, "doc_id long, text string")
    df_b = spark.createDataFrame(ROWS_B, "doc_id long, text string")
    df_all = spark.createDataFrame(ROWS_A + ROWS_B, "doc_id long, text string")
    merged = merge_indexes(
        build_index(df_a, analyzer="simple", bucket_bits=7),
        build_index(df_b, analyzer="simple", bucket_bits=7),
    )
    mono = build_index(df_all, analyzer="simple", bucket_bits=7)
    assert _decoded_set(merged) == _decoded_set(mono)
    assert merged.field_stats.n_docs == mono.field_stats.n_docs
    assert merged.field_stats.total_term_freq == mono.field_stats.total_term_freq
    ts_m = {r["term"]: (r["df"], r["cf"]) for r in merged.term_stats.collect()}
    ts_o = {r["term"]: (r["df"], r["cf"]) for r in mono.term_stats.collect()}
    assert ts_m == ts_o


def test_consolidate_preserves_content_and_fills_blocks(spark):
    df_a = spark.createDataFrame(ROWS_A, "doc_id long, text string")
    df_b = spark.createDataFrame(ROWS_B, "doc_id long, text string")
    merged = merge_indexes(
        build_index(df_a, analyzer="simple", bucket_bits=7),
        build_index(df_b, analyzer="simple", bucket_bits=7),
    )
    before = merged.postings.count()
    cons = consolidate(merged, bucket_bits=16)
    assert _decoded_set(cons) == _decoded_set(merged)
    after = cons.postings.count()
    assert after < before  # underfull bucket-edge blocks got re-packed
    # canonical block ordering restored
    import collections

    by_term = collections.defaultdict(list)
    for b in cons.postings.collect():
        by_term[b["term"]].append(b)
    for t, bs in by_term.items():
        bs.sort(key=lambda b: b["block_id"])
        for x, y in zip(bs, bs[1:]):
            assert x["last_doc"] < y["first_doc"]


def test_merged_index_searches_identically(spark):
    df_a = spark.createDataFrame(ROWS_A, "doc_id long, text string")
    df_b = spark.createDataFrame(ROWS_B, "doc_id long, text string")
    df_all = spark.createDataFrame(ROWS_A + ROWS_B, "doc_id long, text string")
    merged = merge_indexes(
        build_index(df_a, analyzer="simple", bucket_bits=7),
        build_index(df_b, analyzer="simple", bucket_bits=7),
    )
    mono = build_index(df_all, analyzer="simple", bucket_bits=7)
    q = Or([Term("beta"), Term("delta")])
    a = [(r["doc_id"], round(r["score"], 9))
         for r in SearchEngine(merged).search(q, k=20).collect()]
    b = [(r["doc_id"], round(r["score"], 9))
         for r in SearchEngine(mono).search(q, k=20).collect()]
    assert a == b


def test_build_metrics(spark):
    df_all = spark.createDataFrame(ROWS_A + ROWS_B, "doc_id long, text string")
    idx = build_index(df_all, analyzer="simple", bucket_bits=7)
    m = {r["bucket"]: r for r in build_metrics(idx, bucket_bits=7).collect()}
    assert sum(r["n_postings"] for r in m.values()) == sum(
        1 for _ in idx.decoded_postings().collect()
    )
    for b, r in m.items():
        assert r["min_doc"] >= b * 128
        assert r["max_doc"] < (b + 1) * 128


def test_incremental_indexer_batches_and_idempotency(spark, tmp_path):
    docs1 = spark.createDataFrame(
        [(f"u{i:04d}", f"alpha beta doc{i % 3}") for i in range(40)],
        "url string, text string",
    )
    docs2 = spark.createDataFrame(
        [(f"v{i:04d}", f"alpha gamma doc{i % 3}") for i in range(30)],
        "url string, text string",
    )
    ix = IncrementalIndexer(index_dir=str(tmp_path / "ix"), bucket_bits=7)
    ix.process_batch(docs1, epoch_id=0)
    ix.process_batch(docs2, epoch_id=1)
    ix.process_batch(docs2, epoch_id=1)  # checkpoint replay -> no-op
    manifest = ix._read_manifest()
    assert [s["id"] for s in manifest["segments"]] == ["seg_0", "seg_1"]
    assert manifest["next_doc_id"] == 70
    idx = ix.read(spark)
    assert idx.field_stats.n_docs == 70
    eng = SearchEngine(idx)
    hits = eng.matches(Term("gamma")).count()
    assert hits == 30
    both = eng.matches(Term("alpha")).count()
    assert both == 70


def test_incremental_via_structured_streaming(spark, tmp_path):
    """Real readStream -> foreachBatch -> segment commit, availableNow."""
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(f"u{i:04d}", f"alpha beta doc{i % 3}") for i in range(25)],
        "url string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("url string, text string").parquet(str(src))
    ix = IncrementalIndexer(index_dir=str(tmp_path / "ix2"), bucket_bits=7)
    q = ix.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    idx = ix.read(spark)
    assert idx is not None and idx.field_stats.n_docs == 25
    assert SearchEngine(idx).matches(Term("alpha")).count() == 25


def test_multi_segment_read_constant_plan_size(spark, tmp_path):
    """20 segments -> still ONE parquet relation per table (the r1
    pairwise-merge loop produced one scan per segment, a plan that grew
    without bound under daily micro-batches)."""
    ix = IncrementalIndexer(index_dir=str(tmp_path / "ix20"), bucket_bits=7)
    for e in range(20):
        docs = spark.createDataFrame(
            [(f"u{e:02d}{i:03d}", f"alpha tok{e} doc{i % 3}") for i in range(10)],
            "url string, text string",
        )
        ix.process_batch(docs, epoch_id=e)
    idx = ix.read(spark)
    assert idx.field_stats.n_docs == 200
    plan = idx.postings._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1, plan
    eng = SearchEngine(idx)
    assert eng.matches(Term("alpha")).count() == 200
    assert eng.matches(Term("tok7")).count() == 10
    # per-segment term pruned + scored correctly against a monolithic build
    mono_rows = [
        (e * 10 + i, f"alpha tok{e} doc{i % 3}")
        for e in range(20)
        for i in range(10)
    ]
    # doc ids differ (hash-bucket order within segments) — compare the
    # score MULTISET, which is id-assignment invariant
    mono = build_index(
        spark.createDataFrame(mono_rows, "doc_id long, text string"),
        analyzer="simple",
        bucket_bits=7,
    )
    import collections

    def score_bag(ix_, term):
        return collections.Counter(
            round(r["score"], 9)
            for r in SearchEngine(ix_).matches(Term(term)).collect()
        )

    for t in ("alpha", "tok3", "doc1"):
        assert score_bag(idx, t) == score_bag(mono, t)


def test_multi_segment_read_keeps_bucket_pruning(spark, tmp_path):
    """Round-3: the flat multi-root read must NOT lose the term-bucket
    seek analogue — _tbd rides inside the data files, is renamed to
    _tb, and exact-term queries push an In(_tbd, ...) predicate into
    the parquet scan (each file is a single bucket, so its min/max
    stats skip the whole file)."""
    import zlib

    ix = IncrementalIndexer(index_dir=str(tmp_path / "ixtb"), bucket_bits=7)
    for e in range(3):
        docs = spark.createDataFrame(
            [(f"u{e:02d}{i:03d}", f"alpha tok{e} doc{i % 3}") for i in range(30)],
            "url string, text string",
        )
        ix.process_batch(docs, epoch_id=e)
    idx = ix.read(spark)
    assert idx.term_buckets, "multi-segment view lost term_buckets"
    counts = (
        [idx.term_buckets]
        if isinstance(idx.term_buckets, int)
        else idx.term_buckets
    )
    pruned = idx.postings_for_terms(["tok1"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "_tbd" in plan or "_tb" in plan, plan
    assert "PushedFilters" in plan
    # the pushed bucket set must contain tok1's bucket for every count
    for b in counts:
        assert str(zlib.crc32(b"tok1") % b) in plan, (b, plan)
    # and the pruned scan still returns exactly tok1's postings
    eng = SearchEngine(idx)
    assert eng.matches(Term("tok1")).count() == 30


# --- one posting-block encoder: the build and consolidate()/purge_deleted()
# both write blocks through builder.encode_postings

_FEATURES = {
    "nopos": dict(with_positions=False),
    "pos": dict(with_positions=True),
    "offs": dict(with_positions=True, with_offsets=True),
    "pay": dict(with_positions=True, payload_delimiter="|"),
}


def _feature_rows(lo, hi, pay, seed):
    """Skewed texts: a few terms in nearly every doc (multi-block runs
    that straddle ranges), a long tail, and some empty docs."""
    rnd = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)] + ["common"] * 15
    rows = []
    for i in range(lo, hi):
        toks = [rnd.choice(vocab) for _ in range(rnd.randint(0, 12))]
        if pay:
            toks = [
                t + (f"|p{rnd.randint(0, 9)}" if rnd.random() < 0.5 else "")
                for t in toks
            ]
        rows.append((i, " ".join(toks)))
    return rows


def _block_rows(idx):
    """Posting rows as comparable tuples (blobs as bytes)."""
    out = []
    for r in idx.postings.collect():
        d = r.asDict(recursive=True)
        if d["block_impacts"] is not None:
            d["block_impacts"] = [(x["tf"], x["dl"]) for x in d["block_impacts"]]
        out.append(tuple(
            (k, bytes(v) if isinstance(v, (bytes, bytearray)) else v)
            for k, v in sorted(d.items())
        ))
    return sorted(out)


@pytest.mark.parametrize("feature", sorted(_FEATURES))
def test_consolidate_on_build_grid_is_identity(spark, feature):
    """consolidate() on the build's own doc-range grid rewrites every
    block byte for byte, block_id (= first_doc) included."""
    kw = _FEATURES[feature]
    rows = _feature_rows(0, 300, "payload_delimiter" in kw, seed=3)
    built = build_index(
        spark.createDataFrame(rows, "doc_id long, text string"),
        analyzer="simple", seg_bits=5, **kw,
    )
    assert _block_rows(consolidate(built, bucket_bits=5)) == _block_rows(built)


@pytest.fixture(scope="module", params=sorted(_FEATURES))
def merged_with_deletes(request, spark):
    kw = _FEATURES[request.param]
    pay = "payload_delimiter" in kw

    def part(lo, hi, bits):
        df = spark.createDataFrame(
            _feature_rows(lo, hi, pay, seed=lo), "doc_id long, text string"
        )
        return build_index(df, analyzer="simple", bucket_bits=bits, **kw)

    merged = merge_indexes(part(0, 260, 7), part(260, 600, 5))
    dead = [(i,) for i in range(0, 600, 7)] + [(i,) for i in range(300, 360)]
    return merged.delete_docs(spark.createDataFrame(dead, "doc_id long"))


def _reblocked(idx, n_parts):
    idx = dataclasses.replace(idx, postings=idx.postings.repartition(n_parts))
    purged = purge_deleted(idx, bucket_bits=6)
    return (
        _block_rows(consolidate(idx, bucket_bits=6)),
        _block_rows(purged),
        sorted(tuple(r) for r in purged.term_stats.collect()),
    )


def test_reblock_partition_and_batch_independent(spark, merged_with_deletes):
    """Re-blocked rows depend only on the postings, never on how the
    input is partitioned or cut into Arrow batches (7-row batches force
    (range, term) runs and deleted ids to carry across batches)."""
    idx = merged_with_deletes
    one = _reblocked(idx, 1)
    assert one == _reblocked(idx, 7)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = _reblocked(idx, 7)
    finally:
        spark.conf.set(key, old)
    assert one == small


def test_purge_stats_count_live_postings(spark, merged_with_deletes):
    """Purged term_stats (summed from the new blocks) equal a df/cf
    count over the live decoded postings, and no deleted doc survives."""
    idx = merged_with_deletes
    dead = {r["doc_id"] for r in idx.deleted.collect()}
    want = {}
    for r in idx.decoded_postings().collect():
        if r["doc_id"] not in dead:
            df, cf = want.get(r["term"], (0, 0))
            want[r["term"]] = (df + 1, cf + r["freq"])
    purged = purge_deleted(idx, bucket_bits=6)
    got = {r["term"]: (r["df"], r["cf"]) for r in purged.term_stats.collect()}
    assert got == want
    assert not dead & {r["doc_id"] for r in purged.decoded_postings().collect()}
