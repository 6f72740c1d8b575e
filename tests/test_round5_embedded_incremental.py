"""Embedded serving of INCREMENTAL (multi-segment) index dirs + reopen:
`load_local_index` now serves an IncrementalIndexer directory through
`LocalMergedIndex` (per-segment tables concatenated under the doc-id
disjointness contract — the embedded DirectoryReader-over-SubReaders
analogue, core/index/directory_reader.hpp), and `HotEngine.refresh()`
gives reopen semantics: after a new segment commits, one refresh()
call re-pins the replica and new docs become searchable, with no
Spark and no JVM in the serving process."""

import json
import os

import pytest

from iresearch_spark.search import (
    And,
    Not,
    Or,
    Phrase,
    Prefix,
    SearchEngine,
    Term,
)
from iresearch_spark.search.hot import HotEngine
from iresearch_spark.streaming.incremental import IncrementalIndexer


def _batch(spark, prefix, words, n):
    return spark.createDataFrame(
        [
            (f"{prefix}{i:04d}", f"{words} doc{i % 3} tok{i % 11}")
            for i in range(n)
        ],
        "url string, text string",
    )


@pytest.fixture(scope="module")
def inc_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("emb_inc") / "ix")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7)
    ix.process_batch(_batch(spark, "u", "alpha beta common", 40), 0)
    ix.process_batch(_batch(spark, "v", "alpha gamma common", 30), 1)
    ix.process_batch(_batch(spark, "w", "delta gamma common epsilon", 20), 2)
    return d


QUERIES = [
    Term("alpha"),
    Term("epsilon", boost=2.0),
    And([Term("alpha"), Term("beta")]),
    And([Term("common"), Not(Term("beta"))]),
    Or([Term("beta"), Term("gamma"), Term("delta")], min_match=2),
    Phrase(("alpha", "beta")),
    Phrase(("delta", "gamma")),
    Prefix("tok"),
]


def test_embedded_incremental_matches_cluster(spark, inc_dir):
    """from_dir(incremental dir) == Spark-built hot replica over the
    cluster's merged read() view (which is itself differential-tested
    against the cluster engine)."""
    ix = IncrementalIndexer(index_dir=inc_dir, bucket_bits=7)
    hot = HotEngine(SearchEngine(ix.read(spark).cache()))
    emb = HotEngine.from_dir(inc_dir)
    assert emb.engine.index.field_stats.n_docs == 90
    for q in QUERIES:
        want = hot.search(q, k=25)
        got = emb.search(q, k=25)
        assert got == want, f"mismatch for {q!r}"
    # WAND rank-identity on the merged replica
    q = Or([Term("alpha"), Term("gamma"), Term("common")])
    assert emb.search(q, k=10, mode="wand") == hot.search(q, k=10)
    assert emb._blob_bytes == hot._blob_bytes


def test_embedded_incremental_single_segment(spark, tmp_path):
    d = str(tmp_path / "one")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7)
    ix.process_batch(_batch(spark, "u", "solo words", 15), 0)
    emb = HotEngine.from_dir(d)
    assert emb.engine.index.field_stats.n_docs == 15
    assert len(emb.search(Term("solo"), k=20)) == 15


def test_embedded_incremental_no_commits(tmp_path):
    d = tmp_path / "empty_inc"
    (d / "segments").mkdir(parents=True)
    with pytest.raises(ValueError, match="no committed segments"):
        HotEngine.from_dir(str(d))
    (d / "manifest.json").write_text(
        json.dumps({"version": 0, "segments": [], "next_doc_id": 0})
    )
    with pytest.raises(ValueError, match="no committed segments"):
        HotEngine.from_dir(str(d))


def test_embedded_incremental_config_mismatch(spark, tmp_path):
    d = str(tmp_path / "mixed")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7, analyzer="simple")
    ix.process_batch(_batch(spark, "u", "one two", 10), 0)
    ix2 = IncrementalIndexer(
        index_dir=d, bucket_bits=7, analyzer="segmentation"
    )
    ix2.process_batch(_batch(spark, "v", "three four", 10), 1)
    with pytest.raises(ValueError, match="disagree on 'analyzer'"):
        HotEngine.from_dir(d)


def test_refresh_reopen_semantics(spark, tmp_path):
    d = str(tmp_path / "grow")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7)
    ix.process_batch(_batch(spark, "u", "alpha beta", 25), 0)
    emb = HotEngine.from_dir(d)
    assert len(emb.search(Term("alpha"), k=100)) == 25
    # no new commit -> no rebuild
    assert emb.refresh() is False
    # commit a new segment; the pinned replica still serves the old
    # point-in-time view until refresh()
    ix.process_batch(_batch(spark, "v", "alpha zeta", 10), 1)
    assert len(emb.search(Term("alpha"), k=100)) == 25
    assert emb.search(Term("zeta"), k=10) == []
    assert emb.refresh() is True
    assert len(emb.search(Term("alpha"), k=100)) == 35
    assert len(emb.search(Term("zeta"), k=100)) == 10
    # parity with the cluster merged view after reopen
    hot = HotEngine(SearchEngine(
        IncrementalIndexer(index_dir=d, bucket_bits=7).read(spark).cache()
    ))
    q = Or([Term("alpha"), Term("zeta")])
    assert emb.search(q, k=40) == hot.search(q, k=40)
    assert emb.refresh() is False


def test_refresh_batch_save_fingerprint(spark, tmp_path):
    """refresh() also covers plain batch saves: overwriting the dir
    with a new save() changes the manifest fingerprint."""
    from iresearch_spark.index.builder import build_index

    d = str(tmp_path / "batch")
    df1 = _batch(spark, "u", "alpha beta", 12)
    build_index(df1, text_col="text", id_col=None, sort_key="url").save(d)
    emb = HotEngine.from_dir(d)
    assert emb.refresh() is False
    df2 = _batch(spark, "u", "alpha beta zeta", 20)
    build_index(df2, text_col="text", id_col=None, sort_key="url").save(d)
    # ensure the mtime tick is visible even on coarse filesystems
    os.utime(os.path.join(d, "manifest.json"))
    assert emb.refresh() is True
    assert len(emb.search(Term("zeta"), k=50)) == 20


def test_refresh_requires_from_dir(spark, tmp_path):
    from iresearch_spark.index.builder import build_index
    from iresearch_spark.index.model import InvertedIndex

    d = str(tmp_path / "sparkbuilt")
    build_index(
        _batch(spark, "u", "alpha", 8), text_col="text", id_col=None,
        sort_key="url",
    ).save(d)
    eng = SearchEngine(InvertedIndex.load(spark, d))
    hot = HotEngine(eng)
    with pytest.raises(ValueError, match="from_dir"):
        hot.refresh()


def test_multifield_refresh(spark, tmp_path):
    from iresearch_spark.index.multifield import build_multi_field_index
    from iresearch_spark.search.hot import HotMultiFieldEngine
    from iresearch_spark.search.ast import Field

    d = str(tmp_path / "mf")
    df = spark.createDataFrame(
        [(i, f"title{i % 3} alpha", f"body{i % 5} beta") for i in range(20)],
        "doc_id long, title string, body string",
    )
    build_multi_field_index(df, fields=["title", "body"], sort_key="doc_id").save(d)
    emb = HotMultiFieldEngine.from_dir(d)
    assert emb.refresh() is False
    got = emb.search(Field("title", Term("alpha")), k=30)
    assert len(got) == 20
    # re-save with more docs -> refresh picks it up
    df2 = spark.createDataFrame(
        [(i, f"title{i % 3} alpha", f"body{i % 5} beta") for i in range(28)],
        "doc_id long, title string, body string",
    )
    build_multi_field_index(df2, fields=["title", "body"], sort_key="doc_id").save(d)
    os.utime(os.path.join(d, "field=title", "manifest.json"))
    assert emb.refresh() is True
    assert len(emb.search(Field("title", Term("alpha")), k=40)) == 28


def test_embedded_encrypted_incremental(spark, tmp_path):
    """Sealed multi-segment dirs serve embedded: the merged view
    decrypts in-process through EmbeddedDecryption, unkeyed loads fail
    fast, results match the keyed cluster merged view."""
    from iresearch_spark.index.encryption import IndexEncryption, _kms_jar_path

    if _kms_jar_path() is None:
        pytest.skip("jars/iresearch-kms.jar not built")
    enc = IndexEncryption({"k0": b"0123456789abcdef"})
    d = str(tmp_path / "einc")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7, encryption=enc)
    ix.process_batch(_batch(spark, "u", "alpha secretword", 20), 0)
    ix.process_batch(_batch(spark, "v", "alpha gamma", 15), 1)
    with pytest.raises(ValueError, match="encrypted"):
        HotEngine.from_dir(d)
    emb = HotEngine.from_dir(d, encryption=enc)
    assert len(emb.search(Term("secretword"), k=50)) == 20
    hot = HotEngine(SearchEngine(
        IncrementalIndexer(index_dir=d, bucket_bits=7, encryption=enc)
        .read(spark).cache()
    ))
    q = Or([Term("alpha"), Term("secretword")])
    assert emb.search(q, k=40) == hot.search(q, k=40)


def test_incremental_offsets_payloads_end_to_end(spark, tmp_path):
    """Streaming segments now carry the OFFS/PAY occurrence streams:
    highlight()/payloads() work over the merged multi-segment view,
    cluster and embedded alike."""
    d = str(tmp_path / "offs")
    ix = IncrementalIndexer(
        index_dir=d, bucket_bits=7, with_offsets=True,
        payload_delimiter="|",
    )
    mk = lambda rows: spark.createDataFrame(rows, "url string, text string")
    ix.process_batch(mk([("u0", "alpha|p0 beta"), ("u1", "beta alpha|p1")]), 0)
    ix.process_batch(mk([("v0", "gamma alpha|p2")]), 1)
    idx = ix.read(spark).cache()
    eng = SearchEngine(idx)
    hl = {(r["doc_id"], r["start"], r["length"])
          for r in eng.highlight(["beta"]).collect()}
    assert hl  # spans exist for both segments' docs
    docs_with_beta = {r[0] for r in hl}
    assert len(docs_with_beta) == 2
    pays = {(r["doc_id"], bytes(r["payload"]))
            for r in eng.payloads(["alpha"]).collect()}
    assert {p for _, p in pays} == {b"p0", b"p1", b"p2"}
    # embedded merged replica serves the same rows
    emb = HotEngine.from_dir(d)
    hot = HotEngine(SearchEngine(idx))
    assert emb.highlight(["beta"]) == hot.highlight(["beta"])
    assert emb.payloads(["alpha"]) == hot.payloads(["alpha"])


def test_refresh_under_concurrent_serving(spark, tmp_path):
    """The refresh swap is one dict rebinding: a thread pool hammering
    search() while another thread refreshes must only ever observe the
    old or the new commit's answers — no exceptions, no mixed state."""
    import threading

    d = str(tmp_path / "conc")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7)
    ix.process_batch(_batch(spark, "u", "alpha beta", 30), 0)
    emb = HotEngine.from_dir(d)
    old = emb.search(Term("alpha"), k=100)
    ix.process_batch(_batch(spark, "v", "alpha zeta", 12), 1)
    new = HotEngine.from_dir(d).search(Term("alpha"), k=100)
    assert len(old) == 30 and len(new) == 42

    errors, views = [], set()
    stop = threading.Event()

    def hammer():
        while not stop.is_set():
            try:
                got = emb.search(Term("alpha"), k=100)
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))
                return
            if got == old:
                views.add("old")
            elif got == new:
                views.add("new")
            else:
                errors.append(f"mixed view: {len(got)} rows")
                return

    threads = [threading.Thread(target=hammer) for _ in range(6)]
    for t in threads:
        t.start()
    assert emb.refresh() is True
    for _ in range(3):
        emb.refresh()  # no-op refreshes while serving
    stop.set()
    for t in threads:
        t.join()
    assert errors == []
    assert "new" in views  # post-swap queries saw the new commit
    assert emb.search(Term("zeta"), k=20) != []


def test_refresh_mid_query_never_mixes_commits(spark, tmp_path, monkeypatch):
    """Deterministic form of the race above: a hook in the scoring of
    the query's first term swaps the replica to a new commit while the
    two-term query is between reading its first and its second term.
    The query must answer from ONE commit (the one it started on), and
    the next query from the new commit."""
    from iresearch_spark.search.semantics import Semantics

    d = str(tmp_path / "swap")
    ix = IncrementalIndexer(index_dir=d, bucket_bits=7)
    ix.process_batch(_batch(spark, "u", "alpha beta", 30), 0)
    q = Or([Term("alpha"), Term("zeta")])
    old = HotEngine.from_dir(d).search(q, k=100)
    emb = HotEngine.from_dir(d)  # nothing decoded yet
    ix.process_batch(_batch(spark, "v", "alpha zeta", 12), 1)
    new = HotEngine.from_dir(d).search(q, k=100)
    assert old != new

    real = Semantics.c0
    fired, swapped = [], []

    def hooked(self, *args):
        if not fired:
            fired.append(True)
            swapped.append(emb.refresh())
        return real(self, *args)

    monkeypatch.setattr(Semantics, "c0", hooked)
    got = emb.search(q, k=100)
    monkeypatch.undo()
    assert swapped == [True]
    assert got == old
    assert emb.search(q, k=100) == new
