"""Spark-free embedded serving (search/embedded.py + HotEngine
.from_dir): the saved-parquet replica must be indistinguishable from
the Spark-built hot replica — which is itself differential-tested
against the cluster engine — across query shapes, score dtypes, WAND,
occurrence APIs, deletes, sorted-index top_docs, and multifield
routing; plus the embedded-path boundaries (budget, encryption,
no-cluster-fallback) and the no-JVM guarantee."""

import json
import os
import random
import subprocess
import sys

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.model import InvertedIndex
from iresearch_spark.search import (
    And,
    Exists,
    Fuzzy,
    Not,
    NumericRange,
    Or,
    Phrase,
    Prefix,
    Range,
    SamePosition,
    SearchEngine,
    Term,
    Terms,
    Wildcard,
)
from iresearch_spark.search import ast
from iresearch_spark.search.hot import HotEngine

VOCAB = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "index", "search", "engine",
]


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    """One saved index with every feature the embedded path reads:
    positions, offsets, payloads, a stored numeric + string column."""
    rng = random.Random(23)
    rows = [
        (
            i,
            " ".join(rng.choices(VOCAB, k=rng.randint(4, 40)))
            + (" rare1" if i % 97 == 0 else ""),
            float(i % 13) if i % 7 else None,
            f"u{i:04d}",
        )
        for i in range(1500)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, score double, url string"
    )
    idx = build_index(
        df,
        id_col="doc_id",
        text_col="text",
        with_offsets=True,
        payload_delimiter="|",
        extra_doc_cols=["score", "url"],
    )
    path = str(tmp_path_factory.mktemp("emb") / "ix")
    idx.save(path)
    return path


@pytest.fixture(scope="module")
def pair(spark, saved):
    eng = SearchEngine(InvertedIndex.load(spark, saved).cache())
    return HotEngine(eng), HotEngine.from_dir(saved)


QUERIES = [
    Term("quick"),
    Term("rare1", boost=2.5),
    Terms(["quick", "lazy", "dog"], term_boosts={"lazy": 2.0}),
    And([Term("quick"), Term("lazy")]),
    And([Term("quick"), Not(Term("lazy"))]),
    Or([Term("quick"), Term("rare1", boost=3.0)]),
    Or([Term("quick"), Term("lazy"), Term("dog")], min_match=2),
    Phrase(("quick", "brown")),
    Phrase(("quick", Prefix("bro"))),
    SamePosition(("quick", "quick")),
    Prefix("ra"),
    Wildcard("%og"),
    Wildcard("s_ark"),
    Range("fox", "lazy"),
    Fuzzy("quik", distance=1),
    Fuzzy("spqrk", distance=2, transpositions=True),
    Exists("score"),
    And([Term("quick"), NumericRange("score", 3.0, 9.0)]),
    ast.NgramSimilarity(["quick", "brown", "fox"], threshold=0.5),
]


@pytest.mark.parametrize(
    "q", QUERIES, ids=[type(q).__name__ + str(i) for i, q in enumerate(QUERIES)]
)
def test_embedded_matches_spark_hot(pair, q):
    hot, emb = pair
    for mode in ("exhaustive", "wand"):
        assert emb.search(q, k=12, mode=mode) == hot.search(q, k=12)


def test_embedded_blob_bytes_exact(pair):
    hot, emb = pair
    assert emb._blob_bytes == hot._blob_bytes
    ms, me = hot.memory_stats(), emb.memory_stats()
    assert ms["blob_bytes"] == me["blob_bytes"]
    assert ms["positions_blob_bytes"] == me["positions_blob_bytes"]
    assert ms["occurrence_blob_bytes"] == me["occurrence_blob_bytes"]
    assert ms["n_terms"] == me["n_terms"]


def test_embedded_f32_parity(spark, saved):
    hot = HotEngine(
        SearchEngine(
            InvertedIndex.load(spark, saved).cache(), score_dtype="float32"
        )
    )
    emb = HotEngine.from_dir(saved, score_dtype="float32")
    for q in (Term("quick"), Or([Term("fox"), Term("dog")]), Prefix("ra")):
        assert emb.search(q, k=10, mode="wand") == hot.search(q, k=10)


def test_embedded_occurrences_and_docs(pair):
    hot, emb = pair
    assert emb.highlight(["quick", "rare1"]) == hot.highlight(
        ["quick", "rare1"]
    )
    assert emb.payloads(["quick"]) == hot.payloads(["quick"])
    assert emb.top_docs(k=9, query=Term("quick"), columns=["doc_id", "url"]) \
        == hot.top_docs(k=9, query=Term("quick"), columns=["doc_id", "url"])
    assert emb.search_many({"a": Term("quick"), "b": Phrase(("lazy", "dog"))}) \
        == hot.search_many({"a": Term("quick"), "b": Phrase(("lazy", "dog"))})


def test_embedded_deletes(spark, saved, tmp_path):
    idx = InvertedIndex.load(spark, saved)
    top = HotEngine.from_dir(saved).search(Term("quick"), k=1)[0][0]
    idx2 = idx.delete_docs(spark.createDataFrame([(top,)], "doc_id long"))
    p2 = str(tmp_path / "del")
    idx2.save(p2)
    emb = HotEngine.from_dir(p2)
    hot = HotEngine(SearchEngine(InvertedIndex.load(spark, p2).cache()))
    assert all(d != top for d, _ in emb.search(Term("quick"), k=20))
    assert emb.search(Term("quick"), k=20) == hot.search(Term("quick"), k=20)


def test_embedded_sorted_top_docs(spark, tmp_path):
    rows = [(f"u{i:03d}", 500 - i, f"alpha {'beta' if i % 3 else 'gamma'}")
            for i in range(120)]
    df = spark.createDataFrame(rows, "url string, n long, text string")
    idx = build_index(
        df, analyzer="simple", id_col=None, sort_key="url",
        sort_field="n", sort_ascending=False, bucket_bits=6,
        extra_doc_cols=["url", "n"],
    )
    p = str(tmp_path / "sorted")
    idx.save(p)
    emb = HotEngine.from_dir(p)
    eng = SearchEngine(InvertedIndex.load(spark, p).cache())
    want = [
        (r["doc_id"], r["url"], r["n"])
        for r in eng.top_docs(k=8, columns=["doc_id", "url", "n"]).collect()
    ]
    got = [
        (r["doc_id"], r["url"], r["n"])
        for r in emb.top_docs(k=8, columns=["doc_id", "url", "n"])
    ]
    assert got == want


def test_embedded_budget_guard(saved):
    with pytest.raises(ValueError, match="exceed the hot budget"):
        HotEngine.from_dir(saved, max_bytes=1024)


def test_embedded_refuses_encrypted(tmp_path):
    p = tmp_path / "encix"
    p.mkdir()
    (p / "manifest.json").write_text(json.dumps({
        "version": 1, "n_docs": 1, "total_term_freq": 1,
        "with_positions": True, "analyzer": "simple",
        "encryption": {"footer_key": "k0",
                       "kms_client_class": "ConfKmsClient"},
    }))
    with pytest.raises(ValueError, match="encrypted"):
        HotEngine.from_dir(str(p))


def test_embedded_no_cluster_fallback(saved):
    emb = HotEngine.from_dir(saved)
    with pytest.raises(RuntimeError, match="no cluster path"):
        # GranularRange on a column the docs table does not store is
        # the one unservable shape — the Spark-built hot engine would
        # fall back to the cluster; embedded must refuse loudly
        emb.search(ast.GranularRange("no_such_col", 1, 2), k=5)


def test_embedded_snapshot_pointer(spark, saved, tmp_path):
    idx = InvertedIndex.load(spark, saved)
    p = str(tmp_path / "snap")
    sid = idx.save_snapshot(p)
    emb = HotEngine.from_dir(p)
    hot = HotEngine(
        SearchEngine(InvertedIndex.load(spark, p, snapshot_id=sid).cache())
    )
    assert emb.search(Term("quick"), k=10) == hot.search(Term("quick"), k=10)


def test_embedded_multifield(spark, tmp_path):
    from iresearch_spark.index.multifield import build_multi_field_index
    from iresearch_spark.search.hot import HotMultiFieldEngine
    from iresearch_spark.search.multifield import MultiFieldEngine

    rng = random.Random(7)
    rows = [
        (i, " ".join(rng.choices(VOCAB, k=8)),
         " ".join(rng.choices(VOCAB, k=4)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    midx = build_multi_field_index(
        df, fields=["body", "title"], sort_key="doc_id",
        default_field="body",
    )
    p = str(tmp_path / "mf")
    midx.save(p)
    emb = HotMultiFieldEngine.from_dir(p)
    cluster = MultiFieldEngine(
        type(midx).load(spark, p)
    )
    hot = HotMultiFieldEngine(cluster)
    for q in (
        Term("quick"),
        ast.Field("title", Term("quick"), boost=2.0),
        And([ast.Field("title", Term("quick")),
             ast.Field("body", Term("lazy"))]),
    ):
        assert emb.search(q, k=10) == hot.search(q, k=10)
    ms = emb.memory_stats()
    assert set(ms["fields"]) == {"body", "title"}


def test_embedded_zero_jvm(saved):
    """A fresh interpreter serves from_dir and never starts Spark."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from iresearch_spark.search.hot import HotEngine\n"
        "from iresearch_spark.search import Term\n"
        "h = HotEngine.from_dir(%r)\n"
        "r = h.search(Term('quick'), k=3, mode='wand')\n"
        "assert len(r) == 3, r\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "print('OK', r[0][0])\n"
    ) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))), saved)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith("OK")


def test_embedded_refuses_incremental_dir(tmp_path):
    p = tmp_path / "inc"
    (p / "segments").mkdir(parents=True)
    with pytest.raises(ValueError, match="INCREMENTAL"):
        HotEngine.from_dir(str(p))
    q = tmp_path / "empty"
    q.mkdir()
    with pytest.raises(FileNotFoundError, match="manifest"):
        HotEngine.from_dir(str(q))


# ---------------------------------------------------------- encrypted


def _kms_available():
    from iresearch_spark.index.encryption import _kms_jar_path

    return _kms_jar_path() is not None


@pytest.mark.skipif(
    not _kms_available(), reason="jars/iresearch-kms.jar not built"
)
def test_embedded_serves_sealed_index(spark, tmp_path):
    """A Parquet-Modular-Encrypted index serves EMBEDDED with the same
    master keys: EmbeddedDecryption replicates the JVM ConfKmsClient's
    irv:-versioned local wrap python-side (pyarrow's C++ key tools
    handle the parquet-mr double-wrapped key material), so a serving
    host needs keys but still no JVM. Results must equal the keyed
    Spark hot replica; wrong keys must fail loudly; missing keys keep
    the refusal."""
    from iresearch_spark.index.encryption import IndexEncryption

    rng = random.Random(11)
    rows = [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(4, 25))))
        for i in range(400)
    ]
    idx = build_index(
        spark.createDataFrame(rows, "doc_id long, text string"),
        id_col="doc_id",
        text_col="text",
    )
    # versioned master keys: the JVM wraps under the NEWEST (v2) and
    # records it in the irv: header the python unwrap must parse
    enc = IndexEncryption(
        {"k0": {1: b"0123456789abcdef", 2: b"fedcba9876543210"}}
    )
    path = str(tmp_path / "sealed")
    idx.save(path, encryption=enc)
    one = next(
        f for f in os.listdir(os.path.join(path, "docs"))
        if f.endswith(".parquet")
    )
    with open(os.path.join(path, "docs", one), "rb") as fh:
        assert fh.read(4) == b"PARE"  # actually sealed

    hot = HotEngine(
        SearchEngine(
            InvertedIndex.load(spark, path, encryption=enc).cache()
        )
    )
    emb = HotEngine.from_dir(path, encryption=enc)
    for q in (
        Term("quick"),
        And([Term("quick"), Term("lazy")]),
        Phrase(("quick", "brown")),
        Prefix("ra"),
        Fuzzy("quik", distance=1),
    ):
        assert emb.search(q, k=10, mode="wand") == hot.search(q, k=10)
    assert emb._blob_bytes == hot._blob_bytes

    # no keys -> refusal names the footer key
    with pytest.raises(ValueError, match="encrypted"):
        HotEngine.from_dir(path)
    # wrong keys -> decryption fails loudly (GCM tag), nothing decodes
    bad = IndexEncryption({"k0": b"xxxxxxxxxxxxxxxx"})
    with pytest.raises(Exception):
        HotEngine.from_dir(path, encryption=bad)


def test_embedded_multifield_search_many(spark, tmp_path):
    from iresearch_spark.index.multifield import build_multi_field_index
    from iresearch_spark.search.hot import HotMultiFieldEngine

    rng = random.Random(9)
    rows = [
        (i, " ".join(rng.choices(VOCAB, k=6)),
         " ".join(rng.choices(VOCAB, k=3)))
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    m = build_multi_field_index(
        df, fields=["body", "title"], sort_key="doc_id",
        default_field="body",
    )
    p = str(tmp_path / "mf2")
    m.save(p)
    emb = HotMultiFieldEngine.from_dir(p)
    tasks = {
        "a": Term("quick"),
        "b": ast.Field("title", Term("lazy")),
    }
    got = emb.search_many(tasks, k=5)
    assert got == {n: emb.search(q, k=5) for n, q in tasks.items()}


def test_embedded_kms_wrap_unwrap_roundtrip():
    """Property: the python ConfKmsClient twin round-trips any key
    under any master-key version, records the version in the irv:
    header, refuses wrong master keys (GCM tag) and unknown key
    names — the local-wrap format pinned against the JVM client's
    KeyToolkit.encryptKeyLocally output."""
    from hypothesis import given, settings, strategies as st

    from iresearch_spark.index.encryption import IndexEncryption
    from iresearch_spark.search.embedded import EmbeddedDecryption

    @settings(max_examples=40, deadline=None)
    @given(
        dek=st.binary(min_size=16, max_size=16),
        master=st.binary(min_size=16, max_size=16),
        other=st.binary(min_size=16, max_size=16),
        ver=st.integers(min_value=1, max_value=9),
    )
    def prop(dek, master, other, ver):
        dec = EmbeddedDecryption(
            IndexEncryption({"k0": {ver: master}, "alt": other})
        )
        client = dec._client_cls(None)
        w = client.wrap_key(dek, "k0")
        assert w.startswith(f"irv:{ver}:")
        assert client.unwrap_key(w, "k0") == dek
        if other != master:
            try:
                client.unwrap_key(w, "alt")
                raise AssertionError("wrong master key must fail")
            except AssertionError:
                raise
            except Exception:
                pass  # GCM tag failure
        try:
            client.unwrap_key(w, "missing")
            raise AssertionError("unknown key name must raise")
        except ValueError:
            pass

    prop()


def test_embedded_refuses_external_key_material(tmp_path):
    p = tmp_path / "extix"
    p.mkdir()
    (p / "manifest.json").write_text(json.dumps({
        "version": 1, "n_docs": 1, "total_term_freq": 1,
        "with_positions": True, "analyzer": "simple",
        "encryption": {"footer_key": "k0",
                       "kms_client_class": "ConfKmsClient",
                       "external_key_material": True},
    }))
    from iresearch_spark.index.encryption import IndexEncryption

    with pytest.raises(ValueError, match="external_key_material"):
        HotEngine.from_dir(
            str(p),
            encryption=IndexEncryption({"k0": b"0123456789abcdef"}),
        )


def test_embedded_concurrent_serving(saved):
    """The lazy per-term materialization caches (_bl/_auxl, decode,
    bounds, expansion) fill under a multi-threaded request pool on a
    COLD from_dir replica exactly as single-threaded (idempotent
    grow-only dicts under the GIL)."""
    from concurrent.futures import ThreadPoolExecutor

    emb = HotEngine.from_dir(saved)
    qs = QUERIES[:12]
    tasks = [(i % len(qs), qs[i % len(qs)]) for i in range(144)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        got = list(
            ex.map(lambda t: (t[0], emb.search(t[1], k=10, mode="wand")), tasks)
        )
    want = {i: emb.search(q, k=10, mode="wand") for i, q in enumerate(qs)}
    for i, res in got:
        assert res == want[i]
