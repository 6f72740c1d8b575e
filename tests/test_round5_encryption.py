"""Index encryption (reference `irs::encryption`,
core/store/directory_attributes.hpp:32-65 + ctr_encryption.hpp) mapped
to Parquet Modular Encryption: uniform AES-GCM over every index table,
footers sealed (PARE magic), master keys only in the session (bundled
ConfKmsClient reads them from the Hadoop conf), wrapped data keys in
the footers. Keyed reads are transparent; search results must be
IDENTICAL to a plaintext save of the same index."""

import glob
import json
import os

import pytest

from iresearch_spark.index.builder import build_index
from iresearch_spark.index.encryption import IndexEncryption, _kms_jar_path
from iresearch_spark.index.model import InvertedIndex
from iresearch_spark.search import And, Or, Prefix, SearchEngine, Term

pytestmark = pytest.mark.skipif(
    _kms_jar_path() is None, reason="jars/iresearch-kms.jar not built"
)

TEXTS = [
    "alpha beta gamma secretword",
    "alpha alpha delta",
    "beta gamma gamma",
    "secretword delta epsilon",
    "alpha beta delta epsilon",
]


def _index(spark):
    return build_index(
        spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id long, text string"
        ),
        id_col="doc_id",
        text_col="text",
    )


def _enc():
    return IndexEncryption({"k0": b"0123456789abcdef"})


def _results(engine, query, k=5):
    return [
        (r["doc_id"], round(r["score"], 10))
        for r in engine.search(query, k=k).collect()
    ]


def _all_parquet(path):
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def test_encrypted_save_seals_files(spark, tmp_path):
    path = str(tmp_path / "encix")
    _index(spark).save(path, encryption=_enc())
    files = _all_parquet(path)
    assert files
    for f in files:
        raw = open(f, "rb").read()
        # encrypted-footer parquet magic (PARE, not PAR1)
        assert raw[:4] == b"PARE" and raw[-4:] == b"PARE", f
        # no plaintext terms anywhere in the bytes
        assert b"secretword" not in raw and b"alpha" not in raw, f
    # manifest: no plaintext vocabulary ranges, names-only key record
    man = json.load(open(os.path.join(path, "manifest.json")))
    assert man["term_stats_ranges"] is None
    assert "term_stats_rev_ranges" not in man
    assert "term_grams_ranges" not in man
    assert man["encryption"]["footer_key"] == "k0"
    raw_man = open(os.path.join(path, "manifest.json"), "rb").read()
    assert b"secretword" not in raw_man
    import base64

    assert base64.b64encode(b"0123456789abcdef") not in raw_man


def test_unkeyed_readers_rejected(spark, tmp_path):
    path = str(tmp_path / "encix")
    _index(spark).save(path, encryption=_enc())
    # an unkeyed parquet stack can't open the files
    import pyarrow.parquet as pq

    with pytest.raises(Exception):
        pq.read_table(_all_parquet(path)[0])
    # load() without the provider fails fast on the manifest record
    with pytest.raises(ValueError, match="encrypted"):
        InvertedIndex.load(spark, path)


def test_keyed_search_identical_to_plaintext(spark, tmp_path):
    idx = _index(spark)
    p_plain = str(tmp_path / "plain")
    p_enc = str(tmp_path / "enc")
    idx.save(p_plain)
    idx.save(p_enc, encryption=_enc())
    e_plain = SearchEngine(InvertedIndex.load(spark, p_plain))
    e_enc = SearchEngine(
        InvertedIndex.load(spark, p_enc, encryption=_enc())
    )
    for q in (
        Term("alpha"),
        Or([Term("beta"), Term("delta")]),
        And([Term("gamma"), Term("beta")]),
        Prefix("secre"),
    ):
        assert _results(e_enc, q) == _results(e_plain, q), q


def test_wrong_key_fails(spark, tmp_path):
    path = str(tmp_path / "encix")
    _index(spark).save(path, encryption=_enc())
    bad = IndexEncryption({"k0": b"FFFFFFFFFFFFFFFF"})
    with pytest.raises(Exception):  # GCM unwrap/auth failure at read
        InvertedIndex.load(spark, path, encryption=bad).postings.count()


def test_snapshot_commits_encrypted(spark, tmp_path):
    path = str(tmp_path / "snap")
    enc = _enc()
    idx = _index(spark)
    sid = idx.save_snapshot(path, encryption=enc)
    assert sid == 1
    with pytest.raises(ValueError, match="encrypted"):
        InvertedIndex.load(spark, path)
    back = InvertedIndex.load(spark, path, encryption=enc)
    assert back.field_stats.n_docs == len(TEXTS)
    hits = {
        r["doc_id"]
        for r in SearchEngine(back).matches(Term("secretword")).collect()
    }
    assert hits == {0, 3}


def test_provider_validation():
    with pytest.raises(ValueError, match="empty"):
        IndexEncryption({})
    with pytest.raises(ValueError, match="16/24/32"):
        IndexEncryption({"k0": b"short"})
    with pytest.raises(ValueError, match="not in keys"):
        IndexEncryption({"k0": b"0123456789abcdef"}, footer_key="nope")
    with pytest.raises(ValueError, match="may not contain"):
        IndexEncryption({"a:b": b"0123456789abcdef"})
    assert len(IndexEncryption.generate_key()) == 16
    assert len(IndexEncryption.generate_key(32)) == 32
    with pytest.raises(ValueError):
        IndexEncryption.generate_key(15)
    e = IndexEncryption(
        {"a": b"0123456789abcdef", "b": b"0123456789abcdefX" [:16]},
        footer_key="b",
    )
    assert e.write_options() == {"parquet.encryption.uniform.key": "b"}
    assert "a:" in e.key_list() and "b:" in e.key_list()


def test_streaming_segments_encrypted(spark, tmp_path):
    from iresearch_spark.streaming.incremental import IncrementalIndexer

    enc = _enc()
    ixdir = str(tmp_path / "inc")
    ix = IncrementalIndexer(index_dir=ixdir, bucket_bits=7, encryption=enc)
    mk = lambda rows: spark.createDataFrame(rows, "url string, text string")
    ix.process_batch(
        mk([(f"u{i}", "alpha secretword beta") for i in range(20)]), 0
    )
    ix.process_batch(
        mk([(f"v{i}", "alpha gamma delta") for i in range(15)]), 1
    )
    # every segment file sealed, nothing plaintext
    for f in _all_parquet(ixdir):
        raw = open(f, "rb").read()
        assert raw[:4] == b"PARE", f
        assert b"secretword" not in raw, f
    # merged view decrypts and searches
    idx = IncrementalIndexer(
        index_dir=ixdir, bucket_bits=7, encryption=enc
    ).read(spark)
    assert idx.field_stats.n_docs == 35
    eng = SearchEngine(idx)
    assert eng.matches(Term("secretword")).count() == 20
    assert eng.matches(Term("alpha")).count() == 35
    # unkeyed merged read fails fast
    with pytest.raises(ValueError, match="encrypted"):
        IncrementalIndexer(index_dir=ixdir, bucket_bits=7).read(spark)
    # consolidation re-encrypts the merged segment
    cons = IncrementalIndexer(
        index_dir=ixdir, bucket_bits=7, encryption=enc
    )
    new_id = cons.consolidate_segments(spark, ["seg_0", "seg_1"])
    assert new_id is not None
    for f in _all_parquet(ixdir):
        assert open(f, "rb").read(4) == b"PARE", f
    idx2 = cons.read(spark)
    assert SearchEngine(idx2).matches(Term("secretword")).count() == 20


def test_hot_engine_over_encrypted_index(spark, tmp_path):
    """The driver-resident hot serving path replicates blocks via a
    Spark collect, which decrypts under the armed session — hot
    results over an encrypted index must equal the cluster path."""
    from iresearch_spark.search.hot import HotEngine

    path = str(tmp_path / "encix")
    enc = _enc()
    _index(spark).save(path, encryption=enc)
    idx = InvertedIndex.load(spark, path, encryption=enc)
    cluster = SearchEngine(idx)
    hot = HotEngine(cluster)
    for q in (Term("alpha"), Or([Term("beta"), Term("delta")])):
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in cluster.search(q, k=5).collect()
        ]
        got = [(d, round(s, 9)) for d, s in hot.search(q, k=5)]
        assert got == want, q


def test_key_rotation_without_data_rewrite(spark, tmp_path):
    """Master-key rotation: external key material sidecars are
    re-wrapped under the newest key VERSION; data files untouched;
    afterwards only the new version can read the index."""
    path = str(tmp_path / "rotix")
    key_v1 = b"0123456789abcdef"
    key_v2 = b"fedcba9876543210"
    enc_v1 = IndexEncryption({"k0": {1: key_v1}}, external_key_material=True)
    _index(spark).save(path, encryption=enc_v1)
    mats = glob.glob(
        os.path.join(path, "**", "_KEY_MATERIAL_FOR_*"), recursive=True
    )
    assert mats, "external key material sidecars expected"
    assert all(
        open(f, "rb").read(4) == b"PARE" for f in _all_parquet(path)
    )
    baseline = _results(
        SearchEngine(InvertedIndex.load(spark, path, encryption=enc_v1)),
        Term("alpha"),
    )
    data_mtimes = {f: os.path.getmtime(f) for f in _all_parquet(path)}

    # rotate: provider holds BOTH versions, newest wins
    enc_rot = IndexEncryption(
        {"k0": {1: key_v1, 2: key_v2}}, external_key_material=True
    )
    n = enc_rot.rotate_master_keys(spark, path)
    assert n >= 4  # at least postings/docs/term_stats
    # data files untouched — rotation rewrote only the sidecars
    assert {f: os.path.getmtime(f) for f in _all_parquet(path)} == data_mtimes

    # a session holding ONLY v2 reads the rotated index
    enc_v2 = IndexEncryption({"k0": {2: key_v2}})
    got = _results(
        SearchEngine(InvertedIndex.load(spark, path, encryption=enc_v2)),
        Term("alpha"),
    )
    assert got == baseline
    # a session holding only the RETIRED v1 is locked out
    enc_old = IndexEncryption({"k0": {1: key_v1}})
    with pytest.raises(Exception):
        InvertedIndex.load(spark, path, encryption=enc_old).postings.count()


def test_from_key_file(tmp_path):
    import base64

    p = tmp_path / "keys.txt"
    p.write_text(
        "# master keys\n"
        f"k0:{base64.b64encode(b'0123456789abcdef').decode()}\n"
        f"k1:{base64.b64encode(b'0123456789abcdef0123456789abcdef').decode()}\n"
    )
    e = IndexEncryption.from_key_file(str(p), footer_key="k1")
    assert set(e.master_keys) == {"k0", "k1"}
    assert e.footer_key == "k1"
    assert len(e.master_keys["k1"]) == 32
    bad = tmp_path / "bad.txt"
    bad.write_text("no-colon-here\n")
    with pytest.raises(ValueError, match="bad key line"):
        IndexEncryption.from_key_file(str(bad))
