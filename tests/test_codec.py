"""Codec round-trips, mirroring the reference's format tests
(`tests/formats/formats_test_case_base.cpp` posting round-trips and
`tests/index/postings_tests.cpp`)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from iresearch_spark.index import codec


def test_varint_known_values():
    # wire-format goldens: 0->00, 127->7f, 128->80 01, 300->ac 02
    assert codec.varint_encode(np.array([0])) == b"\x00"
    assert codec.varint_encode(np.array([127])) == b"\x7f"
    assert codec.varint_encode(np.array([128])) == b"\x80\x01"
    assert codec.varint_encode(np.array([300])) == b"\xac\x02"
    assert codec.varint_encode(np.array([2**63])) == bytes(
        [0x80, 0x80, 0x80, 0x80, 0x80, 0x80, 0x80, 0x80, 0x80, 0x01]
    )


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(arr))
    assert out.tolist() == values


@given(
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=200),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_docs_freqs_roundtrip(doc_set, data):
    docs = np.array(sorted(doc_set), dtype=np.uint64)
    freqs = np.array(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=1000),
                min_size=len(docs),
                max_size=len(docs),
            )
        ),
        dtype=np.uint64,
    )
    blob = codec.pack_docs_freqs(docs, freqs)
    d2, f2 = codec.unpack_docs_freqs(blob, len(docs))
    assert d2.tolist() == docs.tolist()
    assert f2.tolist() == freqs.tolist()


def test_freq1_flag_saves_bytes():
    docs = np.arange(1, 129, dtype=np.uint64)
    ones = np.ones(128, dtype=np.uint64)
    twos = np.full(128, 2, dtype=np.uint64)
    assert len(codec.pack_docs_freqs(docs, ones)) < len(
        codec.pack_docs_freqs(docs, twos)
    )


def test_position_lists_roundtrip():
    rng = np.random.default_rng(42)
    freqs = rng.integers(1, 8, size=50).astype(np.uint64)
    pos = np.concatenate(
        [np.sort(rng.choice(500, size=int(f), replace=False)) for f in freqs]
    ).astype(np.uint64)
    blob = codec.encode_position_lists(pos, freqs)
    out = codec.decode_position_lists(blob, freqs)
    assert out.tolist() == pos.tolist()


def test_empty():
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0
    assert codec.decode_position_lists(b"", np.array([], np.uint64)).size == 0


def test_encode_blocks_batch_equivalence():
    """Batched encoder must be byte-identical to the per-block codecs."""
    rng = np.random.default_rng(7)
    # build several contiguous (term,bucket) runs chopped into blocks
    doc_ids, freqs, dls, block_starts, block_ends = [], [], [], [], []
    row = 0
    for run_len in [1, 5, 128, 129, 300, 2, 64]:
        ids = np.sort(rng.choice(10**9, size=run_len, replace=False))
        fs = rng.integers(1, 6, size=run_len)
        ds = rng.integers(1, 500, size=run_len)
        for s in range(0, run_len, 128):
            e = min(s + 128, run_len)
            block_starts.append(row + s)
            block_ends.append(row + e)
        doc_ids.append(ids)
        freqs.append(fs)
        dls.append(ds)
        row += run_len
    doc_ids = np.concatenate(doc_ids)
    freqs = np.concatenate(freqs).astype(np.int64)
    dls = np.concatenate(dls).astype(np.int64)
    flat_pos = np.concatenate(
        [np.sort(rng.choice(10**6, size=int(f), replace=False)) for f in freqs]
    ).astype(np.uint64)
    pos_off = np.concatenate(([0], np.cumsum(freqs)))
    bs = np.asarray(block_starts)
    be = np.asarray(block_ends)
    d_buf, d_off, l_buf, l_off, p_buf, p_off = codec.encode_blocks_batch_offsets(
        doc_ids, freqs, dls, bs, be, flat_pos
    )
    for i, (s, e) in enumerate(zip(bs, be)):
        assert d_buf[d_off[i]:d_off[i + 1]] == codec.pack_docs_freqs(
            doc_ids[s:e], freqs[s:e]
        )
        assert l_buf[l_off[i]:l_off[i + 1]] == codec.varint_encode(
            dls[s:e].astype(np.uint64)
        )
        want_pos = codec.encode_position_lists(
            flat_pos[pos_off[s] : pos_off[e]], freqs[s:e]
        )
        assert p_buf[p_off[i]:p_off[i + 1]] == want_pos, i


def test_occurrence_stream_roundtrip():
    """encode_occurrence_stream (positions/offsets) block round-trip:
    delta and raw modes, random row/block tilings."""
    import numpy as np

    from iresearch_spark.index import codec

    rng = np.random.default_rng(5)
    for _ in range(20):
        n_rows = int(rng.integers(1, 40))
        freqs = rng.integers(1, 6, size=n_rows).astype(np.int64)
        total = int(freqs.sum())
        # ascending-within-row values for delta mode
        vals = np.concatenate([
            np.sort(rng.integers(0, 1000, size=f)) for f in freqs
        ]).astype(np.uint64)
        # random contiguous block tiling of the rows
        cuts = np.unique(rng.integers(1, n_rows + 1, size=3))
        bs = np.concatenate(([0], cuts[cuts < n_rows]))
        be = np.concatenate((bs[1:], [n_rows]))
        for delta in (True, False):
            buf, off = codec.encode_occurrence_stream(
                vals, freqs, bs, be, delta=delta
            )
            occ_off = np.concatenate(([0], np.cumsum(freqs)))
            out = []
            for b in range(bs.size):
                blob = buf[off[b]:off[b + 1]]
                decoded = codec.varint_decode(blob)
                if delta:
                    # per-row segmented cumsum within the block
                    row_f = freqs[bs[b]:be[b]]
                    starts = np.concatenate(([0], np.cumsum(row_f)[:-1]))
                    cs = np.cumsum(decoded.astype(np.int64))
                    base = cs[starts] - decoded.astype(np.int64)[starts]
                    owner = np.repeat(np.arange(row_f.size), row_f)
                    out.append(cs - base[owner])
                else:
                    out.append(decoded.astype(np.int64))
            got = np.concatenate(out) if out else np.empty(0, np.int64)
            assert np.array_equal(got, vals.astype(np.int64)), (delta, freqs)
