"""Vectorized varint / delta-gap codecs over numpy arrays.

Capability parity with the reference's posting-block encoding
(IResearch `core/formats/formats_10.cpp:692-706,866-1010`): doc ids are
stored as delta gaps, varint-encoded, with the `freq == 1` flag packed
into the low bit of the gap (`shift_pack_32`); positions are stored as
per-occurrence deltas. The reference bit-packs full 128-doc blocks with
SIMD; here every block is ONE DataFrame row holding varint blobs, and
numpy gives the vectorization (Arrow batches keep this off the hot
Python path).

All functions are pure numpy (no Python-level per-element loops) so they
stay fast inside pandas/Arrow UDF batches.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def varint_size(values: np.ndarray) -> np.ndarray:
    """Per-element encoded byte length (1..10) for uint64 values."""
    v = np.asarray(values, dtype=np.uint64)
    # nbytes = 1 + count of thresholds <= v   (vectorized via comparisons)
    n = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        n += (v >= t).astype(np.int64)
    return n


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint encoding of a uint array, vectorized.

    Little-endian base-128; high bit set on every byte except the last of
    each value (same wire format as the reference's `write_vint`/
    `write_vlong`, `core/store/store_utils.hpp`).
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    sizes = varint_size(v)
    offsets = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    total = int(sizes.sum())
    out = np.empty(total, dtype=np.uint8)
    max_len = int(sizes.max())
    for j in range(max_len):
        mask = sizes > j
        byte = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (sizes[mask] - 1 > j).astype(np.uint8) << 7
        out[offsets[mask] + j] = byte.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a varint byte blob into a uint64 array, vectorized.

    Loops over BYTE POSITION (<=10 iterations of whole-vector ops, and
    the tail masks shrink geometrically for 1-2-byte-dominated data)
    instead of np.bitwise_or.at per byte, which is ~20x slower."""
    b = (
        buf
        if isinstance(buf, np.ndarray)
        else np.frombuffer(buf, dtype=np.uint8)
    )
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero(b < 0x80)  # terminal byte of each value
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = (b[ends] & np.uint8(0x7F)).astype(np.uint64) << (
        (lens - 1).astype(np.uint64) * np.uint64(7)
    )
    max_len = int(lens.max())
    for j in range(max_len - 1):
        m = np.flatnonzero(lens > j + 1)
        vals[m] |= (b[starts[m] + j] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(
            7 * j
        )
    return vals


def delta_encode(sorted_ids: np.ndarray, base: int = 0) -> np.ndarray:
    """Strictly-increasing ids -> gaps (first gap relative to `base`)."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    out = np.empty_like(a)
    out[0:1] = a[0:1] - np.uint64(base)
    out[1:] = a[1:] - a[:-1]
    return out


def delta_decode(gaps: np.ndarray, base: int = 0) -> np.ndarray:
    """Inverse of :func:`delta_encode` (vectorized cumsum)."""
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64) + np.uint64(base)


def pack_docs_freqs(doc_ids: np.ndarray, freqs: np.ndarray, base: int = 0) -> bytes:
    """Encode (sorted doc ids, freqs) with the reference's freq-flag trick:

    gap' = (gap << 1) | (freq == 1), following `formats_10.cpp:692-706`
    (`shift_pack_32`): a freq==1 posting (the common case in web text)
    costs no freq varint. Layout differs from the reference's interleaved
    stream to keep the decode branch-free and vectorizable: a gaps section
    (n_docs packed gaps) followed by a freqs section (freqs of the
    freq>1 docs, in doc order). `n_docs` is block metadata, so the
    section boundary is implicit.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    freqs = np.asarray(freqs, dtype=np.uint64)
    gaps = delta_encode(doc_ids, base)
    single = freqs == 1
    packed_gaps = (gaps << np.uint64(1)) | single.astype(np.uint64)
    stream = np.concatenate((packed_gaps, freqs[~single]))
    return varint_encode(stream)


def unpack_docs_freqs(buf: bytes, n_docs: int, base: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`pack_docs_freqs` -> (doc_ids, freqs)."""
    stream = varint_decode(buf)
    if stream.size == 0:
        return np.empty(0, np.uint64), np.empty(0, np.uint64)
    packed_gaps = stream[:n_docs]
    single = (packed_gaps & np.uint64(1)) == 1
    freqs = np.ones(n_docs, dtype=np.uint64)
    freqs[~single] = stream[n_docs:]
    doc_ids = delta_decode(packed_gaps >> np.uint64(1), base)
    return doc_ids, freqs


def encode_position_lists(pos_concat: np.ndarray, freqs: np.ndarray) -> bytes:
    """Encode concatenated per-doc position lists as segment-local deltas.

    `pos_concat` holds positions of doc1 then doc2 ... ; `freqs` gives the
    per-doc occurrence counts (segment boundaries). Deltas restart at each
    doc boundary; decode needs the same freqs array.
    """
    p = np.asarray(pos_concat, dtype=np.uint64)
    if p.size == 0:
        return b""
    gaps = np.empty_like(p)
    gaps[0:1] = p[0:1]
    gaps[1:] = p[1:] - p[:-1]
    starts = np.concatenate(([0], np.cumsum(np.asarray(freqs, dtype=np.int64))[:-1]))
    gaps[starts] = p[starts]  # restart delta at each doc boundary
    return varint_encode(gaps)


def decode_position_lists(buf: bytes, freqs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_position_lists` -> concatenated positions."""
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return gaps
    freqs = np.asarray(freqs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(freqs)[:-1]))
    # segmented cumsum: global cumsum minus offset of each segment start
    csum = np.cumsum(gaps, dtype=np.uint64)
    seg_base = csum[starts] - gaps[starts]
    owner = np.repeat(np.arange(freqs.size), freqs)
    return csum - seg_base[owner]


def encode_blocks_batch(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    dls: np.ndarray,
    block_starts: np.ndarray,
    block_ends: np.ndarray,
    flat_pos: np.ndarray | None = None,
):
    """Encode MANY posting blocks in one vectorized pass.

    Equivalent to calling pack_docs_freqs / varint_encode /
    encode_position_lists per block (unit-tested equivalence), but all
    varint work happens in three whole-batch passes; per-block cost is
    reduced to two Python byte-slices. Blocks MUST tile the row range
    contiguously (block_ends[b] == block_starts[b+1]) — validated.

    Returns (docs_blobs, dls_blobs, pos_blobs|None) as lists of bytes.
    """
    bufs = encode_blocks_batch_offsets(
        doc_ids, freqs, dls, block_starts, block_ends, flat_pos
    )
    docs_buf, docs_off, dls_buf, dls_off, pos_buf, pos_off = bufs
    docs_blobs = [docs_buf[x:y] for x, y in zip(docs_off[:-1], docs_off[1:])]
    dls_blobs = [dls_buf[x:y] for x, y in zip(dls_off[:-1], dls_off[1:])]
    pos_blobs = None
    if pos_buf is not None:
        pos_blobs = [pos_buf[x:y] for x, y in zip(pos_off[:-1], pos_off[1:])]
    return docs_blobs, dls_blobs, pos_blobs


def encode_blocks_batch_offsets(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    dls: np.ndarray,
    block_starts: np.ndarray,
    block_ends: np.ndarray,
    flat_pos: np.ndarray | None = None,
):
    """Like encode_blocks_batch but returns contiguous byte buffers plus
    per-block offset arrays instead of per-block bytes objects:
    (docs_buf, docs_off[B+1], dls_buf, dls_off[B+1], pos_buf|None,
    pos_off|None). Block b's blob is buf[off[b]:off[b+1]] — consecutive
    blocks are contiguous, so the (buffer, offsets) pair maps ZERO-COPY
    onto an Arrow BinaryArray; no per-block Python object is created.
    """
    R = doc_ids.size
    B = block_starts.size
    if R == 0 or B == 0:
        z = np.zeros(1, dtype=np.int64)
        return (
            b"", z, b"", z,
            (b"" if flat_pos is not None else None),
            (z if flat_pos is not None else None),
        )
    if B > 1 and not np.array_equal(block_ends[:-1], block_starts[1:]):
        raise ValueError(
            "blocks must tile the row range contiguously "
            "(block_ends[b] == block_starts[b+1]) — the per-block byte "
            "ranges collapse to one offsets array only then"
        )
    doc_ids = doc_ids.astype(np.uint64)
    freqs_u = freqs.astype(np.uint64)
    sizes_rows = (block_ends - block_starts).astype(np.int64)
    bid = np.repeat(np.arange(B), sizes_rows)

    # --- docs stream: per block [packed gaps..., freqs of freq>1 docs...]
    gaps = np.empty(R, dtype=np.uint64)
    gaps[1:] = doc_ids[1:] - doc_ids[:-1]
    gaps[block_starts] = doc_ids[block_starts]  # restart per block (base 0)
    single = freqs_u == np.uint64(1)
    packed = (gaps << np.uint64(1)) | single.astype(np.uint64)
    multi = ~single
    csum_multi = np.cumsum(multi.astype(np.int64))
    multi_before = csum_multi - multi.astype(np.int64)  # multis strictly before row
    multi_before_block = multi_before[block_starts]
    n_multi_block = (
        csum_multi[block_ends - 1] - multi_before_block
    )
    block_len = sizes_rows + n_multi_block
    val_start = np.concatenate(([0], np.cumsum(block_len)[:-1]))
    row_in_block = np.arange(R, dtype=np.int64) - block_starts[bid]
    gap_pos = val_start[bid] + row_in_block
    total_vals = int(block_len.sum())
    vals = np.empty(total_vals, dtype=np.uint64)
    vals[gap_pos] = packed
    rows_multi = np.flatnonzero(multi)
    if rows_multi.size:
        bm = bid[rows_multi]
        rank_in_block = multi_before[rows_multi] - multi_before_block[bm]
        freq_pos = val_start[bm] + sizes_rows[bm] + rank_in_block
        vals[freq_pos] = freqs_u[rows_multi]
    vsizes = varint_size(vals)
    voff = np.concatenate(([0], np.cumsum(vsizes)))
    buf = varint_encode(vals)
    # consecutive blocks are contiguous in the value stream, so the
    # per-block byte ranges collapse to one offsets array
    docs_off = voff[np.concatenate((val_start, [total_vals]))]

    # --- dls stream
    dls_u = dls.astype(np.uint64)
    dsizes = varint_size(dls_u)
    doff = np.concatenate(([0], np.cumsum(dsizes)))
    dbuf = varint_encode(dls_u)
    dls_off = doff[np.concatenate((block_starts, [block_ends[-1]]))]

    # --- positions stream (delta restart per doc/row)
    pos_buf, pos_blob_off = None, None
    if flat_pos is not None:
        pos_buf, pos_blob_off = encode_occurrence_stream(
            flat_pos, freqs, block_starts, block_ends, delta=True
        )

    return buf, docs_off, dbuf, dls_off, pos_buf, pos_blob_off


def encode_bytes_stream(
    flat_bytes: np.ndarray,
    occ_lens: np.ndarray,
    freqs: np.ndarray,
    block_starts: np.ndarray,
    block_ends: np.ndarray,
):
    """Slice one per-occurrence BYTE stream (payloads — reference
    IndexFeatures PAY, index_features.hpp:40-58; payload stream
    formats_10.cpp:714-765) into per-block blobs.

    `flat_bytes` (uint8) holds every occurrence's payload bytes
    concatenated in occurrence order; `occ_lens` the per-occurrence
    byte lengths; `freqs` the per-(term,doc)-row occurrence counts.
    Returns (buf, blob_off[B+1]) like encode_occurrence_stream — the
    lengths themselves ride a separate varint stream
    (encode_occurrence_stream(occ_lens, ..., delta=False))."""
    occ_off = np.concatenate(([0], np.cumsum(freqs.astype(np.int64))))
    byte_off = np.concatenate(([0], np.cumsum(occ_lens.astype(np.int64))))
    blob_off = byte_off[
        occ_off[np.concatenate((block_starts, [block_ends[-1]]))]
    ]
    return flat_bytes.tobytes(), blob_off


def gather_bytes(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Gather variable-length byte runs buf[starts[i]:starts[i]+lens[i]]
    into one contiguous uint8 array — the vectorized indexing trick
    (repeat + intra-run arange), no per-run Python slicing."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8)
    run_base = np.cumsum(lens) - lens
    idx = np.repeat(starts, lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(run_base, lens)
    )
    return buf[idx]


def encode_occurrence_stream(
    flat_vals: np.ndarray,
    freqs: np.ndarray,
    block_starts: np.ndarray,
    block_ends: np.ndarray,
    delta: bool = True,
):
    """Encode one per-occurrence value stream (positions, offset starts,
    offset lengths — reference IndexFeatures POS/OFFS,
    index_features.hpp:50-57) into per-block varint blobs.

    `flat_vals` holds doc1's occurrences then doc2's ...; `freqs` gives
    per-(term,doc)-row occurrence counts. With `delta`, values are
    delta-encoded restarting at each row (requires ascending values
    within a row — true for positions and character starts); without,
    raw varints (offset lengths). Returns (buf, blob_off[B+1]): block
    b's blob is buf[blob_off[b]:blob_off[b+1]], contiguous — zero-copy
    Arrow BinaryArray material."""
    P = flat_vals.size
    occ_off = np.concatenate(([0], np.cumsum(freqs.astype(np.int64))))
    v = flat_vals.astype(np.uint64)
    if delta:
        g = np.empty(P, dtype=np.uint64)
        if P:
            g[1:] = v[1:] - v[:-1]
            row_starts = occ_off[:-1]
            g[row_starts[row_starts < P]] = v[row_starts[row_starts < P]]
    else:
        g = v
    sizes = varint_size(g) if P else np.empty(0, np.int64)
    off = np.concatenate(([0], np.cumsum(sizes)))
    buf = varint_encode(g)
    blob_off = off[occ_off[np.concatenate((block_starts, [block_ends[-1]]))]]
    return buf, blob_off


def _binary_slab(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data bytes as uint8 view, per-row absolute offsets[n+1]) of a
    BinaryArray — Arrow already stores all blobs CONCATENATED, so the
    whole batch decodes as one slab with zero copies."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off_buf = arr.buffers()[1]
    offsets = np.frombuffer(off_buf, dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data, offsets


def decode_batch_arrays(
    batch: pa.RecordBatch,
    want_pos: bool,
    want_offs: bool = False,
    want_pay: bool = False,
):
    """Vectorized batch decode -> numpy arrays, no per-row Python.

    Each binary column's blobs form one contiguous Arrow buffer,
    decoded by a single varint pass + segmented cumsums (per-block
    delta restarts handled by subtracting per-segment bases).

    Returns None for an empty batch, else a dict:
      term_dict  pa.Array   distinct terms of the batch  } when the batch
      row_codes  int64[N]   per-posting index into       } has a term
                            term_dict                    } column
      doc_ids    int64[N]
      freqs      int64[N]
      dls        int64[N]
      pos_offsets int64[N+1], pos_values int32[...]  (when want_pos)
    """
    B = batch.num_rows
    if B == 0:
        return None
    names = batch.schema.names
    col = {n: batch.column(names.index(n)) for n in (
        "term", "n_docs", "docs", "dls", "positions", "off_starts",
        "off_lens", "pay_lens", "pay_bytes"
    ) if n in names}
    n_docs = col["n_docs"].to_numpy(zero_copy_only=False).astype(np.int64)
    total = int(n_docs.sum())
    row_start = np.concatenate(([0], np.cumsum(n_docs)[:-1]))
    owner = np.repeat(np.arange(B), n_docs)

    # ---- docs stream: [packed gaps x n_docs, freqs of multis]
    data, off = _binary_slab(col["docs"])
    lo, hi = off[0], off[-1]
    slab = data[lo:hi]
    vals = varint_decode(slab)
    vcount_prefix = np.concatenate(([0], np.cumsum(slab < 0x80)))
    val_start = vcount_prefix[off - lo][:-1]  # values before blob i
    gap_idx = val_start[owner] + (np.arange(total) - row_start[owner])
    packed = vals[gap_idx]
    single = (packed & np.uint64(1)) == 1
    deltas = (packed >> np.uint64(1)).astype(np.int64)
    csum = np.cumsum(deltas)
    base = csum[row_start] - deltas[row_start]
    doc_ids = csum - base[owner]
    freqs = np.ones(total, dtype=np.int64)
    multi_rows = np.flatnonzero(~single)
    if multi_rows.size:
        # blob i's multi-freq values sit right after its gaps, in doc
        # order — matching multi_rows' global order
        multi_prefix = np.concatenate(([0], np.cumsum(~single)))
        m_owner = owner[multi_rows]
        src = val_start[m_owner] + n_docs[m_owner] + (
            multi_prefix[multi_rows] - multi_prefix[row_start][m_owner]
        )
        freqs[multi_rows] = vals[src].astype(np.int64)

    # ---- dls stream: exactly n_docs values per blob
    ddata, doff = _binary_slab(col["dls"])
    dls = varint_decode(ddata[doff[0]:doff[-1]]).astype(np.int64)

    out = {"doc_ids": doc_ids, "freqs": freqs, "dls": dls}
    if "term" in col:
        term_col = col["term"]
        if isinstance(term_col, pa.ChunkedArray):
            term_col = term_col.combine_chunks()
        enc = term_col.dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        out["term_dict"] = enc.dictionary
        out["row_codes"] = codes[owner]
    if want_pos or want_offs or want_pay:
        doc_pos_start = np.concatenate(([0], np.cumsum(freqs)))
        starts_p = doc_pos_start[:-1]
        powner = np.repeat(np.arange(total), freqs)
        out["pos_offsets"] = doc_pos_start

        def _delta_stream(column):
            data, off = _binary_slab(column)
            vals = varint_decode(data[off[0]:off[-1]]).astype(np.int64)
            csum2 = np.cumsum(vals)
            base2 = csum2[starts_p] - vals[starts_p]
            return (csum2 - base2[powner]).astype(np.int32)

        if want_pos:
            out["pos_values"] = _delta_stream(col["positions"])
        if want_offs:
            out["off_start_values"] = _delta_stream(col["off_starts"])
            ldata, loff = _binary_slab(col["off_lens"])
            out["off_len_values"] = varint_decode(
                ldata[loff[0]:loff[-1]]
            ).astype(np.int32)
        if want_pay:
            pldata, ploff = _binary_slab(col["pay_lens"])
            out["pay_len_values"] = varint_decode(
                pldata[ploff[0]:ploff[-1]]
            ).astype(np.int64)
            pbdata, pboff = _binary_slab(col["pay_bytes"])
            # one contiguous uint8 slab; per-occurrence byte offsets
            # follow from the decoded lengths
            out["pay_byte_slab"] = pbdata[pboff[0]:pboff[-1]]
    return out
