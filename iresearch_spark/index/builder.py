"""Inverted-index construction as a Spark DataFrame pipeline.

Pipeline (reference lifecycle §3.1 of SURVEY.md — `IndexWriter::Insert`
-> `field_data::invert` -> segment flush -> consolidation — re-expressed
Spark-first as a FUSED local-segment build):

  pages DF
    -> slim counting pass  (sort key only; column-pruned scan) ->
       driver-side bucket layout: per-bucket doc-id offsets + grouping
       of adjacent hash buckets into ~2^seg_bits-doc segments
    -> ONE projected shuffle (sort key + text; html/metadata never
       move) repartitioned by segment, sorted by (segment, bucket, key)
    -> ONE mapInArrow pass per partition: assign bucket-contiguous doc
       ids by run-ranking, tokenize (Arrow-vectorized, zero per-token
       Python objects), sort by integer term codes, encode 128-doc
       posting blocks (delta-gap varint docs + freq flag, varint dls,
       position deltas, per-block WAND maxima) with zero-copy Arrow
       blob output; per-segment norm blocks under the "" sentinel term
    -> docs / term_stats / field_stats all derived from the (compact)
       block rows — token rows never cross the wire

Skew handling (explicit, per north_rule): a segment is a fixed group of
adjacent hash buckets holding ~2^seg_bits documents, so a term
appearing in every document of a 10^12-doc corpus still yields bounded
per-task work, and block_ids (= first_doc) are globally doc-ordered —
the reference's k-way segment merge (`core/index/merge_writer.cpp:511`)
becomes a union by construction.

Determinism: output tables are value-deterministic regardless of
parallelism — doc ids are hash-bucket ranks of the sort key, segment
boundaries are a pure function of the key set and parameters, and block
content depends only on (term, doc-id set), never on partition
enumeration order (byte-identity tested at different partitionings).
Saved files are byte-identical run to run in every table: the
dictionaries' and a sorted docs table's file boundaries are chosen on
the driver (`InvertedIndex.save`), never by Spark's sampling
RangePartitioner.

The build counts what save() and the commit path need in one summary
pass over the cached blocks (posting blocks, BM25's N, total term
freq, max dl, doc-id span), so no later step re-counts a table.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window, functions as F, types as T

from iresearch_spark.analysis.analyzers import Analyzer, get_analyzer
from iresearch_spark.index import codec
from iresearch_spark.index.model import (
    POSTINGS_SCHEMA,
    FieldStats,
    InvertedIndex,
)

BLOCK_SIZE = 128  # posting block granularity (formats_10.cpp:88-129)


_IMPACT_CLASSES = 24  # power-of-two dl classes (dl < 2^24 per class cap)

_IMPACTS_PA_TYPE = pa.list_(
    pa.struct([("tf", pa.int32()), ("dl", pa.int32())])
)


def _block_impacts_arrays(freqs, dls, bs, be):
    """Per-block (tf, dl) impact pairs — one pair per power-of-two dl
    class present in the block: (max tf of the class, min dl of the
    class). Sound bound for any scorer monotone in tf and antitone in
    dl: every posting's class pair dominates it, so
    max over pairs of g(tf, dl) >= the block's true max partial score
    (Lucene's block-max impacts, quantized to dl octaves instead of a
    full pareto skyline — <= ~17 pairs/block at web doc lengths).
    Blocks tile the row range contiguously (be[i] == bs[i+1]).
    Vectorized: one argsort + two reduceats; returns
    (tf_values, dl_values, list_offsets[int32, len B+1])."""
    B = bs.size
    block_of = np.repeat(np.arange(B, dtype=np.int64), be - bs)
    d = dls.astype(np.int64)
    cls = np.minimum(
        np.floor(np.log2(np.maximum(d, 1))).astype(np.int64),
        _IMPACT_CLASSES - 1,
    )
    key = block_of * _IMPACT_CLASSES + cls
    order = np.argsort(key, kind="stable")
    ks = key[order]
    b = np.empty(ks.size, dtype=bool)
    if ks.size:
        b[0] = True
        b[1:] = ks[1:] != ks[:-1]
    gs = np.flatnonzero(b)
    g_tf = np.maximum.reduceat(freqs[order], gs).astype(np.int32)
    g_dl = np.minimum.reduceat(d[order], gs).astype(np.int32)
    g_block = ks[gs] // _IMPACT_CLASSES
    counts = np.bincount(g_block, minlength=B)
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return g_tf, g_dl, offsets


def _block_impacts_arrow(freqs, dls, bs, be):
    g_tf, g_dl, offsets = _block_impacts_arrays(freqs, dls, bs, be)
    struct = pa.StructArray.from_arrays(
        [pa.array(g_tf), pa.array(g_dl)], ["tf", "dl"]
    )
    return pa.ListArray.from_arrays(pa.array(offsets), struct)


NORM_TERM = ""  # sentinel term for per-segment norm (doc-length) blocks


def build_segments(
    df: DataFrame,
    analyzer: Analyzer,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_positions: bool = True,
    seg_bits: int = 14,
    with_offsets: bool = False,
    payload_delim: str | None = None,
    lang_col: str | None = None,
) -> DataFrame:
    """Local segment build — the reference's per-writer-thread segment
    (`segment_writer.cpp` + `field_data::invert`) as ONE mapInArrow
    pass: tokenize, (doc,term) aggregate, term-major sort, posting-block
    encode, all inside the partition. The ONLY shuffle moves pages rows
    (one per document) into their segment: token rows never cross the
    wire. Output is block rows (POSTINGS_SCHEMA), including per-segment
    NORM blocks (term == "" holding (doc id, dl) runs — the reference's
    norms column, norm.hpp:75-125).

    Determinism: a segment is the fixed doc-id range
    [seg << seg_bits, (seg+1) << seg_bits); block content is a pure
    function of the segment's documents, block_id = first_doc of the
    block (unique per term, globally doc-ordered). Independent of
    parallelism by construction.
    """
    cols = [F.col(id_col).cast("long").alias("doc_id"), text_col]
    if lang_col is not None and lang_col != text_col:
        cols.append(lang_col)
    arranged = (
        df.select(*cols)
        .withColumn("_seg", F.shiftright(F.col("doc_id"), seg_bits))
        .repartition("_seg")
        .sortWithinPartitions("_seg", "doc_id")
    )
    return arranged.mapInArrow(
        _make_arrow_segment_gen(
            analyzer, text_col, with_positions, fused=False,
            with_offsets=with_offsets, payload_delim=payload_delim,
            lang_col=lang_col,
        ),
        POSTINGS_SCHEMA,
    )


def _make_arrow_segment_gen(analyzer, text_col, with_positions, fused,
                            with_offsets=False, payload_delim=None,
                            lang_col=None):
    """Arrow-native partition consumer: walks sorted `_seg` runs with a
    trailing-run carry across batches (zero-copy Table slices), builds
    each segment with _segment_record_batches. Entirely Arrow/numpy —
    the only Python objects per segment are a handful of arrays."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: pa.Table | None = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl])
                pending = None
            if tbl.num_rows == 0:
                continue
            tbl = tbl.combine_chunks()
            segs = tbl.column("_seg").to_numpy()
            change = np.empty(segs.size, dtype=bool)
            change[0] = True
            change[1:] = segs[1:] != segs[:-1]
            starts = np.flatnonzero(change)
            if starts.size > 1:
                cut = int(starts[-1])
                pending = tbl.slice(cut)
                tbl = tbl.slice(0, cut)
                starts = starts[:-1]
            else:
                pending = tbl
                continue
            ends = np.append(starts[1:], tbl.num_rows)
            for s, e in zip(starts, ends):
                yield from _segment_record_batches(
                    tbl.slice(int(s), int(e - s)), analyzer, text_col,
                    with_positions, fused, with_offsets, payload_delim,
                    lang_col,
                )
        if pending is not None and pending.num_rows:
            yield from _segment_record_batches(
                pending.combine_chunks(), analyzer, text_col,
                with_positions, fused, with_offsets, payload_delim,
                lang_col,
            )

    return gen


def _binary_from_offsets(buf: bytes, off: np.ndarray) -> pa.BinaryArray:
    """Zero-copy Arrow BinaryArray over (contiguous buffer, offsets)."""
    if off[-1] >= (1 << 31):  # explicit raise: survives python -O
        raise ValueError(
            "segment blob exceeds 2GB (int32 Arrow offsets) — shrink seg_bits"
        )
    off32 = np.ascontiguousarray(off, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), off32.size - 1,
        [None, pa.py_buffer(off32.tobytes()), pa.py_buffer(buf)],
    )


def _empty_strings(n: int) -> pa.StringArray:
    """n copies of "" without materializing Python strings."""
    off = np.zeros(n + 1, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(off.tobytes()), pa.py_buffer(b"")]
    )


def _segment_record_batches(
    seg_tbl: pa.Table, analyzer, text_col, with_positions, fused,
    with_offsets=False, payload_delim=None, lang_col=None,
) -> Iterator[pa.RecordBatch]:
    """One segment -> norm-block + posting-block RecordBatches: tokenize,
    sort the (term code, doc) rows, then encode_postings over the
    tokenizer's dictionary."""
    n = seg_tbl.num_rows
    if fused:
        # bucket-contiguous doc ids: offset[bucket] + rank within the
        # (sorted) bucket run — same values as fused_doc_map
        bkt = seg_tbl.column("_bkt").to_numpy()
        off = seg_tbl.column("_off").to_numpy()
        boundary = np.empty(n, dtype=bool)
        boundary[0] = True
        boundary[1:] = bkt[1:] != bkt[:-1]
        run_start = np.maximum.accumulate(np.where(boundary, np.arange(n), 0))
        doc_ids = (off + (np.arange(n) - run_start)).astype(np.int64)
    else:
        doc_ids = seg_tbl.column("doc_id").to_numpy().astype(np.int64)
    texts = seg_tbl.column(text_col)
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if lang_col is not None:
        # per-document language routing (analysis/multilang.py): the
        # lang column rode the same shuffle; grouping is within-batch
        langs = np.asarray(seg_tbl.column(lang_col).to_pylist(), dtype=object)
        ft = analyzer.analyze_flat_routed(texts, langs)
    else:
        ft = (
            analyzer.analyze_flat_spans(texts)
            if with_offsets
            else analyzer.analyze_flat(texts)
        )
    n_tokens = ft.n_tokens
    # payload split (reference IndexFeatures PAY / payload attribute,
    # token_attributes.hpp:99): the token DICTIONARY is split at the
    # last delimiter into (term, payload bytes) — one pass over the
    # vocabulary, never over tokens; token codes are remapped onto the
    # deduplicated term dictionary and each occurrence keeps its old
    # code to look up its payload
    codes, uniques_arrow = ft.codes, ft.uniques_arrow
    pay_buf_u = pay_start_u = pay_lens_u = None
    if payload_delim is not None:
        (
            codes, uniques_arrow, pay_buf_u, pay_start_u, pay_lens_u
        ) = _split_payload_dictionary(ft.codes, ft.uniques_arrow, payload_delim)
    # norm blocks: (doc id, dl) runs under the sentinel term, one row
    # per doc INCLUDING dl=0 for zero-token docs — the reference's
    # `all()` matches every doc in the segment (filter.hpp:160), so the
    # docs table must cover them; BM25's N stays docs-with-tokens
    # (docs_with_field, bm25.cpp:48-54), computed in build_index.
    m = doc_ids.size
    if m:
        n_bs = np.arange(0, m, BLOCK_SIZE)
        n_be = np.minimum(n_bs + BLOCK_SIZE, m)
        nd_dls = n_tokens.astype(np.int64)
        nb_buf, nb_off, nl_buf, nl_off, _, _ = codec.encode_blocks_batch_offsets(
            doc_ids, np.ones(m, dtype=np.int64), nd_dls, n_bs, n_be, None
        )
        NB = n_bs.size
        yield pa.RecordBatch.from_arrays(
            [
                _empty_strings(NB),  # NORM_TERM sentinel ""
                pa.array(doc_ids[n_bs]),
                pa.array((n_be - n_bs).astype(np.int32)),
                pa.array(doc_ids[n_bs]),
                pa.array(doc_ids[n_be - 1]),
                _binary_from_offsets(nb_buf, nb_off),
                _binary_from_offsets(nl_buf, nl_off),
                pa.nulls(NB, pa.binary()),
                pa.array(np.full(NB, 1, dtype=np.int32)),
                pa.array(np.minimum.reduceat(nd_dls, n_bs).astype(np.int32)),
                pa.array(np.add.reduceat(nd_dls, n_bs).astype(np.int64)),
                pa.nulls(NB, pa.binary()),
                pa.nulls(NB, pa.binary()),
                pa.nulls(NB, pa.binary()),
                pa.nulls(NB, pa.binary()),
                pa.nulls(NB, _IMPACTS_PA_TYPE),
            ],
            names=_POSTINGS_COLS,
        )
    if codes.size == 0:
        return
    flat_doc = np.repeat(doc_ids, n_tokens)
    flat_dl = np.repeat(n_tokens, n_tokens)
    # term-major sort on int32 dictionary CODES, not strings (stable:
    # per (term,doc) positions stay ascending). Terms are grouped by
    # code instead of byte order — block content is a pure function of
    # (term, doc set) either way, and no per-token Python string ever
    # materializes.
    order = np.lexsort((flat_doc, codes))
    s_codes = codes[order]
    s_doc = flat_doc[order]
    s_dl = flat_dl[order]
    s_pos = ft.positions[order]
    boundary = np.empty(s_codes.size, dtype=bool)
    boundary[0] = True
    boundary[1:] = (s_codes[1:] != s_codes[:-1]) | (s_doc[1:] != s_doc[:-1])
    g_starts = np.flatnonzero(boundary)
    freqs = np.diff(np.append(g_starts, s_codes.size))
    row_code = s_codes[g_starts]
    row_doc = s_doc[g_starts]
    row_dl = s_dl[g_starts]
    offs = pays = None
    if with_offsets:
        # per-occurrence char spans ride the SAME occurrence order as
        # positions (stable lexsort)
        offs = (ft.starts[order], ft.lens[order])
    if payload_delim is not None:
        # payload bytes ride the same occurrence order (stable lexsort
        # keeps within-(term,doc) occurrences position-ascending)
        s_old = ft.codes[order]
        occ_lens = pay_lens_u[s_old]
        pays = (
            occ_lens, codec.gather_bytes(pay_buf_u, pay_start_u[s_old], occ_lens)
        )
    yield encode_postings(
        uniques_arrow, row_code, row_doc, freqs, row_dl,
        s_pos if with_positions else None, offs, pays,
    )


def encode_postings(
    uniques, row_code, row_doc, freqs, row_dl, pos=None, offs=None, pays=None
) -> pa.RecordBatch:
    """(term, doc) rows sorted by (term code, doc) -> one RecordBatch of
    128-doc posting blocks, block_id = first_doc. The one posting-block
    encoder: the build calls it per segment, merge._reblock per batch of
    doc ranges. `uniques[row_code]` is a row's term; a term run ends
    where the code changes. Occurrence streams are flat in row order,
    None when absent: `pos` positions, `offs` (char starts, lens),
    `pays` (payload lengths, uint8 payload bytes). Posting blobs map
    zero-copy onto the codec's contiguous buffers (no per-block bytes
    objects), terms come from an Arrow take on `uniques` (no per-block
    Python strings)."""
    # term runs over the (term,doc) rows -> 128-doc blocks
    t_change = np.empty(row_code.size, dtype=bool)
    t_change[0] = True
    t_change[1:] = row_code[1:] != row_code[:-1]
    t_starts = np.flatnonzero(t_change)
    t_ends = np.append(t_starts[1:], row_code.size)
    sizes = t_ends - t_starts
    n_blocks = (sizes + BLOCK_SIZE - 1) // BLOCK_SIZE
    gidx = np.repeat(np.arange(t_starts.size), n_blocks)
    blk_base = np.concatenate(([0], np.cumsum(n_blocks)[:-1]))
    local = np.arange(int(n_blocks.sum()), dtype=np.int64) - blk_base[gidx]
    bs = t_starts[gidx] + local * BLOCK_SIZE
    be = np.minimum(bs + BLOCK_SIZE, t_ends[gidx])
    docs_buf, docs_off, dls_buf, dls_off, pos_buf, pos_off = (
        codec.encode_blocks_batch_offsets(row_doc, freqs, row_dl, bs, be, pos)
    )
    B = bs.size

    def _blobs(buf_off):
        if buf_off is None:
            return pa.nulls(B, pa.binary())
        return _binary_from_offsets(*buf_off)

    ostart = olen = plen = pbytes = None
    if offs is not None:
        ostart = codec.encode_occurrence_stream(offs[0], freqs, bs, be, delta=True)
        olen = codec.encode_occurrence_stream(offs[1], freqs, bs, be, delta=False)
    if pays is not None:
        # lengths as raw varints + bytes as one contiguous slab
        plen = codec.encode_occurrence_stream(pays[0], freqs, bs, be, delta=False)
        pbytes = codec.encode_bytes_stream(pays[1], pays[0], freqs, bs, be)
    term_arr = pc.take(uniques, pa.array(row_code[bs]))
    if isinstance(term_arr, pa.ChunkedArray):
        term_arr = term_arr.combine_chunks()
    if pa.types.is_dictionary(term_arr.type):
        term_arr = term_arr.cast(pa.string())
    return pa.RecordBatch.from_arrays(
        [
            term_arr,
            pa.array(row_doc[bs]),  # block_id = first_doc (doc-ordered)
            pa.array((be - bs).astype(np.int32)),
            pa.array(row_doc[bs]),
            pa.array(row_doc[be - 1]),
            _binary_from_offsets(docs_buf, docs_off),
            _binary_from_offsets(dls_buf, dls_off),
            _blobs(None if pos is None else (pos_buf, pos_off)),
            pa.array(np.maximum.reduceat(freqs, bs).astype(np.int32)),
            pa.array(np.minimum.reduceat(row_dl, bs).astype(np.int32)),
            pa.array(np.add.reduceat(freqs, bs).astype(np.int64)),
            _blobs(ostart),
            _blobs(olen),
            _blobs(plen),
            _blobs(pbytes),
            _block_impacts_arrow(freqs, row_dl, bs, be),
        ],
        names=_POSTINGS_COLS,
    )


def _split_payload_dictionary(codes, uniques_arrow, delim):
    """(token codes, token dictionary) -> (remapped codes, term
    dictionary, payload byte slab, per-unique byte starts, per-unique
    byte lengths). Each dictionary entry is split at its LAST `delim`
    into term + utf-8 payload (no delimiter, or an empty term part,
    means no payload) — the delimited-payload convention for the
    reference's per-occurrence payload attribute."""
    u = uniques_arrow
    if isinstance(u, pa.ChunkedArray):
        u = u.combine_chunks()
    if pa.types.is_dictionary(u.type):
        u = u.cast(pa.string())
    terms, pays = [], []
    for t in u.to_pylist():
        head, sep, tail = t.rpartition(delim)
        if sep and head:
            terms.append(head)
            pays.append(tail.encode("utf-8"))
        else:
            terms.append(t)
            pays.append(b"")
    inv = np.unique(np.array(terms, dtype=object), return_inverse=True)
    new_uniques, inverse = inv
    new_codes = inverse.astype(codes.dtype)[codes]
    pay_lens_u = np.fromiter(
        (len(b) for b in pays), dtype=np.int64, count=len(pays)
    )
    pay_start_u = np.concatenate(([0], np.cumsum(pay_lens_u)))[:-1]
    blob = b"".join(pays)
    pay_buf_u = (
        np.frombuffer(blob, dtype=np.uint8)
        if blob
        else np.empty(0, dtype=np.uint8)
    )
    return (
        new_codes,
        pa.array(list(new_uniques), type=pa.string()),
        pay_buf_u,
        pay_start_u,
        pay_lens_u,
    )


_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]


def _bucket_layout(
    df: DataFrame,
    key_col: str,
    n_buckets: int,
    seg_target_docs: int,
    id_base: int = 0,
) -> tuple[dict[int, int], dict[int, int]]:
    """Driver-side layout from a slim counting pass (reads ONLY key_col;
    the scan is column-pruned, no text/html moves).

    Returns (offsets, seg_of): per-bucket global doc-id offsets in
    bucket-id order, and a grouping of ADJACENT buckets into segments of
    ~seg_target_docs documents. Both are pure functions of the key set
    and the parameters — never of partitioning — so doc ids, segment
    boundaries and hence posting-block bytes are identical at any
    parallelism. At 10^12 docs raise n_buckets (~n_docs/seg_target) so
    a bucket stays executor-sized; the counting pass stays one tiny
    aggregate of n_buckets rows.
    """
    counts = (
        df.select(
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
            .cast("int")
            .alias("_bkt")
        )
        .groupBy("_bkt")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    return _layout({r["_bkt"]: r["cnt"] for r in counts}, seg_target_docs, id_base)


def _layout(
    cnt: dict[int, int], seg_target_docs: int, id_base: int
) -> tuple[dict[int, int], dict[int, int]]:
    """(offsets, seg_of) from per-bucket doc counts: buckets in id order
    claim consecutive doc-id runs from id_base (incremental segments
    claim [id_base, ...)), and adjacent buckets group into segments of
    ~seg_target_docs documents."""
    offsets: dict[int, int] = {}
    seg_of: dict[int, int] = {}
    acc = id_base
    seg = 0
    seg_acc = 0
    for b in sorted(cnt):
        offsets[b] = acc
        acc += cnt[b]
        if seg_acc >= seg_target_docs:
            seg += 1
            seg_acc = 0
        seg_of[b] = seg
        seg_acc += cnt[b]
    return offsets, seg_of


def _order_surrogate(df: DataFrame, col: str):
    """Order-preserving int64 surrogate of a sort column, used ONLY for
    deterministic bucket layout (ties are fine — the within-bucket sort
    uses the real column). Numeric/timestamp/date columns reuse the
    granular dictionary's sortable transform (index/numeric.py); strings
    key on their first 7 UTF-8 bytes, zero-padded big-endian, so
    surrogate order == byte order == code-point order. (Java string
    comparison diverges from code-point order only for supplementary-
    plane characters in the first 7 bytes — irrelevant for the URL/tag
    shaped sort fields this targets, and documented here.)

    Strings first drop the corpus-wide LONGEST COMMON PREFIX (computed
    from the driver-collected min/max strings — every value between
    them shares it): URL sort fields all start with 'https://', which
    made the raw first-7-bytes surrogate a CONSTANT, collapsing the
    layout into one bucket and thus one mega-segment (no block
    alignment, no build parallelism). One extra slim min/max agg, still
    deterministic."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.StringType):
        import os as _os

        row = df.select(
            F.min(F.col(col)).alias("a"), F.max(F.col(col)).alias("b")
        ).collect()[0]
        lcp = _os.path.commonprefix([row["a"] or "", row["b"] or ""])
        skip = len(lcp.encode("utf-8"))
        hx = F.rpad(
            F.substring(
                F.hex(F.encode(F.col(col), "UTF-8")), skip * 2 + 1, 14
            ),
            14,
            "0",
        )
        return F.conv(hx, 16, 10).cast("long")
    from iresearch_spark.index.numeric import dtype_of, sortable_col

    return sortable_col(F.col(col), dtype_of(df.schema, col))


def _sorted_bucket_layout(
    df: DataFrame,
    sort_field: str,
    key_col: str,
    n_buckets: int,
    seg_target_docs: int,
    id_base: int = 0,
    ascending: bool = True,
):
    """Bucket layout for a SORTED index (the reference's Comparer,
    core/index/comparer.hpp + segment_writer sort: documents laid out in
    sort-column order so doc_id order == (sort_field, key) order).

    Same two-pass shape as `_bucket_layout`, with the hash bucket
    replaced by an ORDER-PRESERVING quantizer: bkt = (surrogate - min)
    >> shift, where shift is sized from the driver-collected [min, max]
    span so ~n_buckets buckets come out. Deterministic — min/max and
    counts are pure functions of the data — so doc ids are still
    partitioning-independent. Descending indexes enumerate buckets in
    reverse and reverse the within-bucket sort.

    Returns (offsets, seg_of, bkt_expr, order_cols)."""
    sv = _order_surrogate(df, sort_field)
    row = df.select(
        F.min(sv).alias("mn"),
        F.max(sv).alias("mx"),
        F.count("*").alias("n"),
        F.count(sv).alias("nn"),
    ).collect()[0]
    if int(row["n"] or 0) != int(row["nn"] or 0):
        raise ValueError(
            f"sort_field {sort_field!r} has NULL values — a sorted index "
            "needs a total order (fill or filter NULLs first)"
        )
    mn = int(row["mn"] or 0)
    mx = int(row["mx"] or 0)
    total = int(row["n"] or 0)
    span = mx - mn + 1

    # Quantize the VALUE RANGE into ~2^16 uniform cells, then refine:
    # uniform-width cells skew badly when the data clusters in a narrow
    # slice of [min, max] (a crawl's warc_ts against one epoch-0
    # outlier), so cells holding > total/64 rows get ONE deterministic
    # refinement pass at 4096x finer granularity (a second slim count
    # restricted to the hot cells — ≤ 64 * 4096 + 65536 count rows
    # driver-side at ANY corpus size). Final bucket ids are the cell's
    # interval START in fine units, so integer order == value order and
    # the adjacent-bucket segment grouping below rebuilds ~equi-depth
    # segments. Residual bound (documented): rows sharing ONE sort
    # value always share a bucket and rank by key in one window
    # partition — the same per-segment single-writer bound the
    # reference has when segment_writer sorts a segment.
    # everything runs in the HALVED value domain ((sv>>1) - (mn>>1):
    # cannot overflow int64 even when the span covers the full sortable
    # range, monotonic non-strict — all bucketing needs; the final
    # within-bucket sort uses the real column, so the lost LSB only
    # merges adjacent values into one bucket)
    svh = F.shiftright(sv, 1) - F.lit(mn >> 1)

    def _q(shift: int):
        return F.shiftright(svh, shift).cast("long") if shift else svh.cast("long")

    hot_cap = max(total // 64, seg_target_docs)
    s = max(0, (span // 2 + 1).bit_length() - 16)
    counts = {
        int(r["b"]): int(r["cnt"])
        for r in df.select(_q(s).alias("b")).groupBy("b")
        .agg(F.count("*").alias("cnt")).collect()
    }
    # final cells keyed by interval START in halved-domain units so
    # integer order == value order regardless of refinement depth
    cnt: dict[int, int] = {}
    hot_chain: list[tuple[int, list[int]]] = []  # (shift, hot ids)
    while True:
        hot = sorted(
            (b for b, c in counts.items() if c > hot_cap),
            key=lambda b: -counts[b],
        )[:4096]
        for b, c in counts.items():
            if b not in set(hot):
                cnt[b << s] = c
        if not hot or s == 0:
            # shift-0 cells still above cap = runs of (near-)equal sort
            # values: they stay whole and rank by key in one window
            # partition — the per-segment single-writer bound the
            # reference's segment_writer sort equally has
            for b in hot:
                cnt[b << s] = counts[b]
            break
        hot_chain.append((s, [int(h) for h in hot]))
        s2 = max(0, s - 12)
        flt = df
        for hs, hids in hot_chain:
            flt = flt.filter(_q(hs).isin(hids))
        counts = {
            int(r["b"]): int(r["cnt"])
            for r in flt.select(_q(s2).alias("b")).groupBy("b")
            .agg(F.count("*").alias("cnt")).collect()
        }
        s = s2
    # bucket expression: deepest-first CASE down the hot chain, each
    # branch emitting the row's cell START in halved units
    bkt = F.shiftleft(_q(s), s) if s else _q(s)
    for hs, hids in reversed(hot_chain):
        qh = _q(hs)
        bkt = F.when(qh.isin(hids), bkt).otherwise(
            F.shiftleft(qh, hs) if hs else qh
        )
    bkt = bkt.cast("long")
    if not ascending:
        # the posting/norm encoders need doc ids ASCENDING in partition
        # order and partitions sort by _bkt ascending — negating the
        # bucket id makes ascending bucket order == descending sort
        # order == ascending doc-id order
        bkt = (-bkt).cast("long")
        cnt = {-b: c for b, c in cnt.items()}
    offsets, seg_of = _layout(cnt, seg_target_docs, id_base)
    sort_col = F.col(sort_field)
    # within-bucket order on the REAL column (callers append their key
    # column as the unique tie-break)
    order = sort_col.asc() if ascending else sort_col.desc()
    return offsets, seg_of, bkt, order


def _fused_blocks(
    df: DataFrame,
    key_col: str,
    analyzer: Analyzer,
    text_col: str,
    with_positions: bool,
    offsets: dict[int, int],
    seg_of: dict[int, int],
    n_buckets: int,
    with_offsets: bool = False,
    payload_delim: str | None = None,
    bkt_expr=None,
    order_col=None,
    sort_field: str | None = None,
    lang_col: str | None = None,
) -> DataFrame:
    spark = df.sparkSession
    map_df = spark.createDataFrame(
        [(int(b), int(seg_of[b]), int(offsets[b])) for b in offsets],
        # long: sorted layouts key buckets by halved-domain interval
        # starts (builder._sorted_bucket_layout), which exceed int32
        "_bkt long, _seg int, _off long",
    )
    # sorted indexes (Comparer analogue) ship the sort column through
    # the shuffle (8-byte numeric / short string) so the in-partition
    # sort can order bucket runs by it; the Arrow gen ignores extras
    ship = [text_col] if sort_field is None or sort_field == text_col \
        else [text_col, sort_field]
    if lang_col is not None and lang_col not in ship:
        ship.append(lang_col)
    sel = df.select(F.col(key_col).alias("_key"), *ship)
    if bkt_expr is None:
        bkt_expr = F.pmod(F.xxhash64(F.col("_key")), F.lit(n_buckets)).cast("int")
    order = [order_col, F.col("_key").asc()] if order_col is not None \
        else [F.col("_key").asc()]
    arranged = (
        sel.withColumn("_bkt", bkt_expr)
        .join(F.broadcast(map_df), "_bkt")
        .repartition("_seg")
        .sortWithinPartitions("_seg", "_bkt", *order)
    )

    return arranged.mapInArrow(
        _make_arrow_segment_gen(
            analyzer, text_col, with_positions, fused=True,
            with_offsets=with_offsets, payload_delim=payload_delim,
            lang_col=lang_col,
        ),
        POSTINGS_SCHEMA,
    )


def fused_doc_map(
    df: DataFrame,
    key_col: str,
    offsets: dict[int, int],
    n_buckets: int,
    extra_cols: list[str] | None = None,
    bkt_expr=None,
    order_col=None,
    sort_field: str | None = None,
    lang_col: str | None = None,
) -> DataFrame:
    """(key -> doc_id) mapping table via the same slim deterministic
    ranking the fused build uses; carries only key + extra_cols."""
    spark = df.sparkSession
    offs = spark.createDataFrame(
        [(int(b), int(o)) for b, o in offsets.items()],
        "_bkt long, _offset long",
    )
    if bkt_expr is None:
        bkt_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    order = [order_col, F.col(key_col).asc()] if order_col is not None \
        else [F.col(key_col).asc()]
    w = Window.partitionBy("_bkt").orderBy(*order)
    cols = list(dict.fromkeys(
        [key_col] + (extra_cols or []) + ([sort_field] if sort_field else [])
    ))
    return (
        df.select(*cols)
        .withColumn("_bkt", bkt_expr)
        .withColumn("_rank", F.row_number().over(w) - 1)
        .join(F.broadcast(offs), "_bkt")
        .withColumn("doc_id", F.col("_offset") + F.col("_rank"))
        .drop("_bkt", "_rank", "_offset")
    )


def build_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
    sort_key: str | None = None,
    analyzer: str | Analyzer = "simple",
    with_positions: bool = True,
    bucket_bits: int = 16,
    extra_doc_cols: list[str] | None = None,
    seg_bits: int | None = None,
    n_buckets: int = 1024,
    id_base: int = 0,
    with_offsets: bool = False,
    payload_delimiter: str | None = None,
    norm: str = "norm2",
    numeric_fields: list[str] | None = None,
    precision_step: int = 64,
    sort_field: str | None = None,
    sort_ascending: bool = True,
    lang_col: str | None = None,
) -> InvertedIndex:
    """End-to-end index build via local segments (see build_segments).

    `numeric_fields` indexes the named numeric columns as granular
    numeric terms (the reference's typed numeric token streams,
    token_streams.hpp:118-230) into a (field, shift, prefix, doc_id)
    dictionary, queried by GranularRange — see index/numeric.py for
    the design. `precision_step` is the trie granularity (64 = one
    level, the Spark-optimal default; the reference's
    PRECISION_STEP_DEF=16 also supported, differential-tested). The
    named columns are stored on the docs table as well (auto-added to
    extra_doc_cols), so GranularRange and NumericRange agree.

    `norm` picks the doc-length normalization variant the index carries
    (reference bm25.hpp:29-46): "norm2" (default — dl stored as int,
    tf = freq) or "legacy" (the old-style `Norm` feature,
    norm.hpp:46-70 / norm.cpp NormWriter: 1/sqrt(dl) stored as float32
    in a `norm` docs column; BM25 then scores with tf = sqrt(freq) and
    |doc| = sqrt(dl), TFIDF with the stored 1/sqrt(dl) factor).

    `payload_delimiter` turns on the PAY posting stream (reference
    IndexFeatures PAY, index_features.hpp:40-58): every analyzed token
    is split at its last delimiter into term + per-occurrence payload
    bytes (the delimited-payload convention standing in for the
    reference's analyzer-attached payload attribute,
    token_attributes.hpp:99).

    One pages-row shuffle, zero token-row shuffles: docs, term_stats and
    field_stats are all derived from the (compact) block rows. If
    `id_col` is None, global doc ids are assigned deterministically by
    sorting on `sort_key` (e.g. url — SURVEY §7.0). `seg_bits` sets the
    segment doc-range width (default: bucket_bits, docs per segment =
    2^seg_bits — size it so a segment's token data fits an executor).
    """
    if norm not in ("norm2", "legacy"):
        raise ValueError(f"norm must be 'norm2' or 'legacy', got {norm!r}")
    routed = hasattr(analyzer, "analyze_flat_routed") or (
        not isinstance(analyzer, str)
        and getattr(analyzer, "name", "") == "lang_routed"
    )
    if lang_col is not None:
        # per-document language routing needs a LangRoutedAnalyzer
        # (analysis/multilang.py) and has no span path
        if isinstance(analyzer, str) or not hasattr(
            analyzer, "analyze_flat_routed"
        ):
            raise ValueError(
                "lang_col requires a LangRoutedAnalyzer "
                "(iresearch_spark.analysis.multilang.lang_routed_analyzer)"
            )
        if with_offsets:
            raise ValueError("lang_col routing does not support offsets")
    elif routed:
        raise ValueError("a LangRoutedAnalyzer requires lang_col=")
    numeric_meta = None
    if numeric_fields:
        from iresearch_spark.index.numeric import dtype_of

        numeric_meta = {c: dtype_of(df.schema, c) for c in numeric_fields}
        extra_doc_cols = list(
            dict.fromkeys((extra_doc_cols or []) + list(numeric_fields))
        )
    if isinstance(analyzer, str):
        analyzer = get_analyzer(analyzer)
    if with_offsets and not analyzer.supports_offsets:
        raise ValueError(
            f"analyzer {analyzer.name!r} has no span tokenizer — offsets "
            "(IndexFeatures OFFS) need whitespace/simple/segmentation"
        )
    if with_offsets and not with_positions:
        raise ValueError("with_offsets requires with_positions")
    if payload_delimiter is not None and not with_positions:
        # PAY is an attribute of a position in the reference format
        raise ValueError("payload_delimiter requires with_positions")
    if seg_bits is None:
        # segment = unit of build parallelism AND the skew bound: pick
        # 2^10 docs/segment so even small corpora fan out across
        # executors (a 10^12-doc corpus yields ~10^9 segments — plenty;
        # raise for wider docs to amortize per-segment overhead).
        # Measured (200k pages, local[32], best-of-3): 2^10 docs/seg =
        # 8.6s vs 2^11 = 21s vs 2^13 = 40s — load balance across tasks
        # beats fewer/fatter posting blocks at sandbox scale.
        seg_bits = min(bucket_bits, 10)
    fused_offsets = None
    fused_bkt = fused_order = None
    if sort_field is not None:
        # SORTED index (the reference's Comparer, comparer.hpp +
        # segment_writer sort / merge_writer comparator-aware doc map):
        # doc ids are assigned in (sort_field asc|desc, sort_key) order,
        # so index order IS the sort order and first-k-by-sort queries
        # early-terminate (TakeOrderedAndProject, no full sort).
        if id_col is not None:
            raise ValueError(
                "sort_field assigns its own doc ids — pass id_col=None "
                "and a unique sort_key tie-break"
            )
        if sort_key is None:
            raise ValueError("sort_field needs sort_key as the unique tie-break")
        # the sort value is part of index order: store it on docs
        extra_doc_cols = list(dict.fromkeys((extra_doc_cols or []) + [sort_field]))
    if id_col is None:
        if sort_key is None:
            raise ValueError("need id_col or sort_key")
        # fused path: id assignment inside the segment-build shuffle
        if sort_field is not None:
            offsets, seg_of, fused_bkt, fused_order = _sorted_bucket_layout(
                df, sort_field, sort_key, n_buckets, 1 << seg_bits,
                id_base=id_base, ascending=sort_ascending,
            )
        else:
            offsets, seg_of = _bucket_layout(
                df, sort_key, n_buckets, 1 << seg_bits, id_base=id_base
            )
        fused_offsets = offsets
        blocks = _fused_blocks(
            df, sort_key, analyzer, text_col, with_positions, offsets, seg_of,
            n_buckets, with_offsets=with_offsets,
            payload_delim=payload_delimiter,
            bkt_expr=fused_bkt, order_col=fused_order, sort_field=sort_field,
            lang_col=lang_col,
        )
    else:
        blocks = build_segments(
            df, analyzer, text_col, id_col, with_positions, seg_bits,
            with_offsets=with_offsets, payload_delim=payload_delimiter,
            lang_col=lang_col,
        )
    blocks.cache()

    postings = blocks.filter(F.col("term") != NORM_TERM)
    norm_blocks = blocks.filter(F.col("term") == NORM_TERM)

    from iresearch_spark.index.model import _make_block_decoder, DECODED_SCHEMA

    docs = norm_blocks.mapInArrow(
        _make_block_decoder(False), DECODED_SCHEMA
    ).select("doc_id", F.col("dl").cast("int").alias("dl"))
    summary = block_summary(blocks)
    if norm == "legacy":
        # the reference's NormWriter value (norm.cpp:36-41): float32 of
        # sqrt(dl) computed in double, inverted in float32 — written as
        # a stored docs column (the Spark stand-in for the norm
        # columnstore); NULL for empty docs (writer skips len == 0)
        docs = docs.withColumn(
            "norm",
            F.when(
                F.col("dl") > 0,
                (
                    F.lit(1.0).cast("float")
                    / F.sqrt(F.col("dl").cast("double")).cast("float")
                ).cast("float"),
            ),
        )
    if extra_doc_cols:
        if fused_offsets is not None:
            passthrough = fused_doc_map(
                df, sort_key, fused_offsets, n_buckets, extra_doc_cols,
                bkt_expr=fused_bkt, order_col=fused_order,
                sort_field=sort_field,
            ).select("doc_id", *extra_doc_cols)
        else:
            passthrough = df.select(
                F.col(id_col).cast("long").alias("doc_id"), *extra_doc_cols
            )
        docs = docs.join(passthrough, "doc_id")

    num_terms = None
    if numeric_meta:
        from iresearch_spark.index.numeric import build_num_terms

        # derived lazily from the docs table (no extra build action);
        # save() materializes it sorted by (field, shift, prefix)
        num_terms = build_num_terms(docs, numeric_meta, precision_step)

    term_stats = postings.groupBy("term").agg(
        F.sum("n_docs").alias("df"), F.sum("block_cf").alias("cf")
    )

    field_stats = FieldStats(
        n_docs=summary["n"],
        total_term_freq=summary["ttf"],
        max_dl=summary["max_dl"],
    )

    return InvertedIndex(
        postings=postings,
        docs=docs,
        term_stats=term_stats,
        field_stats=field_stats,
        with_positions=with_positions,
        with_offsets=with_offsets,
        with_payloads=payload_delimiter is not None,
        norm=norm,
        analyzer_name=analyzer.name,
        blocks=blocks,
        num_terms=num_terms,
        numeric_meta=numeric_meta,
        precision_step=precision_step,
        sort_field=sort_field,
        sort_ascending=sort_ascending,
        n_blocks=summary["blocks"],
        doc_span=summary["span"],
    )


_SUMMARY_FIELDS = ("blocks", "n", "ttf", "max_dl", "min_doc", "max_doc")
_SUMMARY_ARROW = pa.schema([(f, pa.int64()) for f in _SUMMARY_FIELDS])


def _summarize(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """One row of partial counts per batch of block rows (see
    block_summary). Only norm blocks' dl streams are decoded."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        is_norm = batch.column(0)
        nb = batch.filter(is_norm)
        dls = np.zeros(0, dtype=np.int64)
        if nb.num_rows:
            data, off = codec._binary_slab(nb.column(3))
            dls = codec.varint_decode(data[off[0]:off[-1]]).astype(np.int64)
        yield pa.RecordBatch.from_pylist(
            [{
                "blocks": batch.num_rows - nb.num_rows,
                "n": int((dls > 0).sum()),
                "ttf": int(dls.sum()),
                "max_dl": int(dls.max()) if dls.size else 0,
                "min_doc": pc.min(nb.column(1)).as_py(),
                "max_doc": pc.max(nb.column(2)).as_py(),
            }],
            schema=_SUMMARY_ARROW,
        )


def block_summary(blocks: DataFrame) -> dict:
    """The counts save() and the commit path need, from ONE pass over
    a build's block rows (norm blocks under NORM_TERM included):
    posting blocks, BM25's N = docs with dl > 0 (docs_with_field,
    bm25.cpp:48-54), total term freq, max dl and the [min, max] doc id
    of the docs table, which covers every doc, dl=0 included, so that
    AllDocs matches the reference's all() (None when empty). Partials
    per Arrow batch, summed on the driver."""
    is_norm = F.col("term") == NORM_TERM
    rows = (
        blocks.select(
            is_norm.alias("is_norm"), "first_doc", "last_doc",
            F.when(is_norm, F.col("dls")).alias("dls"),
        )
        .mapInArrow(_summarize, ", ".join(f"{f} long" for f in _SUMMARY_FIELDS))
        .collect()
    )
    lo = [r["min_doc"] for r in rows if r["min_doc"] is not None]
    hi = [r["max_doc"] for r in rows if r["max_doc"] is not None]
    return {
        "blocks": sum(r["blocks"] for r in rows),
        "n": sum(r["n"] for r in rows),
        "ttf": sum(r["ttf"] for r in rows),
        "max_dl": max((r["max_dl"] for r in rows), default=0),
        "span": (min(lo), max(hi)) if lo else None,
    }
