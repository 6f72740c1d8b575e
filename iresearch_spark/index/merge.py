"""Segment merge / consolidation (reference `IndexWriter::Consolidate`,
`core/index/merge_writer.cpp` — SURVEY §2.6, §3.3).

Because block_ids (= first_doc) are globally doc-ordered per term,
posting blocks from different segments with DISJOINT doc-id ranges
union without any re-sort: the reference's k-way heap merge of term
iterators (`merge_writer.cpp:511` CompoundTermIterator) becomes a
plain `unionByName` + optional re-blocking pass. The re-blocking
("consolidation") rewrites underfull blocks into full 128-doc blocks
on a doc-range grid with the build's own encoder
(builder.encode_postings): compact blocks are shuffled by doc range
and decoded inside one mapInArrow, so token rows never cross the wire
— the reference merge likewise rewrites postings with the flush's
postings writer (`merge_writer.cpp:1525-1610`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from iresearch_spark.index import codec
from iresearch_spark.index.builder import encode_postings
from iresearch_spark.index.model import (
    POSTINGS_SCHEMA,
    FieldStats,
    InvertedIndex,
    block_dictionary,
)


def merge_indexes(a: InvertedIndex, b: InvertedIndex) -> InvertedIndex:
    """Union two indexes with disjoint doc-id spaces (the reference's
    segment-import path, `index_writer.hpp` Import). Doc-id disjointness
    is the caller's contract (incremental indexing assigns each segment
    a dedicated id range)."""
    if a.with_positions != b.with_positions:
        raise ValueError("cannot merge indexes with different position settings")
    if a.with_offsets != b.with_offsets:
        raise ValueError("cannot merge indexes with different offset settings")
    if a.with_payloads != b.with_payloads:
        raise ValueError("cannot merge indexes with different payload settings")

    def _strip(df):  # loaded indexes carry the _tb/_tbd bucket columns
        for c in ("_tb", "_tbd"):
            if c in df.columns:
                df = df.drop(c)
        return df

    postings = _strip(a.postings).unionByName(_strip(b.postings))
    docs = a.docs.unionByName(b.docs)
    # the delete masks must survive the merge — otherwise a consolidate
    # over segments with pending deletes would resurrect deleted docs
    deleted = None
    if a.deleted is not None or b.deleted is not None:
        parts = [d.select("doc_id") for d in (a.deleted, b.deleted) if d is not None]
        deleted = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1]).distinct()
    term_stats = (
        a.term_stats.unionByName(b.term_stats)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    fs = FieldStats(
        n_docs=a.field_stats.n_docs + b.field_stats.n_docs,
        total_term_freq=a.field_stats.total_term_freq + b.field_stats.total_term_freq,
        max_dl=(
            max(a.field_stats.max_dl, b.field_stats.max_dl)
            if a.field_stats.max_dl is not None
            and b.field_stats.max_dl is not None
            else None
        ),
    )
    if a.norm != b.norm:
        raise ValueError(
            f"cannot merge indexes with different norm modes: "
            f"{a.norm!r} vs {b.norm!r}"
        )
    # numeric dictionaries union like postings (disjoint doc ids); the
    # merged view only keeps the seek path when both sides carry a
    # compatible layout — a one-sided dictionary would silently drop
    # the other side's docs from GranularRange, so it degrades to the
    # stored-column fallback instead (None)
    num_terms = None
    numeric_meta = None
    precision_step = a.precision_step
    if (
        a.num_terms is not None
        and b.num_terms is not None
        and a.numeric_meta == b.numeric_meta
        and a.precision_step == b.precision_step
    ):
        num_terms = a.num_terms.unionByName(b.num_terms)
        numeric_meta = a.numeric_meta
    return InvertedIndex(
        postings=postings,
        docs=docs,
        term_stats=term_stats,
        field_stats=fs,
        with_positions=a.with_positions,
        with_offsets=a.with_offsets,
        with_payloads=a.with_payloads,
        norm=a.norm,
        analyzer_name=a.analyzer_name,
        deleted=deleted,
        num_terms=num_terms,
        numeric_meta=numeric_meta,
        precision_step=precision_step,
        # a disjoint-id-range union is NOT globally sort-ordered even
        # when both inputs were built with the same sort_field (the
        # reference merge_writer re-sorts through the comparator-aware
        # doc_id_map, merge_writer.cpp:266-329; here restoring order
        # means rebuilding via build_index(sort_field=...)). The merged
        # view honestly drops the sorted property.
        sort_field=None,
        n_blocks=(
            a.n_blocks + b.n_blocks
            if a.n_blocks is not None and b.n_blocks is not None
            else None
        ),
    )


def _reblock(
    index: InvertedIndex, bits: int, deleted: DataFrame | None = None
) -> DataFrame:
    """The index's postings re-encoded into full 128-doc blocks on the
    doc-range grid [s << bits, (s+1) << bits), minus the `deleted` doc
    ids. A block goes to every range it overlaps (the
    executor._shard_blocks pattern) and keeps there only its postings
    inside the range; a range's deleted ids ride along as null-term
    rows, which sort ahead of its blocks."""
    cols = ["term", "n_docs", "first_doc", "last_doc", "docs", "dls"]
    if index.with_positions:
        cols.append("positions")
    if index.with_offsets:
        cols.extend(["off_starts", "off_lens"])
    if index.with_payloads:
        cols.extend(["pay_lens", "pay_bytes"])
    rng = F.explode(F.sequence(
        F.shiftright("first_doc", bits), F.shiftright("last_doc", bits)
    ))
    rows = index.postings.select(*cols, rng.alias("_seg"))
    if deleted is not None:
        doc = F.col("doc_id").cast("long")
        rows = rows.unionByName(
            deleted.select(
                doc.alias("first_doc"), F.shiftright(doc, bits).alias("_seg")
            ),
            allowMissingColumns=True,
        )
    return (
        rows.repartition("_seg")
        .sortWithinPartitions("_seg", "term", "first_doc")
        .mapInArrow(
            _make_reblock_gen(
                bits, index.with_positions, index.with_offsets,
                index.with_payloads,
            ),
            POSTINGS_SCHEMA,
        )
    )


def _make_reblock_gen(bits, want_pos, want_offs, want_pay):
    """Partition consumer of _reblock: a task holds one Arrow batch of
    blocks plus the carried trailing (range, term) run — never a whole
    range — and the deleted ids of the ranges still ahead."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: pa.Table | None = None
        dead = np.empty(0, dtype=np.int64)
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl])
                pending = None
            tbl = tbl.combine_chunks()
            gone = pc.is_null(tbl.column("term"))
            if pc.any(gone).as_py():
                dead = np.concatenate(
                    (dead, tbl.filter(gone).column("first_doc").to_numpy())
                )
                tbl = tbl.filter(pc.invert(gone))
            if tbl.num_rows == 0:
                continue
            segs = tbl.column("_seg").to_numpy()
            terms = tbl.column("term").combine_chunks().dictionary_encode()
            codes = terms.indices.to_numpy()
            run = np.flatnonzero(
                (segs[1:] != segs[:-1]) | (codes[1:] != codes[:-1])
            )
            # the trailing (range, term) run may go on in the next batch
            cut = int(run[-1]) + 1 if run.size else 0
            pending = tbl.slice(cut)
            if cut:
                yield from _reblock_batch(
                    tbl.slice(0, cut), bits, dead, want_pos, want_offs,
                    want_pay,
                )
            # later rows belong to this range or later ones
            dead = dead[(dead >> bits) >= segs[-1]]
        if pending is not None:
            yield from _reblock_batch(
                pending, bits, dead, want_pos, want_offs, want_pay
            )

    return gen


def _reblock_batch(tbl, bits, dead, want_pos, want_offs, want_pay):
    """Whole (range, term) runs of block rows -> re-encoded blocks, in
    one encode_postings call: the row codes number the (range, term)
    runs, so two adjacent ranges sharing a term stay apart."""
    d = codec.decode_batch_arrays(tbl, want_pos, want_offs, want_pay)
    n_docs = tbl.column("n_docs").to_numpy()
    seg = np.repeat(tbl.column("_seg").to_numpy(), n_docs)
    doc = d["doc_ids"]
    keep = ((doc >> bits) == seg) & ~np.isin(doc, dead)
    if not keep.any():
        return
    seg, code, doc = seg[keep], d["row_codes"][keep], doc[keep]
    change = np.empty(doc.size, dtype=bool)
    change[0] = True
    change[1:] = (seg[1:] != seg[:-1]) | (code[1:] != code[:-1])
    occ = np.repeat(keep, d["freqs"])
    pos = d["pos_values"][occ] if want_pos else None
    offs = (
        (d["off_start_values"][occ], d["off_len_values"][occ])
        if want_offs else None
    )
    pays = None
    if want_pay:
        lens = d["pay_len_values"]
        pays = (lens[occ], d["pay_byte_slab"][np.repeat(occ, lens)])
    yield encode_postings(
        d["term_dict"].take(pa.array(code[change])), np.cumsum(change) - 1,
        doc, d["freqs"][keep], d["dls"][keep], pos, offs, pays,
    )


def consolidate(index: InvertedIndex, bucket_bits: int = 16) -> InvertedIndex:
    """Rewrite posting blocks into full 128-doc blocks under a (possibly
    coarser) doc-range grid (see _reblock). One shuffle of compact
    blocks keyed by doc range — bounded task memory, skew-proof (SURVEY
    §3.3)."""
    postings = _reblock(index, bucket_bits)
    # the re-encoded blocks still contain deleted docs' postings, so
    # pending deletes must survive as a mask — dropping it here would
    # silently resurrect deleted docs. Callers wanting a mask-free
    # result run purge_deleted first (the consolidate job does).
    return InvertedIndex(
        postings=postings,
        docs=index.docs,
        term_stats=index.term_stats,
        term_sample=index.term_sample,
        term_rows=index.term_rows,
        field_stats=index.field_stats,
        with_positions=index.with_positions,
        with_offsets=index.with_offsets,
        with_payloads=index.with_payloads,
        norm=index.norm,
        analyzer_name=index.analyzer_name,
        deleted=index.deleted,
        num_terms=index.num_terms,
        numeric_meta=index.numeric_meta,
        precision_step=index.precision_step,
        # doc ids are unchanged by re-blocking, so index order survives
        sort_field=index.sort_field,
        sort_ascending=index.sort_ascending,
    )


def purge_deleted(index: InvertedIndex, bucket_bits: int = 16) -> InvertedIndex:
    """Physically drop deleted docs and recompute stats (the
    reference's merge-time doc_id_map skip of deleted docs,
    `merge_writer.cpp:1448-1472`). Until this runs, deletes are
    read-time masks and scoring stats are intentionally stale — the
    reference behaves identically between consolidations."""
    if index.deleted is None:
        return index
    mask = index.deleted.select("doc_id")
    postings = _reblock(index, bucket_bits, mask)
    docs = index.docs.join(mask, "doc_id", "left_anti")
    term_stats, term_rows = block_dictionary(postings)
    # BM25's N = docs_with_field (dl>0), matching build_index — the
    # docs table itself keeps dl=0 rows for AllDocs coverage
    stats_row = docs.agg(
        F.count(F.when(F.col("dl") > 0, True)).alias("n"),
        F.sum("dl").alias("ttf"),
        F.max("dl").alias("mx"),
    ).collect()[0]
    return InvertedIndex(
        postings=postings,
        docs=docs,
        term_stats=term_stats,
        term_rows=term_rows,
        field_stats=FieldStats(
            n_docs=int(stats_row["n"] or 0),
            total_term_freq=int(stats_row["ttf"] or 0),
            max_dl=int(stats_row["mx"] or 0),
        ),
        with_positions=index.with_positions,
        with_offsets=index.with_offsets,
        with_payloads=index.with_payloads,
        norm=index.norm,
        analyzer_name=index.analyzer_name,
        deleted=None,
        num_terms=(
            index.num_terms.join(mask, "doc_id", "left_anti")
            if index.num_terms is not None
            else None
        ),
        numeric_meta=index.numeric_meta,
        precision_step=index.precision_step,
        # purge keeps surviving ids (and hence their relative order)
        sort_field=index.sort_field,
        sort_ascending=index.sort_ascending,
    )
